package graft.tools

import org.apache.spark.sql.functions._

/** Recall@10-vs-nprobe at sf1 (the synthesized 10× corpus), TRAINED
  * (k-means, seed 42) vs DETERMINISTIC (id-sampled) coarse quantizer —
  * the measured basis for SCALE.md's trained-cells column. Both indexes
  * are built over the SAME sf1 embeddings at the serve-probe posture
  * (nlist = 640: nlist grows with the corpus, constant cell size) and
  * swept by `AnnIndex.tuneIvf` on the same sampled query set, so the
  * only variable is how the centroids were derived.
  *
  * Run `graft.tools.BenchSf1` first (it materializes /tmp/graft_sf1);
  * this tool fails loudly if the corpus is absent rather than silently
  * pricing a stale or partial one.
  */
object RecallTable {
  def main(args: Array[String]): Unit = {
    val sf1Dir = "/tmp/graft_sf1"
    require(new java.io.File(s"$sf1Dir/embeddings.parquet").exists(),
      s"sf1 corpus missing at $sf1Dir — run graft.tools.BenchSf1 first")
    val spark = graft.LocalSession("ERROR")

    val emb = spark.read.parquet(s"$sf1Dir/embeddings.parquet")
    val sample = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet")
      .filter(col("vec_id") % 100 === 7)
    val nlist = 640
    val nprobes = Seq(1, 4, 8, 16, 64)
    val detPath = "/tmp/graft_r13_recall/det"
    val trnPath = "/tmp/graft_r13_recall/trained"

    def sweep(path: String, trained: Boolean): Map[Int, Long] = {
      val t0 = System.nanoTime()
      graft.operators.AnnIndex.ivfBuild(emb, "vec_id", "embedding", path,
        nlist = nlist,
        trainedSeed = if (trained) Some(42L) else None)
      val buildS = (System.nanoTime() - t0) / 1e9
      println(f"== built ${if (trained) "trained" else "deterministic"} " +
        f"index in $buildS%.1f s")
      graft.operators.AnnIndex.tuneIvf(spark, path, sample,
          "vec_id", "embedding", 10, nprobes)
        .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
    }

    val det = sweep(detPath, trained = false)
    val trn = sweep(trnPath, trained = true)
    println(f"== recall@10 (pct x100) at sf1, nlist=$nlist, " +
      f"${sample.count()} sampled queries")
    println("| nprobe | deterministic | trained (k-means) |")
    println("|--------|---------------|-------------------|")
    nprobes.foreach { p =>
      println(f"| $p%6d | ${det(p)}%13d | ${trn(p)}%17d |")
    }
    spark.stop()
  }
}
