package graft.tools

import org.apache.spark.sql.functions._

/** One-off scale sanity: synthesize ~10x sf0.1 in memory and run the
  * heaviest operators, watching wall time and plan behavior. Not part of
  * the graded bench — a guard against quadratic surprises.
  */
object StressCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession("ERROR")
    val dir = "/root/testdata/sf0.1"

    def time[A](name: String)(f: => A): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"== $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }

    // `listing` arg: the wide-fanout serve check — per-serve cost must be
    // ~flat in nlist now that the cells scan is rooted at probed partition
    // dirs (O(probed) listing); before r11 a generic read listed all nlist
    // partitions per serve. 2048 dirs is enough to see an O(nlist) term.
    if (args.contains("listing")) {
      val emb = graft.api.Tables.load(spark, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      Seq(64, 512, 2048).foreach { nlist =>
        val path = s"/tmp/graft_stress_ivf_$nlist"
        graft.operators.AnnIndex.ivfBuild(emb, "vec_id", "embedding",
          path, nlist = nlist)
        // warm once (codegen), then time 10 serves
        graft.operators.AnnIndex.ivfServe(spark, path, qs,
          "vec_id", "embedding", 10, nprobe = 4).count()
        time(f"ivfServe x10, nlist=$nlist%-5d") {
          (1 to 10).foreach { _ =>
            graft.operators.AnnIndex.ivfServe(spark, path, qs,
              "vec_id", "embedding", 10, nprobe = 4).count()
          }
        }
      }
      spark.stop()
      return
    }

    // `sync` arg: the CDC-sync fold must cost O(touched cells), not
    // O(index) — r12: SyncFromLog folds TARGETED (only cells holding a
    // tombstoned member are rewritten). Grow the corpus 1x → 16x at a
    // fixed nlist and sync the SAME 8-key tail each time: under the old
    // full-compact fold the sync rewrote the whole index (time ~linear
    // in corpus); under the targeted fold the write is ≤8 cells and the
    // only corpus-sized term is the column-pruned id scan that locates
    // them. Wall time should stay near-flat across the sweep.
    if (args.contains("sync")) {
      val emb = graft.api.Tables.load(spark, dir, "embeddings")
      val vt = emb.schema("embedding").dataType
      Seq(1, 4, 16).foreach { mult =>
        val corpus = (0 until mult).map(i =>
            emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
        val path = s"/tmp/graft_stress_sync_$mult"
        graft.operators.AnnIndex.ivfBuild(corpus, "vec_id", "embedding",
          path, nlist = 64)
        val tail = emb.filter(col("vec_id") < 8)
          .select(col("vec_id"), lit(null).cast(vt).as("embedding"))
          .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
        time(f"ivfSyncFromLog 8-key tail @x$mult%-3d") {
          graft.operators.AnnIndex.ivfSyncFromLog(spark, path, tail,
            "vec_id", "seq", "op", "embedding")
        }
      }
      spark.stop()
      return
    }

    // ~6M lineitem rows (10 copies)
    val li = graft.api.Tables.load(spark, dir, "lineitem")
    val li10 = (0 until 10).map(i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    time("q1 aggregation @6M rows") {
      li10.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), count(lit(1))).collect()
    }
    time("window top-n @6M rows") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_suppkey").orderBy(col("l_extendedprice").desc)
      li10.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).count()
    }

    // 50k docs (10 copies with distinct ids)
    val docs = graft.api.Tables.load(spark, dir, "documents")
    val docs10 = (0 until 10).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    time("minhash LSH pairs @50k docs") {
      graft.operators.Dedup.minhashLshPairs(docs10, "doc_id", "text", 0.9).count()
    }
    time("minhash LSH est-verify @50k") {
      graft.operators.Dedup.minhashLshPairs(docs10, "doc_id", "text", 0.9,
        verifyExact = false).count()
    }
    time("simhash @50k docs") {
      graft.operators.Dedup.simhashSignatures(docs10, "doc_id", "text").count()
    }

    // 20k embeddings (10 copies)
    val emb = graft.api.Tables.load(spark, dir, "embeddings")
    val emb10 = (0 until 10).map(i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    time("brute topk 5q @20k vecs") {
      graft.operators.Similarity.bruteForceTopK(emb10,
        emb10.filter(col("vec_id") < 5), "vec_id", "embedding", 10).count()
    }
    time("LSH ANN 5q @20k vecs") {
      graft.operators.Similarity.lshTopK(emb10,
        emb10.filter(col("vec_id") < 5), "vec_id", "embedding", 10).count()
    }
    time("cross-corpus decontam @50k/500") {
      // 50k candidates against a 500-doc "eval set" (every 10th source doc)
      graft.operators.Dedup.decontaminate(docs10,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 0.7).count()
    }
    time("dup clusters @50k docs") {
      graft.operators.Dedup.duplicateClusters(
        graft.operators.Dedup.minhashLshPairs(docs10, "doc_id", "text", 0.9)).count()
    }
    time("cross decontam est @50k/500") {
      graft.operators.Dedup.crossCorpusPairs(docs10,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 0.7,
        verifyExact = false).count()
    }
    time("ngram decontam @50k/500") {
      graft.operators.Dedup.decontaminateNgram(docs10,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 8).count()
    }
    time("shuffle shards @50k docs") {
      graft.operators.Curation.shuffleShards(docs10, "doc_id", 64).count()
    }
    time("domain mix @50k docs") {
      graft.operators.Curation.domainMix(docs10, "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.05),
        10000L).count()
    }
    time("repetition signals @50k docs") {
      graft.operators.TextAnalysis.repetition(docs10, "doc_id", "text").count()
    }
    time("BPE-ish token counts @50k docs") {
      graft.operators.TextAnalysis.tokenCounts(docs10, "doc_id", "text").count()
    }
    time("PQ ANN 5q @20k vecs") {
      graft.operators.Similarity.pqTopK(emb10,
        emb10.filter(col("vec_id") < 5), "vec_id", "embedding", 10).count()
    }
    time("embedding LSH top-pairs @20k") {
      graft.operators.Dedup.embeddingTopPairsLsh(emb10, "vec_id", "embedding", 20).count()
    }
    time("BMP decode+features @50k docs") {
      graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.withBmpPayload(docs10, "doc_id", "text"),
        "doc_id").count()
    }
    time("mean pooling @20k vecs") {
      graft.operators.Embeddings.meanPool(emb10, "label", "embedding").count()
    }
    time("int8 quantize @20k vecs") {
      graft.operators.Embeddings.quantizeInt8(emb10, "embedding")
        .agg(sum(col("qscale"))).collect()
    }
    // Pathological skew: ~90% of 6M rows share one key. The salted
    // two-phase aggregation spreads the hot key over 16 reducers; the
    // direct groupBy funnels it through one. (AQE mitigates moderate
    // skew at runtime; the salt is the explicit-plan lever.)
    val skewed = li10.withColumn("k",
      when(col("l_orderkey") % 10 < 9, lit(0L)).otherwise(col("l_suppkey")))
    time("direct agg, 90% hot key @6M") {
      skewed.groupBy("k").agg(sum("l_quantity"), count(lit(1))).count()
    }
    time("salted agg, 90% hot key @6M") {
      graft.operators.Scale.saltedSum(skewed, "k", "l_quantity").count()
    }
    time("key profile @6M rows") {
      graft.operators.Scale.keyProfile(li10, "l_suppkey", 20).count()
    }
    // emb10 duplicates every vector 10x: every doc lands in a 10-member
    // dup group — worst-case density for the cluster-then-prune path
    time("semantic dedup @20k vecs (all dup)") {
      graft.operators.Dedup.semanticDedup(emb10, "vec_id", "embedding",
        nlist = 64, maxCellSize = Some(1000)).count()
    }
    time("kNN graph @20k vecs") {
      graft.operators.Similarity.knnGraph(emb10, "vec_id", "embedding", 5,
        nlist = 128, nprobe = 8).count()
    }
    // every 8-gram is corpus-duplicated -> maximal position marking
    time("duplicate spans @50k docs") {
      graft.operators.Dedup.duplicateSpans(docs10, "doc_id", "text").count()
    }
    time("containment pairs @50k docs") {
      graft.operators.Dedup.containmentPairs(docs10, "doc_id", "text", 0.9,
        maxShingleFreq = Some(200)).count()
    }
    time("incremental dedup 500-doc batch vs @50k") {
      graft.operators.Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 10 === 0), docs10, "doc_id", "text", 0.7,
        verifyExact = false).count()
    }
    time("stream vs-corpus hits 500 vs @50k") {
      val idx = graft.streaming.StreamDedup.corpusBandIndex(
        docs10, "doc_id", "text")
      graft.streaming.StreamDedup.vsCorpusHits(
        docs.filter(col("doc_id") % 10 === 0), idx, "doc_id", "text", 0.7).count()
    }
    time("quality flags @50k docs") {
      graft.operators.TextAnalysis.qualityFlags(docs10, "doc_id", "text").count()
    }
    time("contrastive triplets @50k docs") {
      val prs = graft.operators.Dedup.minhashLshPairs(docs10, "doc_id", "text",
        0.9, verifyExact = false)
      graft.operators.Curation.contrastiveTriplets(docs10, prs, "doc_id").count()
    }
    spark.stop()
    println("== stress OK")
  }
}
