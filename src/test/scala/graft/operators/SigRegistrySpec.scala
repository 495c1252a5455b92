package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the band-partitioned signature registry (r16): a serve must be
  * ROW-IDENTICAL to [[Dedup.dedupeAgainstSignatures]] over the same live
  * membership (the flat-registry kernel is the semantics oracle), while
  * its registry reads are partition-rooted — the whole point of the
  * layout is that a bounded batch touches O(its band buckets) of the
  * bands table and O(its candidates' buckets) of the signature bulk,
  * never a linear scan with per-serve band-key re-derivation.
  */
class SigRegistrySpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  val dir = "/root/testdata/sf0.001"

  private def docs = graft.api.Tables.load(spark, dir, "documents")
  private def corpus = docs.filter(col("doc_id") % 5 =!= 0)
  private def batch = docs.filter(col("doc_id") % 5 === 0)

  private def rmRec(path: String): Unit = graft.core.ParquetStage.rmRec(path)

  private def served(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("doc_id").cast("long"), col("corpus_id").cast("long"),
        col("n_agree").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  /** The flat-kernel reference over the registry's LIVE signature rows. */
  private def plainServe(reg: org.apache.spark.sql.DataFrame,
                         b: org.apache.spark.sql.DataFrame,
                         base: Dedup.Hashers.Base): Seq[(Long, Long, Long)] =
    served(Dedup.dedupeAgainstSignatures(b, reg.select("doc_id", "sig"),
      "doc_id", "text", 0.7, base = base))

  test("build + serve equals the flat dedupeAgainstSignatures kernel row for row") {
    val path = "/tmp/graft_test_sigreg_eq"
    rmRec(path)
    Dedup.buildSigRegistry(corpus, "doc_id", "text", path,
      base = Dedup.Hashers.xx64Base)
    val got = served(Dedup.serveSigRegistry(spark, path, batch,
      "doc_id", "text"))
    val want = plainServe(
      spark.read.parquet(AnnIndex.resolveDir(spark, path, "sigs")),
      batch, Dedup.Hashers.xx64Base)
    assert(got.nonEmpty, "fixture found no near-dups — vacuous equality")
    assert(got == want)
  }

  test("append lands O(batch) in routed partitions; serve equals a one-shot build") {
    val pathInc = "/tmp/graft_test_sigreg_app"
    val pathFull = "/tmp/graft_test_sigreg_appfull"
    rmRec(pathInc); rmRec(pathFull)
    Dedup.buildSigRegistry(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", pathInc)
    Dedup.appendSigRegistry(corpus.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", pathInc)
    Dedup.buildSigRegistry(corpus, "doc_id", "text", pathFull)
    val inc = served(Dedup.serveSigRegistry(spark, pathInc, batch,
      "doc_id", "text"))
    val full = served(Dedup.serveSigRegistry(spark, pathFull, batch,
      "doc_id", "text"))
    assert(inc.nonEmpty && inc == full)
    // routed layout on disk: hash-bucket dirs, not a flat file pile
    val fs = new org.apache.hadoop.fs.Path(pathInc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partDirs(name: String, pfx: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(
          AnnIndex.resolveDir(spark, pathInc, name)))
        .count(_.getPath.getName.startsWith(pfx))
    assert(partDirs("sigs", "sp=") >= 2, "sigs not sp-partitioned")
    assert(partDirs("bands", "bk=") >= 2, "bands not bk-partitioned")
  }

  test("tombstoned docs vanish from the serve; compact folds serve-neutrally") {
    val path = "/tmp/graft_test_sigreg_tomb"
    rmRec(path)
    Dedup.buildSigRegistry(corpus, "doc_id", "text", path)
    val full = served(Dedup.serveSigRegistry(spark, path, batch,
      "doc_id", "text"))
    assert(full.exists(_._2 % 3 == 0),
      "fixture has no flagged corpus doc with id % 3 == 0 — vacuous")
    Dedup.tombstoneSignatures(
      corpus.filter(col("doc_id") % 3 === 0).select("doc_id"), path)
    val afterTomb = served(Dedup.serveSigRegistry(spark, path, batch,
      "doc_id", "text"))
    assert(afterTomb.nonEmpty && afterTomb.forall(_._2 % 3 != 0))
    assert(afterTomb == full.filter(_._2 % 3 != 0),
      "sidecar suppression must remove exactly the tombstoned docs")
    // compact folds the sidecar into BOTH components; serve unchanged
    Dedup.compactSigRegistry(spark, path)
    val afterCompact = served(Dedup.serveSigRegistry(spark, path, batch,
      "doc_id", "text"))
    assert(afterCompact == afterTomb)
    // the folded layout keeps its partitioning (versioned publish)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sigsDir = AnnIndex.resolveDir(spark, path, "sigs")
    assert(sigsDir.contains("__v"), s"compact did not version-publish: $sigsDir")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(sigsDir))
      .exists(_.getPath.getName.startsWith("sp=")))
    // and the bands rows of tombstoned docs are physically gone
    val bandIds = spark.read
      .parquet(AnnIndex.resolveDir(spark, path, "bands"))
      .select("doc_id").distinct().collect().map(_.getLong(0))
    assert(bandIds.nonEmpty && bandIds.forall(_ % 3 != 0))
  }

  test("serve reads are partition-ROOTED: a small batch lists only its buckets") {
    val path = "/tmp/graft_test_sigreg_rooted"
    rmRec(path)
    Dedup.buildSigRegistry(corpus, "doc_id", "text", path,
      bandBuckets = 64, sigBuckets = 32)
    val one = batch.orderBy("doc_id").limit(1)
    // the bands scan executes inside the serve's bounded checkpoint
    // jobs, not the final collect plan — capture EVERY executed plan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val finalPlan =
      try {
        val q = Dedup.serveSigRegistry(spark, path, one, "doc_id", "text")
        q.collect()
        // the listener bus is async: wait until it delivered every plan
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        q.queryExecution.executedPlan.toString
      } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq :+ finalPlan
    def rootedAt(name: String, pfx: String, maxPaths: Int): Unit = {
      val loc = all.iterator.flatMap(_.linesIterator)
        .find(l => l.contains("Location") && l.contains(s"/$name"))
        .getOrElse(fail(s"no $name scan location in any serve plan"))
      assert(loc.contains(pfx),
        s"$name scan not rooted at $pfx partition dirs: $loc")
      val nPaths = "\\((\\d+) paths\\)".r
        .findFirstMatchIn(loc).map(_.group(1).toInt)
      assert(nPaths.exists(n => n >= 1 && n <= maxPaths),
        s"$name scan rooted at $nPaths dirs — looks like the whole " +
          s"registry, not the touched buckets: $loc")
    }
    // one doc → 16 band keys → ≤16 of 64 band buckets; its candidate
    // set's sigs live in ≤16 of 32 signature buckets
    rootedAt("bands", "bk=", 16)
    rootedAt("sigs", "sp=", 16)
    // stored band keys are READ, never re-derived: no plan that scans
    // the registry's bands may contain the posexplode band derivation
    // (the batch's own bKeys checkpoint legitimately does)
    all.filter(_.contains("/bands")).foreach(p =>
      assert(!p.toLowerCase.contains("posexplode"),
        s"serve re-derives band keys over the registry:\n$p"))
  }

  test("meta pins the hash family; a flat path fails loudly") {
    val path = "/tmp/graft_test_sigreg_meta"
    rmRec(path)
    Dedup.buildSigRegistry(corpus, "doc_id", "text", path,
      base = Dedup.Hashers.md5Base)
    val m = Dedup.readSigMeta(spark, path)
    assert(m == Dedup.SigRegMeta(128, 16, 3, "md5", 64, 32))
    // md5 family round-trips through the persisted name
    val got = served(Dedup.serveSigRegistry(spark, path, batch,
      "doc_id", "text"))
    val want = plainServe(
      spark.read.parquet(AnnIndex.resolveDir(spark, path, "sigs")),
      batch, Dedup.Hashers.md5Base)
    assert(got.nonEmpty && got == want)
    val e = intercept[IllegalArgumentException] {
      Dedup.serveSigRegistry(spark, "/tmp/graft_test_sigreg_nometa",
        batch, "doc_id", "text")
    }
    assert(e.getMessage.contains("buildSigRegistry"), e.getMessage)
  }
}
