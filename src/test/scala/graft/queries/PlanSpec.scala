package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: these are the properties that keep the
  * operators viable at 100 TB, asserted so a regression in plan shape
  * fails CI, not just slows production.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = graft.SparkTestBase.spark
  val dir = "/root/testdata/sf0.001"

  def planOf(name: String, execute: Boolean = false): String = {
    val df: DataFrame = QueryCatalog.all(name)(spark, dir)
    if (execute) df.collect() // let AQE finalize so codegen spans appear
    df.queryExecution.executedPlan.toString
  }

  test("connector scan: filters and columns are pushed to the service") {
    val p = planOf("ref_scan_pushdown")
    assert(p.contains("pushedFilters=[IsNotNull(o_totalprice), GreaterThan(o_totalprice,150000.0)]"), p)
    assert(p.contains("outFields=[o_orderkey,o_totalprice]"), p)
  }

  test("parquet scan: predicate and projection pushdown reach the file scan") {
    import org.apache.spark.sql.functions._
    val df = graft.api.Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > to_timestamp(lit("1998-06-30 00:00:00")))
      .select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double"), p)
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val p = planOf("q_join_agg_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Q5 six-table join: dims broadcast, partial aggregation") {
    val p = planOf("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("global top-k plans as TakeOrdered, not a single-partition sort") {
    val p = planOf("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("embedding top-pairs: LSH-bucketed, no cartesian, no global window") {
    val p = planOf("x_dedup_embedding_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    // VecDot must be codegen'd, not a fallback eval
    assert(p.contains("vecdot") || p.contains("VecDot"), p)
    // the corpus×corpus product must never be formed — candidates come
    // from LSH bucket joins only
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("brute-force similarity broadcasts the query side") {
    val p = planOf("x_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("signature-registry serve: batch keys broadcast; corpus never sort-merge joins") {
    val p = planOf("x_dedup_sig_persisted")
    // the batch side (keys + signatures) rides broadcasts; the registry
    // streams through semi-join filters — a SortMergeJoin here means the
    // corpus-sized signature table started shuffling toward the batch
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("calibration serve: model-sized inequality join stays broadcast") {
    val p = planOf("x_quality_calibrate_serve")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bitext mining: one broadcast scoring pass, exactly two data shuffles") {
    val p = planOf("x_bitext_margin")
    // source side broadcast into the scoring pass
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // rank + top-k-sum windows are PAIRED per partitioning: the whole
    // margin tail is the sid exchange and the tid exchange — a third
    // hash exchange means a window stopped sharing its partner's
    // shuffle (the final presentation sort is range partitioning)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx\n$p")
  }

  test("bm25: query terms broadcast; ranking never globally sorts") {
    val p = planOf("x_text_bm25")
    // the query-term list is the tiny side of every join — the corpus tf
    // table must not shuffle toward it
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("token chunking is a shuffle-free projection (no Exchange before the explode)") {
    val p = planOf("x_chunk_tokens")
    // orderBy in the catalog query adds the final presentation sort; the
    // chunking itself must contribute no Exchange — exactly one (range)
    // exchange total
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("Window"), p)
  }

  test("corpus drift: token-count join + TakeOrdered, corpus rows never move") {
    val p = planOf("x_corpus_drift")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("norm outliers: rank cutoffs are TakeOrdered + broadcast bounds, no global sort of the corpus") {
    val p = planOf("x_emb_norm_outliers")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"), p)
  }

  test("subword tokenize: segmentation is a projection; only the count aggregate shuffles") {
    val p = planOf("x_subword_tokenize")
    assert(p.contains("subwordencode") || p.contains("SubwordEncode"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("aggregations use partial (map-side) aggregation and codegen") {
    val p = planOf("q1_pricing_summary", execute = true)
    // two HashAggregate levels = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("*(")) // whole-stage-codegen span markers
  }

  test("cross-corpus decontamination broadcasts the reference side") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = graft.api.Tables.load(spark, dir, "documents")
    val lazyReport = Dedup.crossCorpusPairs(docs,
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", 0.7,
      materialize = false)
    val p = lazyReport.queryExecution.executedPlan.toString
    // the band join and verify join ship the (small) reference side;
    // the candidate corpus must never be the broadcast side's driver
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("n-gram decontamination broadcasts the reference shingle set") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = graft.api.Tables.load(spark, dir, "documents")
    val report = Dedup.ngramOverlapReport(docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", n = 8,
      materialize = false) // lazy: inspect the plan, not the checkpoint scan
    val p = report.queryExecution.executedPlan.toString
    // the candidate corpus joins against a broadcast reference set — the
    // training side must never shuffle on the shingle in the default shape
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("DSIR weighting broadcasts the vocab-sized ratio table") {
    import org.apache.spark.sql.functions._
    import graft.operators.Curation
    val docs = graft.api.Tables.load(spark, dir, "documents")
    val scored = Curation.dsirWeights(docs,
      docs.filter(col("source") === "src0"), "doc_id", "text")
    val p = scored.queryExecution.executedPlan.toString
    // the corpus token explosion joins a BROADCAST ratio table — the
    // exploded corpus must never shuffle on the token
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semantic dedup: cell pair mining joins on the cell key, never cartesian") {
    import graft.operators.Dedup
    val emb = graft.api.Tables.load(spark, dir, "embeddings")
    val p = Dedup.semanticDedup(emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental dedup: the batch is the broadcast side, the corpus streams") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = graft.api.Tables.load(spark, dir, "documents")
    // the vs-corpus half is crossCorpusPairs with ref = batch; its lazy
    // plan must broadcast the (small) batch tables — the existing corpus
    // must never be shuffled to meet the increment
    val lazyReport = Dedup.crossCorpusPairs(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", 0.7, materialize = false)
    val p = lazyReport.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("domain mix windows per domain — no global (unpartitioned) window") {
    val p = planOf("x_domain_mix")
    assert(p.contains("Window"), p)
    // the rank evaluates over a hash-partitioned domain shuffle
    assert(p.contains("hashpartitioning(lang"), p)
  }

  test("LSH signature aggregation is one typed agg, not a 128-wide or exploded shape") {
    import graft.operators.Dedup
    val docs = graft.api.Tables.load(spark, dir, "documents")
    val lazyPairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7,
      materialize = false)
    val p = lazyPairs.queryExecution.executedPlan.toString
    // the whole 128-hash family folds in ObjectHashAggregate buffers (one
    // input row per shingle; partial merge map-side)
    assert(p.contains("ObjectHashAggregate"), p)
    // verification still partial-aggregates with codegen
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // no 128-column-wide aggregate and no per-seed row explosion
    assert(!p.contains("mh64"), p)
    assert(!p.toLowerCase.contains("seed"), p)
  }

  test("IVF cell assignment is a shuffle-free projection (no Exchange, no Window)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = graft.api.Tables.load(spark, dir, "embeddings")
    val cents = emb.select(col("vec_id").cast("long").as("cid"),
        col("embedding").cast("array<double>").as("cvec"))
      .withColumn("cnorm", graft.functions.VectorFunctions.vec_norm(col("cvec")))
      .orderBy("cid").limit(4)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val cells = Similarity.assignCells(emb, "vec_id", "embedding", cents)
    val p = cells.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
  }

  test("PQ encode is a shuffle-free projection (no Exchange, no joins)") {
    import graft.operators.Similarity
    val emb = graft.api.Tables.load(spark, dir, "embeddings")
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding")
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val p = codes.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("embedding decontamination: both ref sides broadcast, no cartesian") {
    // the eval set's signatures AND its quantized vectors ship as
    // broadcasts; the corpus never joins without a key
    val p = planOf("x_decontam_embedding")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("streaming drift (batch plan): one aggregate pair, chi2 is a projection") {
    // per-category conditional sums ride the single windowed aggregation
    // (partial + final); the chi-square fold adds NO further exchange
    import org.apache.spark.sql.functions._
    val ev = graft.api.Tables.load(spark, dir, "events")
    val p = graft.streaming.StreamDrift.windowedChiSquare(ev,
        Map("click" -> 1L, "view" -> 2L))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Window ") && !p.contains("Join"), p)
  }

  test("Q6 scan-only query: every predicate reaches the parquet scan") {
    val p = planOf("q6_forecast_revenue")
    // date range, discount band, and quantity cap all pushed — the scan
    // IS the query; no join, no shuffle beyond the final 1-row agg.
    // (toString truncates the PushedFilters list, so assert on its
    // visible prefix: all three columns' IsNotNull guards + the range.)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("Q7 double-aliased dimension joins broadcast") {
    val p = planOf("q7_volume_shipping")
    // nation joined twice under different roles: both stay broadcast;
    // the fact chain never shuffles toward a dimension
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q19 disjunctive predicate keeps the equi-join (no cartesian)") {
    val p = planOf("q19_disjunctive_revenue")
    // the OR of brand/size/quantity bundles must not break the
    // p_partkey = l_partkey equi-join into a nested-loop product
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q22 anti-join plans as a real anti join, not a filter-after-join") {
    val p = planOf("q22_dormant_customers")
    assert(p.contains("LeftAnti"), p)
  }

  test("Q13 keeps the outer join outer (zero-order customers survive)") {
    val p = planOf("q13_customer_distribution")
    assert(p.contains("LeftOuter") || p.contains("RightOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q15 argmax gate joins the 1-row max as a broadcast, never a shuffle") {
    val p = planOf("q15_top_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q17 per-part stats and probe share the partkey exchange shape") {
    val p = planOf("q17_small_quantity_revenue")
    // the brand dimension stays broadcast; the correlated-aggregate
    // decorrelation must not plan a nested-loop product
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ORC scans push filters and prune columns like parquet") {
    import org.apache.spark.sql.functions._
    val orcDir = "/tmp/graft_orc_planspec"
    graft.api.Tables.load(spark, dir, "documents")
      .write.mode("overwrite").orc(orcDir)
    val p = spark.read.orc(orcDir)
      .filter(col("doc_id") > 100).select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p)
  }

  test("event funnel: every stage join is keyed (no nested-loop product)") {
    val p = planOf("x_event_funnel")
    // the 1-row stage-count combination is BNLJ by design (crossJoin of
    // four aggregates); the USER-KEYED stage joins must not be
    val keyed = "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
    assert(keyed.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hosted write with key requires ordered range distribution") {
    // The write declares RequiresDistributionAndOrdering; Spark plans a
    // range repartition by key before the write tasks.
    import org.apache.spark.sql.functions._
    import graft.api.HostedTables
    import graft.core.WriteMode
    graft.sinks.HostedStore.dropByTitle("planspec_tbl")
    val df = spark.range(1000).select(col("id").as("k"), rand(7).as("v"))
    val id = HostedTables.createTable(df, "planspec_tbl", Some("k"))
      .fold(e => fail(e), identity)
    val report = HostedTables.write(df, id, WriteMode.Upsert, Some("k")).fold(e => fail(e), identity)
    val ranges = report.filter(_.rows > 0).map(m => (m.minKey.toLong, m.maxKey.toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping ranges: $ranges")
      case _                       =>
    }
  }

  test("CDC snapshot: max_by partial-aggregates map-side, no window over the log") {
    val p = planOf("x_cdc_snapshot")
    assert(!p.contains("Window"), p)
    // the property that survives a billion-row log: superseded versions
    // collapse BEFORE the exchange (partial_max_by below it, final
    // max_by above it) — struct-valued max_by plans as SortAggregate,
    // which is fine; a per-key row_number Window would not partial-agg
    assert(p.contains("partial_max_by"), p)
    assert("max_by".r.findAllIn(p).size >= 2, p)
  }

  test("trained SQ8: the dim-sized grid broadcasts back, never shuffles the corpus side twice") {
    val p = planOf("x_emb_sq8")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("record linkage: block-keyed join, no cartesian, no global window") {
    val p = planOf("x_entity_resolution")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("tombstoned IVF serve: broadcast anti-join, partition pruning intact") {
    val p = planOf("x_sim_ivf_deleted")
    // the deletion sidecar is bounded policy data: it must broadcast
    // into a LeftAnti hash join, never shuffle the index side
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the probed-cid partition filter survives the anti-join: the scan
    // still prunes to the probed inverted lists
    assert(p.contains("PartitionFilters: [cid"), p)
  }

  test("maxsim: rank exchange carries scores only, never token matrices") {
    val p = planOf("x_retrieval_maxsim")
    // one broadcast of the bounded query side; the corpus is never
    // shuffled with its token arrays — the window exchange moves
    // (qid, id, score) rows
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(l => l.contains("__dt") || l.contains("toks")),
      s"token matrices cross the rank exchange:\n${exchanges.mkString("\n")}")
    // the kernel is codegen'd (no fallback eval)
    assert(p.toLowerCase.contains("vecmaxsim") ||
      p.toLowerCase.contains("vec_maxsim"), p)
  }

  test("pruned maxsim: pooled stage exchanges 16-dim sums, exact stage is shortlist-sized") {
    val p = planOf("x_retrieval_maxsim_pruned")
    // stage 2's query-side join broadcasts; no cartesian beyond the
    // deliberate pooled query broadcast
    assert(!p.contains("SortMergeJoin"), p)
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!exchanges.exists(_.contains("__qt")),
      s"query token matrices cross an exchange:\n${exchanges.mkString("\n")}")
  }

  test("HTML extraction stays one whole-stage-codegen projection (no shuffle)") {
    // gate the OPERATOR, not the catalog entry — the entry's final
    // orderBy adds a presentation-only range exchange
    import org.apache.spark.sql.functions._
    val docs = graft.api.Tables.load(spark, dir, "documents")
    val p = graft.operators.HtmlText.extract(
        docs.select(col("doc_id"), col("text").as("html")), "doc_id", "html")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    // codegen'd nodes print with the "*(n)" stage prefix
    assert(p.contains("*(1) Project"), p)
  }

  test("binned range join: keyless containment plans as an equi-join, never BNL") {
    // the whole point of bin-and-refine — the bare inequality join's
    // only Spark plan is BroadcastNestedLoopJoin; the binned form must
    // hash/broadcast-join on the bin key with the range as a residual
    val p = planOf("x_range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }
}
