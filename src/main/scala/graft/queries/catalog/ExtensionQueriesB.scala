package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{HostedTables, Tables}
import graft.core.{Chunker, ServiceName, WriteMode}
import graft.operators.{Calibration, Cdc, Curation, Dedup, Embeddings, GraphOps, HtmlText, Multimodal, Profiling, Regression, Scale, Similarity, Sketches, TextAnalysis}
import graft.sinks.HostedStore
import graft.streaming.EventStreams

/** LLM-pipeline extension queries, part B (graph, retrieval, ANN lifecycles, text analysis).
  *
  * Part of the QueryCatalog split (r12): entries are verbatim from the
  * pre-split catalog; shared fixtures/SQL builders live in
  * [[CatalogHelpers]]; [[QueryCatalog]] assembles the public maps.
  */
private[queries] object ExtensionQueriesB {
  import CatalogHelpers._

  val entries: Map[String, Q] = Map(

    "x_skew_profile" -> ((s, dir) =>
      // Heavy-hitter key diagnostic: top-20 order keys by lineitem row
      // count with integer ppm share — the pre-join skew check.
      Scale.keyProfile(t(s, dir, "lineitem"), "l_orderkey", 20)
        .orderBy(col("n").desc, col("key"))),

    "x_pipeline_semantic" -> ((s, dir) => {
      // Second end-to-end composite, over THIS round's operators: rule-
      // bundle quality gate -> semantic dedup of the SURVIVORS' embeddings
      // (centroids re-seeded on the filtered set) -> exemplar-or-unique
      // survivor list. One DataFrame program, one DuckDB oracle chain.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      // the quality gate feeds THREE consumers (embedding join, final
      // survivor join, and semanticDedup's centroid collect) — checkpoint
      // it once instead of re-running the corpus-wide flag aggregations
      val kept = TextAnalysis.qualityFlags(docs, "doc_id", "text")
        .filter(col("keep")).select("doc_id", "n_tokens")
        .localCheckpoint(true)
      val vecs = emb.join(kept.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      val clusters = Dedup.semanticDedup(vecs, "vec_id", "embedding",
          thresholdNum = semThreshNum, thresholdDen = semThreshDen,
          nlist = semNlist, maxCellSize = Some(semCellCap))
        .select(col("doc_id").as("__cid"), col("keep").as("__k"))
      kept.join(clusters, col("doc_id") === col("__cid"), "left")
        .filter(col("__k").isNull || col("__k"))
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    }),

    "x_pipeline_rag" -> ((s, dir) => {
      // Third end-to-end composite, over THIS round's operators: the RAG
      // ingestion pipeline — NB-margin quality gate → overlapping token
      // chunking of the survivors → per-chunk token counts under the
      // induced BPE subword vocab. One DataFrame program; the oracle
      // replays classifier, chunker, and greedy tokenizer in one chain.
      val docs = t(s, dir, "documents")
      val kept = docs.join(
        TextAnalysis.nbQualityScore(docs,
            docs.filter(col("source") === "src0"),
            docs.filter(col("source") =!= "src0"), "doc_id", "text")
          .filter(col("score") > 0).select("doc_id"),
        Seq("doc_id"))
      val chunks = Curation.chunkTokens(kept, "doc_id", "text", 32, 24)
      val vocab = TextAnalysis.bpePairCounts(docs, "text", 50)
        .collect().map(_.getString(0)).toSeq
      chunks.select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("n_tokens"), explode(split(col("chunk"), " ")).as("w"))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("n_tokens"),
          size(graft.functions.TextFunctions.subword_encode(col("w"),
            vocab.toArray)).as("k"))
        .groupBy("doc_id", "chunk_id", "start_tok", "n_tokens")
        .agg(sum(col("k")).as("n_subwords"))
        .orderBy("doc_id", "chunk_id")
    }),

    "x_pipeline_curate" -> ((s, dir) => {
      // FLAGSHIP composite: the whole training-data curation pipeline in
      // one query — quality gate → exact dedup → 8-gram decontamination
      // vs the eval split → domain mix → token budget → export shards.
      // Every stage is deterministic (exact predicates + md5 priority),
      // so ONE DuckDB oracle replays the pipeline end to end. This is the
      // composability proof: the operators chain as plain DataFrames with
      // no materialization boundaries between stages.
      val budgeted = curateStages(s, dir).last._2
      Curation.shuffleShards(
          budgeted.select("doc_id", "lang", "n_tokens", "cum_before"),
          "doc_id", 4)
        .orderBy("doc_id")
    }),

    "x_pipeline_observe" -> ((s, dir) => {
      // In-flight pipeline observability via Spark's observe() API:
      // input-side metrics (row count, char mass) accumulate DURING the
      // same pass that computes the gated output — accumulator-backed,
      // NO second scan of the input. At 100 TB this is the difference
      // between metrics-for-free and re-reading the corpus to count it.
      // The four scalars are bounded metadata (an Observation row, like
      // the BPE argmax), not row data.
      val docs = t(s, dir, "documents")
      val obs = org.apache.spark.sql.Observation(s"curate_obs_${System.nanoTime()}")
      val gated = docs
        .observe(obs, count(lit(1)).as("n_in"),
          sum(length(col("text"))).cast("long").as("chars_in"))
        .filter(col("n_chars") >= 100)
      val out = gated.agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("text"), " "))).cast("long").as("tokens_kept"))
        .head()
      val m = obs.get
      import s.implicits._
      Seq((m("n_in").asInstanceOf[Long], m("chars_in").asInstanceOf[Long],
        out.getLong(0), out.getLong(1)))
        .toDF("n_in", "chars_in", "n_kept", "tokens_kept")
    }),

    "x_pipeline_funnel" -> ((s, dir) =>
      // Per-stage attrition report over the SAME stage frames as the
      // flagship composite (shared builder — the two entries cannot
      // drift): rows surviving each stage and rows dropped by it, the
      // audit artifact a curation run ships with its output.
      Curation.funnelReport(curateStages(s, dir)).orderBy("stage_no")),

    "x_dedup_best" -> ((s, dir) => {
      // Keep-best-per-cluster: same capped jaccard mining + connected
      // components as x_dedup_clusters, canonical doc re-picked by
      // n_chars (longest copy wins, ties to the smallest id).
      val docs = t(s, dir, "documents")
      Dedup.bestPerCluster(
          Dedup.duplicateClusters(Dedup.jaccardPairs(docs, "doc_id", "text", 0.6,
            maxShingleFreq = Some(jaccardFreqCap))),
          docs.select("doc_id", "n_chars"), "doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    "x_layout_zorder" -> ((s, dir) => {
      // Morton values over bucketized (custkey, orderkey): the write-side
      // layout key that lets footer stats prune on either dimension.
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"), col("o_custkey"),
          graft.operators.Scale.zValue(pmod(col("o_custkey"), lit(1024L)),
            pmod(col("o_orderkey"), lit(1024L)), 10).as("z"))
        .orderBy("o_orderkey")
    }),

    "x_layout_prunestats" -> ((s, dir) => { // oracle: census replay over the staged layout
      // FILE SKIPPING, MEASURED: orders written in z-order of
      // (custkey, orderkey) buckets, 64 z-range units (top-6 Morton
      // bits as a hive bucket — the deterministic stand-in for the
      // write-time-UUID part files footer stats attach to), then the
      // zone-map census: per-unit min/max of BOTH dimensions and
      // whether a mid-range predicate on either one skips the unit.
      // This is the gauge that PROVES a layout prunes (the x_layout_
      // zorder values are the mechanism; this is the measurement) —
      // and it hash-verifies because the bucketed layout is a pure
      // function of the data.
      val staged = stageIndex(pruneStatsDir, dir) {
        val o = t(s, dir, "orders")
        // MONOTONE affine bucketization into [0, 1024) from the actual
        // key bounds (a pmod wrap mixes low and high raw values into
        // one bucket and its zone map spans the whole domain — pmod on
        // the sparse orderkey measurably pruned ZERO units; and a fixed
        // div that underfills the bit space collapses every row into
        // bucket 0). The two bounds are a 1-row staging-time aggregate;
        // the oracle never replays staging — it reads the artifact.
        val b = o.agg(min("o_custkey"), max("o_custkey"),
          min("o_orderkey"), max("o_orderkey")).head()
        val (ckMn, ckMx, okMn, okMx) =
          (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
        val z = graft.operators.Scale.zValue(
          expr(s"CAST((o_custkey - $ckMn) * 1024 DIV ${ckMx - ckMn + 1} AS BIGINT)"),
          expr(s"CAST((o_orderkey - $okMn) * 1024 DIV ${okMx - okMn + 1} AS BIGINT)"),
          10)
        o.select(col("o_orderkey"), col("o_custkey"))
          .withColumn("zb", shiftrightunsigned(z, 14))
          .repartition(col("zb"))
          .write.mode("overwrite").partitionBy("zb").parquet(pruneStatsDir)
      }
      graft.operators.Scale.pruneStats(s.read.parquet(staged),
          Seq("o_custkey", "o_orderkey"),
          Seq(("o_custkey", 100L, 199L), ("o_orderkey", 10000L, 19999L)),
          fileLabel = col("zb").cast("long"))
        .orderBy("file")
    }),

    "x_token_budget" -> ((s, dir) => {
      // Budget-bounded selection in deterministic md5 priority order:
      // two-pass partition-offset cumulative sum, no global window.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("__hx"))
      Curation.takeByBudget(docs, Seq("__hx", "doc_id"), "n_tokens", 5000L)
        .select("doc_id", "n_tokens", "cum_before")
        .orderBy("doc_id")
    }),

    "x_shards_rendezvous" -> ((s, dir) =>
      // STABLE sharding under capacity change: hash%N (x_shuffle_shards)
      // remaps nearly every key when N grows; rendezvous/HRW moves only
      // the keys the NEW shard wins — and they all move TO it. The
      // entry materializes assignments at N=8 and N=9 side by side with
      // the moved flag, so the minimal-movement property is in the
      // hashed output itself (~1/9 of rows moved, all to shard 8).
      t(s, dir, "documents").select(col("doc_id"),
          Curation.rendezvousShard(col("doc_id"), 8).as("shard_n8"),
          Curation.rendezvousShard(col("doc_id"), 9).as("shard_n9"))
        .withColumn("moved",
          (col("shard_n8") =!= col("shard_n9")).cast("int"))
        .orderBy("doc_id")),

    "x_shuffle_shards" -> ((s, dir) =>
      // Deterministic global shuffle: md5-derived shard + in-shard
      // position, the export permutation before sequential training reads.
      Curation.shuffleShards(t(s, dir, "documents").select("doc_id"), "doc_id", 8)
        .orderBy("doc_id")),

    "x_dedup_minhash_pairs" -> ((s, dir) =>
      // md5Base double-hash family so the DuckDB oracle replays the
      // identical signature → band → bucket-cap → verify pipeline; banding
      // matches lshNumHashes/lshBandCount/lshBucketCap above.
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", 0.7,
          numHashes = lshNumHashes, bands = lshBandCount,
          base = Dedup.Hashers.md5Base,
          maxBucketSize = Some(lshBucketCap))
        .orderBy("a", "b")),

    "x_eval_dedup" -> ((s, dir) => {
      // Dedup-pipeline EVALUATION: the LSH banding's raw candidate set
      // scored against exact-Jaccard truth at the 0.7 threshold — one
      // row of (n_truth, n_candidates, tp, fn); banding recall is
      // tp/n_truth, verifier workload is n_candidates. The measurement
      // numHashes/bands/bucket caps are tuned against, as x_eval_retrieval
      // is for ANN. Same md5 family/banding as the oracle chain.
      val docs = t(s, dir, "documents")
      val cand = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          numHashes = lshNumHashes, bands = lshBandCount,
          base = Dedup.Hashers.md5Base, maxBucketSize = Some(lshBucketCap))
        .withColumn("__c", lit(1))
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7)
        .select(col("a"), col("b")).withColumn("__t", lit(1))
      cand.join(truth, Seq("a", "b"), "full_outer")
        .agg(
          sum(when(col("__t") === 1, 1).otherwise(0)).cast("long")
            .as("n_truth"),
          sum(when(col("__c") === 1, 1).otherwise(0)).cast("long")
            .as("n_candidates"),
          sum(when(col("__c") === 1 && col("__t") === 1, 1).otherwise(0))
            .cast("long").as("tp"),
          sum(when(col("__t") === 1 && col("__c").isNull, 1).otherwise(0))
            .cast("long").as("fn"))
    }),

    "x_eval_dedup_sampled" -> ((s, dir) => {
      // THE 100 TB FORM of the eval pillar's truth: exact-Jaccard is
      // quadratic, so truth restricts to a deterministic md5-sampled id
      // subset (the shuffleShards hash convention — engine-replayable,
      // partition-independent), while the CANDIDATE side stays the full
      // production banding filtered to sampled pairs. Sampled recall
      // estimates production recall at O(corpus) mining + O((n/S)²)
      // truth — the form that still runs when the corpus is 100 TB.
      // The exact x_eval_dedup stays the fixture-scale gold.
      val docs = t(s, dir, "documents")
      def inSample(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c.cast("string")), 1, 15), 16, 10)
          .cast("long") % evalSampleMod === 0
      val cand = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          numHashes = lshNumHashes, bands = lshBandCount,
          base = Dedup.Hashers.md5Base, maxBucketSize = Some(lshBucketCap))
        .filter(inSample(col("a")) && inSample(col("b")))
        .withColumn("__c", lit(1))
      val truth = Dedup.jaccardPairs(docs.filter(inSample(col("doc_id"))),
          "doc_id", "text", 0.7)
        .select(col("a"), col("b")).withColumn("__t", lit(1))
      cand.join(truth, Seq("a", "b"), "full_outer")
        .agg(
          sum(when(col("__t") === 1, 1).otherwise(0)).cast("long")
            .as("n_truth"),
          sum(when(col("__c") === 1, 1).otherwise(0)).cast("long")
            .as("n_candidates"),
          sum(when(col("__c") === 1 && col("__t") === 1, 1).otherwise(0))
            .cast("long").as("tp"),
          sum(when(col("__t") === 1 && col("__c").isNull, 1).otherwise(0))
            .cast("long").as("fn"))
    }),

    "x_corpus_overlap" -> ((s, dir) =>
      // Corpus-overlap audit: pairwise source↔source shingle-set overlap
      // from per-source minhash signatures + exact intersection counts
      // (verifyExact — the audit/oracle config; DuckDB replays the md5
      // K-M family, the G² signature compare, and the exact set join).
      Dedup.corpusOverlap(t(s, dir, "documents"), "source", "text",
          numHashes = lshNumHashes, base = Dedup.Hashers.md5Base,
          verifyExact = true)
        .orderBy("a", "b")),

    "x_corpus_overlap_fast" -> ((s, dir) =>
      // PRODUCTION overlap configuration: xx64 family, estimator only —
      // the corpus-wide cost is ONE signature aggregation; no pairwise
      // shingle join at all. Rows-only (xxhash64 not oracle-replayable);
      // estimator-vs-exact agreement is spec-pinned (DedupSpec).
      Dedup.corpusOverlap(t(s, dir, "documents"), "source", "text",
          numHashes = lshNumHashes, base = Dedup.Hashers.xx64Base,
          verifyExact = false)
        .orderBy("a", "b")),

    "x_text_linededup" -> ((s, dir) => {
      // CORPUS-LEVEL LINE DEDUP (CCNet / RefinedWeb practice): any line
      // shared verbatim by >= 2 documents is template chrome — cookie
      // banners, navigation, license headers — struck from EVERY
      // document while the rest survives in order. The within-document
      // complement of whole-document dedup: exact/minhash drops copies
      // of a page, this strips the template the pages share. The
      // single-line fixture docs are re-lined into 8-word rows first
      // (~4% of line rows are shared template at sf0.01).
      val docs = t(s, dir, "documents")
      val lined = docs.select(col("doc_id"), relinedText.as("text"))
      TextAnalysis.dedupLines(lined, "doc_id", "text", minDocs = 2)
        .orderBy("doc_id")
    }),

    "x_stream_linededup" -> ((s, dir) => { // LIVE stream, shares x_text_linededup's oracle
      // INGEST-TIME template removal: the boilerplate set mined in
      // batch (boilerplateLines) is the deployed model; each ARRIVING
      // document is cleaned by a zero-state, order-preserving array
      // filter against the plan-constant set — no explode, no per-doc
      // streaming aggregation, one O(1) hash probe per line. Converges
      // to the batch operator's exact table, so the oracle is shared
      // verbatim (the x_stream_extract convention).
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val docs = t(s, dir, "documents")
      val boiler = TextAnalysis.boilerplateLines(
          docs.select(col("doc_id"), relinedText.as("text")),
          "doc_id", "text", minDocs = 2)
        .select("line").collect().map(_.getString(0)).toSet
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      graft.streaming.StreamLineDedup.runOnce(s, dir, "documents.parquet",
          schema, boiler, "doc_id", "text",
          prep = df => df.select(col("doc_id"), relinedText.as("text")))
        .orderBy("doc_id")
    }),

    "x_corpus_overlap_kmv" -> ((s, dir) =>
      // SKETCH SET ALGEBRA joining the overlap family: x_corpus_overlap
      // joins the corpora on content (exact), x_corpus_overlap_fast
      // estimates via minhash signatures (rows-only); the KMV matrix
      // estimates |A|, |B|, |A∪B|, |A∩B| and Jaccard per source pair
      // from capacity-16 k-min buffers ALONE — one (group, hash)
      // distinct shuffle, then pure sketch algebra on G·cap longs. And
      // because the k-min sketch is a pure function of the input SET,
      // even the estimator regime hash-verifies (the x_kmv_distinct
      // argument, lifted to pairs — ~25 docs/source at sf0.01 puts
      // every group and pair over capacity).
      graft.operators.Sketches.kmvOverlapMatrix(
          t(s, dir, "documents"), "source", "text", capacity = 16)
        .orderBy("ga", "gb")),

    "x_dedup_editdist" -> ((s, dir) =>
      // Character-level fuzzy dedup: LSH band candidates verified by
      // normalized Levenshtein (all-integer threshold test). md5Base so
      // DuckDB replays band mining; its levenshtein is the same algorithm.
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
          maxDistPerMille = 300, base = Dedup.Hashers.md5Base,
          maxBucketSize = Some(lshBucketCap))
        .orderBy("a", "b")),

    "x_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashSignatures(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_entity_resolution" -> ((s, dir) => {
      // Record linkage on structured names: every 10th customer gets a
      // re-keyed doppelganger with one character replaced, and the
      // blocked matcher (normalize → suffix block → capped pairs →
      // exact Levenshtein ≤ 2) must link each variant back to its
      // original — the classic MDM/dedupe step for short strings where
      // shingle-LSH blocking has nothing to band on.
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"),
          col("c_name").as("name"))
      val variants = cust.filter(col("id") % 10 === 0)
        .select((col("id") + 1000000L).as("id"),
          concat(substring(col("name"), 1, 9), lit("X"),
            expr("substring(name, 11)")).as("name"))
      Dedup.blockedFuzzyMatch(cust.unionByName(variants), "id", "name",
          maxDist = 2, suffixLen = 5)
        .orderBy("a", "b")
    }),

    "x_entity_resolution_dropped" -> ((s, dir) => {
      // The no-silent-caps twin of x_entity_resolution: every third
      // customer is renamed to share one normalized tail (a planted
      // "smith"-style degenerate block), and the census reports exactly
      // the blocks the matcher's count cap excludes — (blk, block_size),
      // sum(block_size) = rows the cap priced away. At 100 TB this report
      // rides along with the pair mining so capped work is visible, never
      // silently absent from the links.
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"),
          when(col("c_custkey") % 3 === 0,
            concat(lit("Customer#"), col("c_custkey").cast("string"),
              lit(" MegaCorp")))
            .otherwise(col("c_name")).as("name"))
      Dedup.blockedFuzzyMatchDropped(cust, "id", "name",
          suffixLen = 5, maxBlockSize = 100)
        .orderBy("blk")
    }),

    "x_dedup_embedding_pairs" -> ((s, dir) =>
      // Quantized-hyperplane LSH candidates + exact re-rank — the corpus×
      // corpus product is never formed. The oracle replays the identical
      // signature→bucket→re-rank pipeline (integer-exact quantized dots),
      // so both engines see the same candidate set and the hash gate is
      // green by construction, like x_dedup_minhash_pairs.
      Dedup.embeddingTopPairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding", 20,
          tables = hpTables, planes = hpPlanes, maxBucketSize = Some(hpBucketCap))
        .orderBy("rank")),

    "x_dedup_semantic" -> ((s, dir) =>
      // SemDeDup: assign each vector to its nearest literal centroid (pure
      // projection, no shuffle), mine cosine ≥ 2/5 pairs only within a
      // cell, resolve groups by pointer-jumping CC, keep the smallest id.
      // The threshold decision is integer-exact (DECIMAL), so the DuckDB
      // oracle replays the entire pipeline hash-identically.
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          thresholdNum = semThreshNum, thresholdDen = semThreshDen,
          nlist = semNlist, maxCellSize = Some(semCellCap))
        .select(col("doc_id").as("vec_id"), col("cluster_id"),
          col("n_members"), col("keep"))
        .orderBy("vec_id")),

    "x_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_sim_ann_lsh" -> ((s, dir) => { // oracle: full quantized-LSH replay
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_bitext_margin" -> ((s, dir) => {
      // MARGIN-BASED BITEXT MINING (Artetxe & Schwenk / CCMatrix): the
      // even-id half of the embeddings plays the source language, the
      // odd-id half the target; mined pairs are mutual nearest
      // neighbors scored by the ratio margin against each side's top-8
      // neighborhood. Everything on the floor(x·1e6) lattice — dots,
      // top-k sums, and the permille margin are exact integers.
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMine(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", 8)
        .orderBy("sid")
    }),

    "x_eval_retrieval" -> ((s, dir) => {
      // ANN quality EVALUATION — the measurement loop every retrieval
      // deployment needs: LSH-ANN top-10 scored against the exact
      // brute-force top-10 per query (hits@10, top-1-in-truth), all
      // integer so the two-pipeline composite hash-matches. At 100 TB
      // this runs on a sampled query set against the full index — the
      // query side is broadcast in both pipelines.
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
        .select(col("qid"), col("id")).withColumn("__in", lit(1))
      Similarity.lshTopK(emb, qs, "vec_id", "embedding", 10)
        .join(truth, Seq("qid", "id"), "left")
        .groupBy("qid")
        .agg(
          sum(coalesce(col("__in"), lit(0))).cast("long").as("hits_at_10"),
          max(when(col("rank") === 1 && col("__in") === 1, 1).otherwise(0))
            .cast("long").as("top1_in_truth"))
        .orderBy("qid")
    }),

    "x_eval_matryoshka" -> ((s, dir) => {
      // MATRYOSHKA TRUNCATION EVAL (MRL practice, Kusupati et al. 2022
      // — public knowledge): retrieval quality of the 16-dim PREFIX of
      // the 64-dim embedding against the full-vector exact top-10 —
      // the measurement that decides whether a 4× cheaper prefix index
      // serves well enough before anyone ships it. Same integer
      // hits@10 / top-1-agreement shape as x_eval_retrieval; pure
      // composition of existing kernels (slice + bruteForceTopK).
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val pre = emb.select(col("vec_id"),
        expr("slice(embedding, 1, 16)").as("embedding"))
      val truth = Similarity.bruteForceTopK(emb, qs,
          "vec_id", "embedding", 10)
        .select(col("qid"), col("id")).withColumn("__in", lit(1))
      Similarity.bruteForceTopK(pre, pre.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .join(truth, Seq("qid", "id"), "left")
        .groupBy("qid")
        .agg(
          sum(coalesce(col("__in"), lit(0))).cast("long").as("hits_at_10"),
          max(when(col("rank") === 1 && col("__in") === 1, 1).otherwise(0))
            .cast("long").as("top1_in_truth"))
        .orderBy("qid")
    }),

    "x_retrieval_maxsim" -> ((s, dir) => {
      // LATE-INTERACTION retrieval (ColBERT-style MaxSim) — the fourth
      // member of the retrieval family after BM25 (lexical), dense
      // top-k, and RRF fusion: token-level embeddings synthesized by
      // reading the 64-dim fixture vector as a 4×16 row-major token
      // matrix on the floor(x·10⁶) fixed-point lattice, scored by the
      // vec_maxsim codegen kernel (Σ over query tokens of max over doc
      // tokens of dot). Every dot/max/sum is an exact integer-valued
      // double, so the ranks replay in DuckDB via list_dot_product over
      // the same slices.
      val toks = t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("toks"))
      Similarity.maxsimTopK(toks, toks.filter(col("vec_id") < 5),
          "vec_id", "toks", 10, tokenDim = 16)
        .orderBy("qid", "rank")
    }),

    "x_retrieval_maxsim_pruned" -> ((s, dir) => {
      // THE SCALE PATH for late interaction (x_retrieval_maxsim is the
      // exact baseline, same contract as bruteforce→IVF): stage 1
      // shortlists k·rerank per query by the POOLED token-sum dot (one
      // 16-wide dot per pair), stage 2 re-ranks the shortlist with the
      // exact vec_maxsim kernel. Both stages integer-exact on the
      // lattice — the oracle replays shortlist AND re-rank bit-for-bit.
      val toks = t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("toks"))
      Similarity.maxsimTopKPruned(toks, toks.filter(col("vec_id") < 5),
          "vec_id", "toks", 10, tokenDim = 16, rerank = 4)
        .orderBy("qid", "rank")
    }),

    "x_stream_maxsim" -> ((s, dir) => { // LIVE stream, shares x_retrieval_maxsim's replay
      // Streaming late-interaction serving: query vectors ARRIVE as a
      // stream; each micro-batch is lattice-tokenized and maxsim-scored
      // against the static token corpus via foreachBatch. Per-query
      // results are batch-invariant, so the live path shares the batch
      // entry's oracle verbatim (the x_stream_ann_serve convention).
      val emb = t(s, dir, "embeddings")
      val toks = emb.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("toks"))
      graft.streaming.StreamAnnServe.runOnceMaxsim(s, dir,
          "embeddings.parquet", emb.schema, col("vec_id") < 5,
          toks, "vec_id", "embedding", "toks", 10, tokenDim = 16)
        .orderBy("qid", "rank")
    }),

    "x_eval_maxsim" -> ((s, dir) => {
      // Late-interaction EVAL alongside x_eval_retrieval: maxsim@10
      // joined against the exact dense-cosine top-10 — hits@10 and
      // top-1 agreement per query measure how much late interaction
      // moves the ranking vs whole-vector retrieval on this corpus.
      // All integer, two-pipeline composite hash.
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
        .select(col("qid"), col("id")).withColumn("__in", lit(1))
      val toks = emb.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("toks"))
      Similarity.maxsimTopK(toks, toks.filter(col("vec_id") < 5),
          "vec_id", "toks", 10, tokenDim = 16)
        .join(truth, Seq("qid", "id"), "left")
        .groupBy("qid")
        .agg(
          sum(coalesce(col("__in"), lit(0))).cast("long").as("hits_at_10"),
          max(when(col("rank") === 1 && col("__in") === 1, 1).otherwise(0))
            .cast("long").as("top1_in_truth"))
        .orderBy("qid")
    }),

    "x_corpus_datacard" -> ((s, dir) => {
      // The corpus DATA CARD: the one-row summary a dataset release
      // ships — volume, vocabulary of sources/langs, exact-duplicate
      // mass, length distribution bounds. ONE scan + partial aggs (the
      // dup count rides the same aggregation via count(distinct));
      // integer-exact throughout.
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"),
        (count(lit(1)) - countDistinct(col("text"))).as("exact_dup_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(size(split(col("text"), " "))).cast("long").as("total_tokens"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        min(col("n_chars")).cast("long").as("min_chars"),
        max(col("n_chars")).cast("long").as("max_chars"))
    }),

    "x_text_stats" -> ((s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_text_quality" -> ((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_text_langconf" -> ((s, dir) =>
      // Lang-id confidence: winner score, margin to the runner-up, and a
      // mixed-language flag — all integer marker arithmetic.
      TextAnalysis.languageConfidence(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_text_rollhash" -> ((s, dir) =>
      TextAnalysis.rollingHash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_emb_pool" -> ((s, dir) =>
      // exact integer-space projection of per-label mean pooling (floor
      // e6 sums — float means are not order-stable across engines)
      Embeddings.poolSums(t(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), col("pos"), col("n_vecs"), col("sum_scaled").as("sum_e6"))
        .orderBy("label", "pos")),

    "x_emb_rq8" -> ((s, dir) =>
      // RESIDUAL quantization: a second SQ8 stage trained on stage 1's
      // reconstruction residuals — two uint8 codes/dim, per-vector
      // error-reduction accounting, all on exact integer lattices.
      Embeddings.residualQuantize(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        .orderBy("vec_id")),

    "x_emb_kcenter" -> ((s, dir) =>
      // DIVERSE EXEMPLAR SELECTION: greedy k-center (farthest-point)
      // over the embedding corpus on the exact integer lattice — 8
      // rounds, each one corpus scan + a TakeOrdered argmax; the oracle
      // unrolls the same rounds.
      Embeddings.kcenterExemplars(t(s, dir, "embeddings"),
          "vec_id", "embedding", 8)
        .orderBy("round")),

    "x_emb_pca" -> ((s, dir) =>
      // ANISOTROPY / DRIFT DIAGNOSTIC: dominant covariance direction by
      // fix-point power iteration (one stats pass, BigInt driver solve,
      // broadcast-literal scoring), reported as per-label projection
      // mass. Exact to the bit — the oracle unrolls the same 12
      // iterations in HUGEINT.
      Embeddings.dominantDirectionReport(t(s, dir, "embeddings"),
          "embedding", "label")
        .orderBy("label")),

    "x_sim_ivf" -> ((s, dir) => { // oracle: full IVF probe+rerank replay
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivf_trained" -> ((s, dir) => { // approximate by design: rows-only
      // IVF with k-means-trained centroids (spark.ml, fixed seed): prices
      // the training pass + the better-balanced probe path.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKTrained(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_sim_bq" -> ((s, dir) => { // oracle: sign-pack + hamming + exact-rerank replay
      // Binary quantization — the scan floor below even PQ: the corpus
      // scans as 1 bit/dimension (sign bits packed 32 to a word),
      // candidates score by HAMMING distance (xor + bit_count, integer
      // ops only), and the rerank·k smallest re-rank exactly against
      // the true vectors. At 100 TB the packed corpus is 64× the float
      // bytes' reduction, and the kernel composes with the IVF probe
      // plan exactly like ADC does. Every step replays in DuckDB: the
      // packing is integer comparisons, hamming is bit_count, ranks
      // carry the id tiebreak.
      val emb = t(s, dir, "embeddings")
      Similarity.bqTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivfbq" -> ((s, dir) => { // oracle: probe-restricted hamming replay
      // The composed form of x_sim_bq — binary quantization INSIDE the
      // IVF probe plan (the ADC composition at the 1-bit/dimension
      // point): members' sign bits pack in the assigned frame, each
      // query Hamming-scores only its probed cells via the broadcast
      // (qid, cid, qsig) plan, exact re-rank repairs the shortlist.
      // Integer ops over nprobe/nlist of a 64x-compressed corpus.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfbqTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_sim_bq_persisted" -> ((s, dir) => { // oracle: hamming+rerank over the persisted codes
      // The scan floor, PERSISTED: the packed sign bits are built once
      // as the codes artifact (no model at all — the "codebook" is the
      // sign function) and serving reads 1/64 the corpus bytes through
      // integer Hamming + exact re-rank. Bit-identical to x_sim_bq
      // (AnnIndexSpec pins it); the oracle replays DIRECTLY over the
      // persisted parquet, so the hash proves the on-disk bytes serve.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(bqIdxDir, dir)(
        graft.operators.AnnIndex.bqBuild(emb, "vec_id", "embedding",
          bqIdxDir))
      graft.operators.AnnIndex.bqServe(s, path, emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivfbq_persisted" -> ((s, dir) => { // oracle: probe-restricted hamming over the persisted artifact
      // The composed scan floor, PERSISTED — ivfpq_persisted's sibling
      // at the 1-bit/dimension point: packed signatures live IN their
      // cid partitions, a serve probes the persisted centroids and
      // Hamming-scores only the probed partitions (O(probed) listing,
      // readProbedPartitions), floats touched only at the re-rank.
      // The oracle probes/scores/ranks over the on-disk parquet alone.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfbqIdxDir, dir)(
        graft.operators.AnnIndex.ivfbqBuild(emb, "vec_id", "embedding",
          ivfbqIdxDir, nlist = 16))
      graft.operators.AnnIndex.ivfbqServe(s, path, emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_sim_pq" -> ((s, dir) => { // oracle: full PQ train/encode/ADC replay
      // Product-quantization ADC scan + exact re-rank: the corpus scans as
      // m-byte codes (projection-encoded, zero shuffle) and only the
      // shortlist touches true float vectors — the memory-side ANN scale path.
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_layout_compact" -> ((s, dir) => { // oracle: content-neutrality hash
      // Generic small-files maintenance: a 64-way-fragmented copy of the
      // documents table is compacted to file count = ceil(bytes/target)
      // (here: ONE file, sized from the actual Hadoop listing — no data
      // pass), then aggregated. The oracle computes the same aggregate
      // over the ORIGINAL table, so the hash proves the rewrite changed
      // layout, not content; CompactSpec pins the file counts.
      val outDir = stageIndex(fragOutDir, dir) {
        t(s, dir, "documents").repartition(64)
          .write.mode("overwrite").parquet(fragInDir)
        graft.operators.Scale.compactParquet(s, fragInDir, fragOutDir,
          targetBytes = 1L << 30)
      }
      s.read.parquet(outDir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_text_len"))
        .orderBy("lang")
    }),

    "x_export_npy" -> ((s, dir) =>
      // Tensor export for training stacks: the embedding column lands as
      // float32 .npy shard files (public NumPy format, pure-JVM codec) +
      // an id manifest. The hashed projection is the SQL-replayable
      // sizing report — md5-shard row counts and the exact NPY
      // byte-length arithmetic (magic + 64-aligned header + n·dim·4);
      // the report's sha256 column is a binary artifact, pinned instead
      // by NpySpec's cross-partitioning determinism test.
      graft.operators.Embeddings.exportNpy(t(s, dir, "embeddings"),
          "vec_id", "embedding", stagingPath("npy_export"), numShards = 8)
        .select("shard_no", "n_rows", "n_dim", "byte_len")
        .orderBy("shard_no")),

    "x_export_npy_int8" -> ((s, dir) =>
      // The quantized serving artifact: uint8 .npy shards (4× smaller)
      // + the trained grid sidecar, codes from the SQ8 lattice — same
      // md5-shard determinism contract as x_export_npy, u8 header math
      // in the oracle (payload n·dim·1).
      graft.operators.Embeddings.exportNpyQuantized(t(s, dir, "embeddings"),
          "vec_id", "embedding", stagingPath("npy_export_u8"), numShards = 8)
        .select("shard_no", "n_rows", "n_dim", "byte_len")
        .orderBy("shard_no")),

    "x_sim_ivf_persisted" -> ((s, dir) => { // oracle: replay OVER the persisted index tables
      // The production ANN lifecycle: the IVF index (centroid table +
      // cid-partitioned inverted lists) is BUILT ONCE and persisted;
      // serving loads the nlist-row centroid table, probes as a pure
      // projection, and scans ONLY the probed cid partitions — no
      // training, no cell assignment, no corpus pass. Same params as
      // x_sim_ivf, so the result is bit-identical to the in-memory
      // variant (AnnIndexSpec pins the equality; the oracle replays
      // probe+score+rank in DuckDB directly over the persisted parquet).
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfIdxDir, dir)(
        graft.operators.AnnIndex.ivfBuild(emb, "vec_id", "embedding",
          ivfIdxDir, nlist = 16))
      graft.operators.AnnIndex.ivfServe(s, path,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivf_appended" -> ((s, dir) => { // oracle: replay over the APPENDED index
      // The incremental index lifecycle (incrementalDedup's ANN
      // sibling): centroids trained on the even-id half, the odd-id
      // batch appended later against the PERSISTED centroids — O(batch)
      // work, the existing inverted lists never rewritten. The oracle
      // replays probe/score/rank over the final on-disk parquet, so the
      // hash proves build+append composed to exactly the full index.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfAppIdxDir, dir) {
        graft.operators.AnnIndex.ivfBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          ivfAppIdxDir, nlist = 16)
        graft.operators.AnnIndex.ivfAppend(
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
          ivfAppIdxDir)
      }
      graft.operators.AnnIndex.ivfServe(s, path,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivf_compacted" -> ((s, dir) => { // oracle: replay over the COMPACTED index
      // The full index lifecycle: build → append → COMPACT → serve.
      // Compaction rewrites the inverted lists to one file per cid (the
      // small-files VACUUM the append history accumulates) and must be
      // content-neutral — the oracle replays over the compacted parquet,
      // so the hash proves the rewrite changed layout, not data.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfCompactIdxDir, dir) {
        graft.operators.AnnIndex.ivfBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          ivfCompactIdxDir, nlist = 16)
        graft.operators.AnnIndex.ivfAppend(
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
          ivfCompactIdxDir)
        graft.operators.AnnIndex.ivfCompact(s, ivfCompactIdxDir)
      }
      graft.operators.AnnIndex.ivfServe(s, path,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_sim_pq_persisted" -> ((s, dir) => { // oracle: ADC+rerank replay over persisted codebooks/codes
      // PQ twin of the persisted lifecycle: codebooks + the PQ-encoded
      // corpus persist; the ADC scan reads the CODE table (8-64× smaller
      // than the float corpus), and only the shortlist re-rank touches
      // true vectors. Same params as x_sim_pq → bit-identical results.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(pqIdxDir, dir)(
        graft.operators.AnnIndex.pqBuild(emb, "vec_id", "embedding", pqIdxDir))
      graft.operators.AnnIndex.pqServe(s, path, emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivfpq_persisted" -> ((s, dir) => { // oracle: probe-restricted ADC+rerank replay
      // THE COMPOSED 100 TB ANN SHAPE (IVF-PQ, Jégou et al. TPAMI 2011):
      // coarse cells PARTITION the PQ code table, so a serve reads only
      // the probed cells' code partitions (O(probed) listing, like the
      // IVF serve) and ADC-scores compact integer codes — no float
      // vector is touched until the exact re-rank of the shortlist.
      // Flat PQ scans every code for every query; flat IVF stores full
      // vectors in its cells; the composition is what serves a corpus
      // whose vectors do not fit the cluster. The oracle replays probe →
      // cell-restricted ADC → shortlist → exact re-rank entirely from
      // the on-disk artifact (centroids, codebooks, cid-partitioned
      // codes), the same double arithmetic in the same order.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfpqIdxDir, dir)(
        graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
          ivfpqIdxDir, nlist = 16))
      graft.operators.AnnIndex.ivfpqServe(s, path, emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivfpq_residual" -> ((s, dir) => { // oracle: residual (IVFADC) ADC replay
      // IVFADC proper (the PQ paper's composed form): codes quantize the
      // RESIDUAL u(x) − u(centroid(x)) against Lloyd-trained residual
      // codebooks, and the serve adds the coarse term u(q)·u(c) back per
      // probed cell — at production nlist this is what keeps recall up
      // without growing the re-rank budget (the A/B spec and committed
      // recall table show residual ≥ raw at every nprobe under trained
      // cells). The oracle replays probe (carrying the coarse dot) →
      // cell-restricted ADC (qc + LUT lookups, parenthesized to Spark's
      // add tree) → shortlist → exact re-rank from the on-disk artifact.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfpqResIdxDir, dir)(
        graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
          ivfpqResIdxDir, nlist = 16, residual = true))
      graft.operators.AnnIndex.ivfpqServe(s, path, emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivfpq_deleted" -> ((s, dir) => { // oracle: tombstoned probe-restricted ADC replay
      // Deletion-vector lifecycle on the COMPOSED index: odd ids
      // tombstoned O(ids), serve suppresses via the broadcast sidecar
      // anti-join, code bytes untouched (spec pins the byte-identity);
      // the oracle replays THROUGH the sidecar like the ivf/pq twins.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfpqDelIdxDir, dir) {
        graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
          ivfpqDelIdxDir, nlist = 16)
        graft.operators.AnnIndex.ivfpqDelete(s, ivfpqDelIdxDir,
          emb.filter(col("vec_id") % 2 =!= 0).select("vec_id"), "vec_id")
      }
      graft.operators.AnnIndex.ivfpqServe(s, path, emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivfpq_appended" -> ((s, dir) => { // oracle: replay over the APPENDED artifact
      // Incremental ingest on the composed index: centroids AND
      // codebooks trained on the even-id half (the index identity), the
      // odd-id batch assigned + encoded later against the PERSISTED
      // models and appended into the cid partitions — O(batch). The
      // oracle reads only the final on-disk artifact, so the hash proves
      // assign-encode-append composed exactly.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfpqAppIdxDir, dir) {
        graft.operators.AnnIndex.ivfpqBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          ivfpqAppIdxDir, nlist = 16)
        graft.operators.AnnIndex.ivfpqAppend(
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
          ivfpqAppIdxDir)
      }
      graft.operators.AnnIndex.ivfpqServe(s, path, emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_ivfpq_report" -> ((s, dir) =>
      // Observability for the composed index over the SAME mid-lifecycle
      // (pending-takedown) artifact as x_sim_ivfpq_deleted — nlist,
      // codebook shape, stored codes, tombstone debt, serving
      // membership, files-per-cid pressure; the oracle recomputes every
      // figure from the artifact alone (the x_index_report convention).
      graft.operators.AnnIndex.describeIvfPq(s, {
        val emb = t(s, dir, "embeddings")
        stageIndex(ivfpqDelIdxDir, dir) {
          graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
            ivfpqDelIdxDir, nlist = 16)
          graft.operators.AnnIndex.ivfpqDelete(s, ivfpqDelIdxDir,
            emb.filter(col("vec_id") % 2 =!= 0).select("vec_id"), "vec_id")
        }
      })),

    "x_stream_ivfpq_serve" -> ((s, dir) => { // LIVE stream, shares the persisted replay
      // Streaming serving on the COMPOSED index: query vectors arrive
      // as a stream, each micro-batch probes + ADC-scores + re-ranks
      // against the persisted artifact via foreachBatch. Per-query
      // results are batch-invariant, so the live path shares
      // x_sim_ivfpq_persisted's oracle verbatim (the convention every
      // persisted artifact here follows).
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfpqIdxDir, dir)(
        graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
          ivfpqIdxDir, nlist = 16))
      graft.streaming.StreamAnnServe.runOnceIvfPq(s, dir,
          "embeddings.parquet", emb.schema, col("vec_id") < 5, path, emb,
          "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_stream_ivfpq_res_serve" -> ((s, dir) => { // LIVE stream over the RESIDUAL index
      // Streaming serving on the residual (IVFADC) composed index: the
      // foreachBatch serve resolves the encoding flavor from the
      // persisted meta/, so the twin is the identical drive loop as
      // x_stream_ivfpq_serve pointed at the residual artifact.
      // Batch-invariant per query ⇒ shares x_sim_ivfpq_residual's
      // oracle verbatim (the hoisted ivfpqResidualReplaySql).
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfpqResIdxDir, dir)(
        graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
          ivfpqResIdxDir, nlist = 16, residual = true))
      graft.streaming.StreamAnnServe.runOnceIvfPq(s, dir,
          "embeddings.parquet", emb.schema, col("vec_id") < 5, path, emb,
          "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_ann_autotune_residual" -> ((s, dir) => { // oracle: residual sweep+recall replay
      // x_ann_autotune_ivfpq's residual sibling — the sweep the A/B in
      // AnnIndexSpec runs, oracle-hashed: the ONE ranked ADC pass now
      // carries the coarse term u(q)·u(c) per probed cell (tuneIvfPq
      // resolves the flavor from meta/), truth and the pick rule are
      // identical. Pricing the residual index's latency/recall trade is
      // exactly what a deployment does before flipping the encoding.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfpqResIdxDir, dir)(
        graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
          ivfpqResIdxDir, nlist = 16, residual = true))
      val sampleQ = emb.filter(
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % annTuneSampleMod === 7)
      graft.operators.AnnIndex.tuneIvfPq(s, path, emb, sampleQ,
          "vec_id", "embedding", 10, Seq(1, 2, 4, 8))
        .orderBy("nprobe")
    }),

    "x_takedown_pipeline" -> ((s, dir) => { // oracle: sidecar-path replay (tombstoned)
      // COMPLIANCE COMPOSITION: the CDC change log drives the ANN-index
      // takedown — keys whose LAST operation is a tombstone (deleted,
      // never revived) are exactly what ivfDelete marks in the
      // deletion-vector sidecar. This is the GDPR flow end-to-end: the
      // log is the source of truth, the serving index follows it; the
      // oracle replays retrieval over cells + sidecar, proving the
      // tombstoned members are unfindable and everything else is intact.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(takedownIdxDir, dir) {
        graft.operators.AnnIndex.ivfBuild(emb, "vec_id", "embedding",
          takedownIdxDir, nlist = 16)
        val tombstoned = Cdc.tombstones(cdcLog(s, dir),
            "doc_id", "seq", "op")
          .select(col("doc_id").as("vec_id"))
        graft.operators.AnnIndex.ivfDelete(s, takedownIdxDir,
          tombstoned, "vec_id")
      }
      graft.operators.AnnIndex.ivfServe(s, path,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_cdc_index_sync" -> ((s, dir) => { // oracle: plain replay over the SYNCED index
      // THE MAINTENANCE LOOP END TO END: a CDC change log of embedding
      // rows (update every 7th with a jittered vector, delete every
      // 11th+3, revive the even deletes) drives ivfSyncFromLog —
      // tombstone touched keys (O(tail) sidecar), fold, re-append the
      // LWW-current versions against the persisted centroids. The
      // serving index FOLLOWS the table; equivalence with a full
      // rebuild is spec-gated (AnnIndexSpec), and the oracle replays
      // retrieval over the final on-disk artifact — updated vectors
      // serve, tombstoned members are unfindable.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(cdcSyncIdxDir, dir) {
        graft.operators.AnnIndex.ivfBuild(emb, "vec_id", "embedding",
          cdcSyncIdxDir, nlist = 16)
        val vt = emb.schema("embedding").dataType
        val tail = emb.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x + 0.125 as float))")
              .as("embedding"))
          .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
          .unionByName(emb.filter(col("vec_id") % 11 === 3)
            .select(col("vec_id"), lit(null).cast(vt).as("embedding"))
            .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
          .unionByName(emb.filter(col("vec_id") % 22 === 3)
            .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x - 0.25 as float))")
                .as("embedding"))
            .withColumn("seq", lit(4L)).withColumn("op", lit("I")))
        graft.operators.AnnIndex.ivfSyncFromLog(s, cdcSyncIdxDir, tail,
          "vec_id", "seq", "op", "embedding")
      }
      graft.operators.AnnIndex.ivfServe(s, path,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_ann_autotune" -> ((s, dir) => { // oracle: full sweep+recall replay over the persisted index
      // THE KNOB-PICKING LOOP: before an IVF deployment ships, sweep
      // nprobe over candidates and measure recall@10 against the exact
      // brute-force truth on a deterministic md5-sampled query set —
      // the SAME sampling convention as x_eval_dedup_sampled (hash the
      // id, take a residue class), so the sample is partition-independent
      // and engine-replayable, and at scale the modulus grows with the
      // corpus to hold the sample COUNT constant (the BenchSf1
      // ann_autotune probe's regime — truth is |sample|·|members|, so a
      // constant sample keeps the quadratic leg flat while the index
      // grows). One scored pass at max(nprobe) prices the whole sweep
      // (probe ranks kept, every sweep point re-ranks the same frame),
      // one |sample|×|members| pass prices the truth. The report picks
      // the smallest nprobe meeting the 95% target (explicit best-effort
      // fallback to the largest). Integer-exact throughout: hits,
      // possible, and the // -quantized recall replay bit-for-bit.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfIdxDir, dir)(
        graft.operators.AnnIndex.ivfBuild(emb, "vec_id", "embedding",
          ivfIdxDir, nlist = 16))
      val sampleQ = emb.filter(
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % annTuneSampleMod === 7)
      graft.operators.AnnIndex.tuneIvf(s, path,
          sampleQ, "vec_id", "embedding", 10, Seq(1, 2, 4, 8))
        .orderBy("nprobe")
    }),

    "x_cdc_pq_sync" -> ((s, dir) => { // oracle: ADC+rerank replay over the SYNCED codes
      // THE PQ MEMBER OF THE MAINTENANCE LOOP: the same CDC tail shape
      // as x_cdc_index_sync drives pqSyncFromLog — tombstone every
      // touched key (O(tail) sidecar), fold (pqCompact), re-encode the
      // LWW-current versions against the PERSISTED codebooks (the
      // model is never retrained by maintenance). The exact re-rank
      // corpus is the POST-TAIL snapshot — the source table the same
      // log maintains — composed from the batch CDC operator.
      // Equivalence with a full re-encode is spec-gated (AnnIndexSpec);
      // the oracle replays ADC + exact re-rank over the final on-disk
      // codes, rebuilding the updated float vectors with the same IEEE
      // arithmetic.
      val emb = t(s, dir, "embeddings")
      val vt = emb.schema("embedding").dataType
      def tail = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x + 0.125 as float))")
            .as("embedding"))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
        .unionByName(emb.filter(col("vec_id") % 11 === 3)
          .select(col("vec_id"), lit(null).cast(vt).as("embedding"))
          .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
        .unionByName(emb.filter(col("vec_id") % 22 === 3)
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x - 0.25 as float))")
              .as("embedding"))
          .withColumn("seq", lit(4L)).withColumn("op", lit("I")))
      val path = stageIndex(pqSyncIdxDir, dir) {
        graft.operators.AnnIndex.pqBuild(emb, "vec_id", "embedding",
          pqSyncIdxDir)
        graft.operators.AnnIndex.pqSyncFromLog(s, pqSyncIdxDir, tail,
          "vec_id", "seq", "op", "embedding")
      }
      val post = emb.select("vec_id", "embedding")
        .join(tail.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
        .unionByName(Cdc.applyLog(tail, "vec_id", "seq", "op")
          .select("vec_id", "embedding"))
      graft.operators.AnnIndex.pqServe(s, path, post,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_cdc_bq_sync" -> ((s, dir) => { // oracle: hamming+rerank replay over the SYNCED codes
      // THE SCAN-FLOOR MEMBER OF THE MAINTENANCE LOOP: the same CDC
      // tail shape as x_cdc_pq_sync drives bqSyncFromLog — tombstone
      // every touched key (O(tail) sidecar), file-targeted fold,
      // re-pack the LWW-current versions (no model to retrain at all).
      // The exact re-rank corpus is the POST-TAIL snapshot; the oracle
      // replays hamming + re-rank over the final on-disk signatures,
      // rebuilding the updated floats with identical IEEE arithmetic.
      val emb = t(s, dir, "embeddings")
      val vt = emb.schema("embedding").dataType
      def tail = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x + 0.125 as float))")
            .as("embedding"))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
        .unionByName(emb.filter(col("vec_id") % 11 === 3)
          .select(col("vec_id"), lit(null).cast(vt).as("embedding"))
          .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
        .unionByName(emb.filter(col("vec_id") % 22 === 3)
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x - 0.25 as float))")
              .as("embedding"))
          .withColumn("seq", lit(4L)).withColumn("op", lit("I")))
      val path = stageIndex(bqSyncIdxDir, dir) {
        graft.operators.AnnIndex.bqBuild(emb, "vec_id", "embedding",
          bqSyncIdxDir)
        graft.operators.AnnIndex.bqSyncFromLog(s, bqSyncIdxDir, tail,
          "vec_id", "seq", "op", "embedding")
      }
      val post = emb.select("vec_id", "embedding")
        .join(tail.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
        .unionByName(Cdc.applyLog(tail, "vec_id", "seq", "op")
          .select("vec_id", "embedding"))
      graft.operators.AnnIndex.bqServe(s, path, post,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy("qid", "rank")
    }),

    "x_cdc_ivfbq_sync" -> ((s, dir) => { // oracle: probe-restricted replay over the SYNCED artifact
      // The composed scan-floor maintenance loop: same tail, cell-
      // targeted fold, re-assign + re-pack against the PERSISTED
      // centroids. Oracle replays probe/hamming/re-rank over the final
      // on-disk cid-partitioned signatures + the post-tail corpus.
      val emb = t(s, dir, "embeddings")
      val vt = emb.schema("embedding").dataType
      def tail = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x + 0.125 as float))")
            .as("embedding"))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
        .unionByName(emb.filter(col("vec_id") % 11 === 3)
          .select(col("vec_id"), lit(null).cast(vt).as("embedding"))
          .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
        .unionByName(emb.filter(col("vec_id") % 22 === 3)
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x - 0.25 as float))")
              .as("embedding"))
          .withColumn("seq", lit(4L)).withColumn("op", lit("I")))
      val path = stageIndex(ivfbqSyncIdxDir, dir) {
        graft.operators.AnnIndex.ivfbqBuild(emb, "vec_id", "embedding",
          ivfbqSyncIdxDir, nlist = 16)
        graft.operators.AnnIndex.ivfbqSyncFromLog(s, ivfbqSyncIdxDir, tail,
          "vec_id", "seq", "op", "embedding")
      }
      val post = emb.select("vec_id", "embedding")
        .join(tail.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
        .unionByName(Cdc.applyLog(tail, "vec_id", "seq", "op")
          .select("vec_id", "embedding"))
      graft.operators.AnnIndex.ivfbqServe(s, path, post,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_ann_autotune_ivfpq" -> ((s, dir) => { // oracle: full sweep+recall replay over the composed artifact
      // tuneIvf's composed sibling: ONE ADC pass at max(nprobe) with
      // probe ranks riding along prices the whole sweep (each sweep
      // point re-shortlists + re-ranks the same frame); truth is the
      // exact brute force over the serving membership's true vectors on
      // the md5-sampled query set (the annTuneSampleMod convention).
      // Full-probe recall here is FLAT-PQ recall, not 100% — the sweep
      // measures exactly what a deployment trades, quantization
      // included.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfpqIdxDir, dir)(
        graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
          ivfpqIdxDir, nlist = 16))
      val sampleQ = emb.filter(
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % annTuneSampleMod === 7)
      graft.operators.AnnIndex.tuneIvfPq(s, path, emb, sampleQ,
          "vec_id", "embedding", 10, Seq(1, 2, 4, 8))
        .orderBy("nprobe")
    }),

    "x_ann_autotune_ivfbq" -> ((s, dir) => { // oracle: ranked-hamming sweep+recall replay
      // tuneIvfPq's scan-floor sibling: ONE Hamming pass at max(nprobe)
      // with probe ranks riding along prices the whole sweep (each
      // sweep point re-shortlists + re-ranks the same frame); truth is
      // the exact brute force over the serving membership on the
      // md5-sampled query set (the annTuneSampleMod convention). The
      // measurement loop that picks the latency/recall knob for the
      // cheapest index in the family.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfbqIdxDir, dir)(
        graft.operators.AnnIndex.ivfbqBuild(emb, "vec_id", "embedding",
          ivfbqIdxDir, nlist = 16))
      val sampleQ = emb.filter(
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % annTuneSampleMod === 7)
      graft.operators.AnnIndex.tuneIvfBq(s, path, emb, sampleQ,
          "vec_id", "embedding", 10, Seq(1, 2, 4, 8))
        .orderBy("nprobe")
    }),

    "x_cdc_ivfpq_sync" -> ((s, dir) => { // oracle: probe-restricted ADC replay over the SYNCED artifact
      // THE COMPOSED MEMBER OF THE MAINTENANCE LOOP: the same CDC tail
      // shape as x_cdc_index_sync / x_cdc_pq_sync drives
      // ivfpqSyncFromLog — tombstone every touched key (O(tail)
      // sidecar), fold (ivfpqCompact), assign + re-encode the
      // LWW-current versions against the PERSISTED centroids and
      // codebooks (maintenance never retrains the index identity). The
      // exact re-rank corpus is the POST-TAIL snapshot the same log
      // maintains; the oracle replays probe → cell-restricted ADC →
      // re-rank over the final on-disk artifact, rebuilding the updated
      // float vectors with the identical IEEE arithmetic.
      val emb = t(s, dir, "embeddings")
      val vt = emb.schema("embedding").dataType
      def tail = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x + 0.125 as float))")
            .as("embedding"))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
        .unionByName(emb.filter(col("vec_id") % 11 === 3)
          .select(col("vec_id"), lit(null).cast(vt).as("embedding"))
          .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
        .unionByName(emb.filter(col("vec_id") % 22 === 3)
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x - 0.25 as float))")
              .as("embedding"))
          .withColumn("seq", lit(4L)).withColumn("op", lit("I")))
      val path = stageIndex(ivfpqSyncIdxDir, dir) {
        graft.operators.AnnIndex.ivfpqBuild(emb, "vec_id", "embedding",
          ivfpqSyncIdxDir, nlist = 16)
        graft.operators.AnnIndex.ivfpqSyncFromLog(s, ivfpqSyncIdxDir, tail,
          "vec_id", "seq", "op", "embedding")
      }
      val post = emb.select("vec_id", "embedding")
        .join(tail.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
        .unionByName(Cdc.applyLog(tail, "vec_id", "seq", "op")
          .select("vec_id", "embedding"))
      graft.operators.AnnIndex.ivfpqServe(s, path, post,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_stream_takedown" -> ((s, dir) => { // oracle: sidecar replay over the stream-fed index
      // STREAMING COMPLIANCE, end to end: the LIVE CDC applier
      // maintains the hosted snapshot AND pushes every micro-batch's
      // tombstones into the serving index's deletion-vector sidecar —
      // x_takedown_pipeline with the log arriving as a stream (the
      // index follows the STREAM, O(dels) per batch, no rewrite). The
      // oracle replays retrieval over cells + sidecar: the streamed
      // tombstones are unfindable, everything else intact.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(streamTdIdxDir, dir) {
        graft.operators.AnnIndex.ivfBuild(emb, "vec_id", "embedding",
          streamTdIdxDir, nlist = 16)
        val vt = emb.schema("embedding").dataType
        val log = emb.select(col("vec_id"), col("embedding"))
          .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
          .unionByName(emb.filter(col("vec_id") % 11 === 3)
            .select(col("vec_id"), lit(null).cast(vt).as("embedding"))
            .withColumn("seq", lit(2L)).withColumn("op", lit("D")))
        graft.streaming.StreamCdc.stageLogSlices(log, "seq",
          streamTdStageDir, Seq(Seq(1L), Seq(2L)))
        graft.streaming.StreamCdc.runOnce(s, streamTdStageDir, log.schema,
          "vec_id", "seq", "op", takedownIndexPath = Some(streamTdIdxDir))
        ()
      }
      graft.operators.AnnIndex.ivfServe(s, path,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_sim_ivf_deleted" -> ((s, dir) => { // oracle: sidecar-path replay (tombstoned)
      // The takedown / right-to-be-forgotten lifecycle step with
      // DELETION-VECTOR semantics: odd-id vectors are tombstoned into
      // the O(ids) sidecar — the cells parquet is NOT rewritten — and
      // serve suppresses them with a broadcast anti-join. Two separate
      // ivfDelete calls prove takedowns accumulate. The oracle replays
      // cells + tombstones, so the hash proves the sidecar path
      // suppresses exactly the listed members and nothing else.
      val emb = t(s, dir, "embeddings")
      val path = stageIvfDeleted(s, dir)
      graft.operators.AnnIndex.ivfServe(s, path,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    "x_index_report" -> ((s, dir) =>
      // Index observability — the ANN sibling of x_cdc_report: one row
      // of centroid count, stored members, PENDING tombstones, serving
      // membership (stored minus suppressed), and small-files pressure
      // (parquet files per cid ×100). Shares x_sim_ivf_deleted's staged
      // index so the numbers describe a real mid-lifecycle state; the
      // oracle recomputes every figure from the artifact alone
      // (filename= gives DuckDB the file census).
      graft.operators.AnnIndex.describeIvf(s, stageIvfDeleted(s, dir))),

    "x_sim_ivf_del_compacted" -> ((s, dir) => { // oracle: PLAIN replay post-fold
      // COMPACTION FOLDS THE SIDECAR: after ivfCompact the tombstoned
      // rows physically leave the cells and the sidecar is cleared —
      // the oracle replays the cells ALONE (no tombstone clause), so
      // the hash proves fold-in ≡ the sidecar-path suppression.
      val emb = t(s, dir, "embeddings")
      val path = stageIndex(ivfDelCmpIdxDir, dir) {
        graft.operators.AnnIndex.ivfBuild(emb, "vec_id", "embedding",
          ivfDelCmpIdxDir, nlist = 16)
        graft.operators.AnnIndex.ivfDelete(s, ivfDelCmpIdxDir,
          emb.filter(col("vec_id") % 2 =!= 0).select("vec_id"), "vec_id")
        graft.operators.AnnIndex.ivfCompact(s, ivfDelCmpIdxDir)
      }
      graft.operators.AnnIndex.ivfServe(s, path,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nprobe = 4)
        .orderBy("qid", "rank")
    }))
}
