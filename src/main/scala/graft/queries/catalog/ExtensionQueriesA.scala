package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{HostedTables, Tables}
import graft.core.{Chunker, ServiceName, WriteMode}
import graft.operators.{Calibration, Cdc, Curation, Dedup, Embeddings, GraphOps, HtmlText, Multimodal, Profiling, Regression, Scale, Similarity, Sketches, TextAnalysis}
import graft.sinks.HostedStore
import graft.streaming.EventStreams

/** LLM-pipeline extension queries, part A (dedup, sketches, CDC, streaming, curation head of the catalog).
  *
  * Part of the QueryCatalog split (r12): entries are verbatim from the
  * pre-split catalog; shared fixtures/SQL builders live in
  * [[CatalogHelpers]]; [[QueryCatalog]] assembles the public maps.
  */
private[queries] object ExtensionQueriesA {
  import CatalogHelpers._

  val entries: Map[String, Q] = Map(
    "x_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val dupped = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + lit(100000L)))
      Dedup.exact(dupped, "doc_id", "text").orderBy("doc_id")
    }),

    "x_dedup_jaccard" -> ((s, dir) =>
      // The stop-shingle cap keeps hot shingles from producing O(df²)
      // candidate pairs in the inverted-index self-join; the oracle CTE
      // mirrors the cap so results stay hash-identical.
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 0.6,
          maxShingleFreq = Some(jaccardFreqCap))
        .orderBy("a", "b")),

    "x_dedup_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_dedup_clusters" -> ((s, dir) =>
      // Near-dup pairs → connected components → keep-one-per-cluster:
      // same capped jaccard pair mining as x_dedup_jaccard, then min-label
      // propagation; the oracle replays the fixpoint with a recursive CTE.
      Dedup.duplicateClusters(
          Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 0.6,
            maxShingleFreq = Some(jaccardFreqCap)))
        .orderBy("doc_id")),

    "x_dedup_cross" -> ((s, dir) => {
      // Train/eval decontamination report: reference corpus = every 7th
      // doc, candidates = the whole table; md5Base so DuckDB replays the
      // exact band pipeline. Broadcast-ref is the scale posture (eval set
      // ≪ training corpus).
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusPairs(docs, docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", 0.7, base = Dedup.Hashers.md5Base)
        .orderBy("cand_id")
    }),

    "x_stream_neardup" -> ((s, dir) =>
      // Streaming near-dup detector (stateless per-row signatures +
      // per-bucket keyed state), invoked in batch mode — the operator is
      // mode-agnostic. Rows-only (xxhash64 signatures aren't oracle-
      // replayable); StreamDedupSpec pins stream≡batch agreement.
      graft.streaming.StreamDedup.nearDupPairs(
          t(s, dir, "documents"), "doc_id", "text", 0.9)
        .toDF()
        .dropDuplicates("a", "b")
        .orderBy("a", "b")),

    "x_stream_exactdedup" -> ((s, dir) => {
      // REAL streaming run (AvailableNow → memory sink) of Spark's native
      // watermarked dedup state; the surviving-hash-set projection is
      // deterministic, so this streaming path gets a full hash-MATCH
      // oracle (SELECT DISTINCT sha256), unlike the signature-based
      // streaming entries.
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      graft.streaming.StreamExactDedup.runOnce(s, dir, "documents.parquet",
          schema, "doc_id", "text")
        .orderBy("text_hash")
    }),

    "x_stream_drift" -> ((s, dir) => {
      // Streaming drift monitor, REAL run (append mode — one verdict per
      // window when the watermark passes it; the trailing partial window
      // never emits and the oracle replays that cutoff from max(ts)).
      // Reference mix = corpus-wide counts over the FIXED policy
      // taxonomy (the same literal category list the oracle folds —
      // deriving the list from data here while the static SQL hardcodes
      // it would silently diverge on a fixture with a new event type).
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val ev = t(s, dir, "events")
      val counts = ev.groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // a taxonomy category absent from the data keeps count 0 and the
      // operator's positive-count require fails LOUDLY instead of the
      // oracle silently diverging
      val ref = driftTaxonomy.map(c => c -> counts.getOrElse(c, 0L)).toMap
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      graft.streaming.StreamDrift.runOnce(s, dir, "events.parquet",
          schema, ref)
        .orderBy("window_start_ms")
    }),

    "x_stream_heavyhitters" -> ((s, dir) => {
      // Streaming windowed top-k heavy hitters through a REAL stream
      // (mergeable space-saving summary as watermarked window state,
      // append-mode emission). Capacity 512 > the fixture's 150 users,
      // so the summary runs in its EXACT regime and the oracle replays
      // per-window exact top-k; the eviction regime is spec-pinned.
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      graft.streaming.StreamHeavyHitters.runOnce(s, dir, "events.parquet",
          schema, "user_id", k = 5, capacity = 512)
        .orderBy("window_start_ms", "rank")
    }),

    "x_text_normalize" -> ((s, dir) => {
      // Unicode canonicalization audit: the fold key (NFKD → strip marks
      // → ROOT lowercase) every cross-script dedup hashes instead of raw
      // text, emitted as md5 + changed flag. On the ASCII fixture the
      // fold is the identity, so the oracle (DuckDB strip_accents ∘
      // nfc_normalize ∘ lower) validates the plumbing + the ASCII
      // subset; Unicode behavior (composed/decomposed, ligatures,
      // fullwidth forms) is spec-pinned in FunctionsSpec.
      import graft.functions.TextFunctions.normalize_text
      val folded = normalize_text(col("text"), "fold")
      t(s, dir, "documents")
        .select(col("doc_id"), md5(folded).as("canon_md5"),
          when(folded === col("text"), 0L).otherwise(1L).as("changed"))
        .orderBy("doc_id")
    }),

    "x_dedup_canonical" -> ((s, dir) => {
      // Exact dedup under the CANONICALIZATION key instead of raw text:
      // groups agree whenever their fold keys agree (catches case/width/
      // mark variants raw exact dedup misses). Same hash-aggregate
      // shape as x_dedup_exact, keyed on the codegen'd fold expression.
      import graft.functions.TextFunctions.normalize_text
      val canon = t(s, dir, "documents")
        .select(col("doc_id"), normalize_text(col("text"), "fold").as("__k"))
      canon.groupBy(col("__k"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy("doc_id")
    }),

    "x_text_compress" -> ((s, dir) =>
      // Compression-ratio quality signal (rows-only: deflate output is a
      // JDK-zlib artifact no SQL engine replays; the length relations and
      // repetition-monotonicity are spec-pinned in OperatorSpec).
      TextAnalysis.compressibility(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_event_funnel" -> ((s, dir) => {
      // Ordered conversion funnel view→click→purchase: each stage is the
      // user's FIRST qualifying event strictly after the previous stage —
      // the sequence constraint is what separates a funnel from three
      // independent counts. Three shuffles, all keyed on user_id (at
      // scale they co-partition: one exchange feeds every stage), then a
      // 1-row×1-row crossJoin of the stage counts.
      val ev = t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
      val vc = v.join(clicks,
          col("user_id") === col("c_uid") && col("c_ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("c_ts")).as("t_click"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      val vcp = vc.join(buys,
          col("user_id") === col("p_uid") && col("p_ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("p_ts")).as("t_buy"))
      ev.agg(countDistinct(col("user_id")).as("n_users"))
        .crossJoin(v.agg(count(lit(1)).as("n_view")))
        .crossJoin(vc.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(vcp.agg(count(lit(1)).as("n_full_funnel")))
    }),

    "x_cohort_retention" -> ((s, dir) => {
      // Weekly cohort retention: cohort = week of the user's first event,
      // activity = distinct (user, week), offset = exact integer week
      // difference (both engines truncate weeks to Monday UTC, so the
      // millisecond difference is an exact multiple of 604800000). The
      // classic growth-analytics triangle view.
      val ev = t(s, dir, "events")
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"),
          unix_millis(date_trunc("week", col("first_ts"))).as("cohort_ms"))
      val activity = ev.select(col("user_id"),
        unix_millis(date_trunc("week", col("ts"))).as("week_ms")).distinct()
      cohort.join(activity, Seq("user_id"))
        .withColumn("week_offset",
          expr("(week_ms - cohort_ms) div 604800000")) // exact integer weeks
        .groupBy(col("cohort_ms"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_ms", "week_offset")
    }),

    "x_ingest_jsonl" -> ((s, dir) => {
      // Robust JSONL ingestion — the format 100 TB web corpora actually
      // arrive in, where some fraction of lines is always damaged. Spark
      // reads with an EXPLICIT schema in PERMISSIVE mode: malformed lines
      // land whole in _corrupt_record (never killing the job, never
      // silently dropped) and the clean rows parse typed. The oracle
      // re-reads the SAME staged file line-wise in DuckDB and replays the
      // parse with json_valid + json_extract — so the check covers the
      // quarantine semantics, not just the fixture round trip.
      val path = writeJsonlStageFixture(s, dir)
      readJsonlStage(s, path)
        // the doc_id conjunct keeps a DATA column referenced even when a
        // count() prunes the projection away — a filter touching ONLY
        // _corrupt_record is disallowed on raw JSON reads (Spark's
        // corrupt-record rule) and failed the bench's count-only run;
        // semantically identical (quarantined rows parse doc_id as null)
        .filter(col("_corrupt_record").isNull && col("doc_id").isNotNull)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "x_ingest_jsonl_report" -> ((s, dir) => {
      // The ingestion health report over the same permissive read: rows
      // and char mass per language, with damaged lines grouped under
      // '__quarantine' — the per-batch monitoring view an ingestion
      // pipeline alerts on (quarantine ratio spike = upstream breakage).
      val path = writeJsonlStageFixture(s, dir)
      readJsonlStage(s, path)
        .groupBy(coalesce(col("lang"), lit("__quarantine")).as("lang_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"))
        .orderBy("lang_bucket")
    }),

    "x_ingest_binary" -> ((s, dir) => {
      // Multimodal ingest step 0: raw image FILES through Spark's
      // binaryFile source (path/length/content — what a crawl's media
      // sidecar actually is on disk). BMP payloads stage
      // deterministically from the documents fixture, executor-side
      // through the Hadoop FS; the oracle reads the SAME files via
      // DuckDB read_blob. Integrity column = md5 over the lowercase hex
      // of the bytes — both engines hash the same ASCII string, where a
      // blob→varchar cast would die on non-UTF8 bytes.
      val staged = stageIndex(binIngestDir, dir) {
        val out = binIngestDir
        graft.operators.Multimodal.withBmpPayload(
            t(s, dir, "documents").filter(col("doc_id") < 100),
            "doc_id", "text")
          .select(col("doc_id"), col("payload"))
          .repartition(8)
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            val fs = org.apache.hadoop.fs.FileSystem.get(
              new java.net.URI(out),
              new org.apache.hadoop.conf.Configuration())
            it.foreach { r =>
              val p = new org.apache.hadoop.fs.Path(
                out, f"doc_${r.getLong(0)}%05d.bmp")
              val os = fs.create(p, true)
              try os.write(r.getAs[Array[Byte]](1)) finally os.close()
            }
          }
      }
      // pathGlobFilter instead of a glob IN the path: a glob path trips
      // FileStreamSink's metadata probe into logging a WARN + stack
      // every run, which would dirty the bench's clean-tail gate
      s.read.format("binaryFile").option("pathGlobFilter", "*.bmp")
        .load(staged)
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          col("length").as("n_bytes"),
          md5(lower(hex(col("content")))).as("content_md5"))
        .orderBy("fname")
    }),

    "x_ingest_orc" -> ((s, dir) => {
      // Columnar interchange beyond parquet: the corpus staged as ORC
      // (Spark-native writer; footer-stats/predicate pushdown work like
      // parquet's — PlanSpec gates it), read back and aggregated.
      // DuckDB cannot read ORC, so the oracle aggregates the SOURCE
      // table instead — which is exactly what makes this a LOSSLESS
      // round-trip check: any value damaged in the ORC write/read path
      // hash-mismatches.
      val orcDir = stagingPath("orc_stage")
      t(s, dir, "documents").write.mode("overwrite").orc(orcDir)
      s.read.orc(orcDir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          countDistinct(col("source")).as("n_sources"),
          sum(length(col("text"))).cast("long").as("sum_text_len"))
        .orderBy("lang")
    }),

    "x_kmv_distinct" -> ((s, dir) =>
      // Per-source distinct-text cardinality: KMV sketch estimate NEXT TO
      // the exact count (the accuracy audit). Capacity 16 < the ~25
      // distinct texts per source, so this deliberately exercises the
      // ESTIMATOR regime — which still hash-verifies, because KMV's
      // k-th-minimum is a rank selection DuckDB replays over the same
      // md5-prefix hashes (merge = set union, no tie-order sensitivity).
      graft.operators.Sketches.kmvDistinct(t(s, dir, "documents"),
          "source", "text", capacity = 16)
        .orderBy("source")),

    "x_stream_distinct" -> ((s, dir) => {
      // Streaming per-window distinct users through a REAL stream via the
      // mergeable KMV sketch as watermarked window state. Capacity 512 >
      // the fixture's 150 users, so the buffer holds every distinct hash
      // and the emitted value IS the exact per-window distinct count —
      // replayed by DuckDB count(DISTINCT); the estimator regime is
      // spec-pinned (SketchesSpec).
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      graft.streaming.StreamDistinct.runOnce(s, dir, "events.parquet",
          schema, "user_id", capacity = 512)
        .orderBy("window_start_ms")
    }),

    "x_stream_latedata" -> ((s, dir) => {
      // Late-data accounting through a REAL two-micro-batch stream: the
      // second batch replays early events behind the advanced watermark
      // and the report carries numRowsDroppedByWatermark — the metric a
      // production stream alerts on. Rows-only by design (the drop
      // counter is engine telemetry, not SQL-replayable); emitted-window
      // integrity vs the batch aggregation is spec-pinned
      // (LateDataSpec).
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      graft.streaming.LateData.runOnce(s, dir, stagingPath("latedata"))
    }),

    "x_stream_quantiles" -> ((s, dir) => {
      // Streaming per-window value percentiles (p50/p90/p99) through a
      // REAL stream via the mergeable quantile sketch as window state.
      // Selection-only semantics: in the exact regime (window rows fit
      // the summary — true at every fixture SF for hourly windows) the
      // emitted values are the elements at rank ceil(q·n), which DuckDB
      // replays by sorted rank.
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      graft.streaming.StreamQuantiles.runOnce(s, dir, "events.parquet",
          schema, "value")
        .orderBy("window_start_ms")
    }),

    "x_quantile_sketch" -> ((s, dir) => {
      // Batch grouped quantiles via the same mergeable sketch — partial
      // summaries merge map-side like any aggregate. Capacity 131072
      // keeps the sf0.01 correctness gate in the exact regime (20k rows
      // per returnflag); beyond that the estimates carry the documented
      // one-sided rank error — the sketch's contract, priced not hidden.
      val qagg = udaf(new graft.operators.Sketches.QuantileSketchAgg(
        131072, Seq(0.5, 0.9, 0.99)),
        org.apache.spark.sql.Encoders.scalaDouble)
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          qagg(col("l_extendedprice").cast("double")).as("__qs"))
        .select(col("l_returnflag"), col("n_rows"),
          element_at(col("__qs"), 1).as("q50"),
          element_at(col("__qs"), 2).as("q90"),
          element_at(col("__qs"), 3).as("q99"))
        .orderBy("l_returnflag")
    }),

    "x_stream_incremental" -> ((s, dir) => {
      // Streaming incremental dedup vs a static corpus index (stateless
      // sign + stream-static band join), invoked in batch mode. Rows-only;
      // StreamDedupSpec pins agreement with the batch incremental report.
      val docs = t(s, dir, "documents")
      val idx = graft.streaming.StreamDedup.corpusBandIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      graft.streaming.StreamDedup.vsCorpusHits(
          docs.filter(col("doc_id") % 5 === 0), idx, "doc_id", "text", 0.7)
        .dropDuplicates("doc_id")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "x_dedup_minhash_fast" -> ((s, dir) =>
      // PRODUCTION dedup configuration: xxhash64 double-hash family +
      // signature-estimator verification (no shingle re-join). Rows-only —
      // xxhash64 isn't replayable in the oracle — but the estimator path
      // is spec-pinned against the exact path (OperatorSpec), and this
      // entry makes the driver bench price the configuration a 100 TB run
      // would actually use (the md5/exact-verify entry above prices the
      // oracle replay, ~2-4× dearer).
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", 0.7,
          numHashes = lshNumHashes, bands = lshBandCount,
          base = Dedup.Hashers.xx64Base,
          maxBucketSize = Some(lshBucketCap), verifyExact = false)
        .orderBy("a", "b")),

    "x_dedup_cross_fast" -> ((s, dir) => {
      // PRODUCTION decontamination configuration (xx64Base + estimator
      // verify) — rows-only companion of x_dedup_cross, same rationale as
      // x_dedup_minhash_fast.
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusPairs(docs, docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", 0.7, base = Dedup.Hashers.xx64Base,
          verifyExact = false)
        .orderBy("cand_id")
    }),

    "x_dedup_incremental" -> ((s, dir) => {
      // Daily-ingest shape: the new batch (every 5th doc) dedups against
      // the existing corpus (the rest) with the batch broadcast and the
      // corpus streaming, plus earlier-wins dedup inside the batch.
      // md5Base so DuckDB replays the band pipeline.
      val docs = t(s, dir, "documents")
      Dedup.incrementalDedup(docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", 0.7, base = Dedup.Hashers.md5Base)
        .orderBy("doc_id")
    }),

    "x_dedup_sig_persisted" -> ((s, dir) => {
      // BAND-PARTITIONED SIGNATURE REGISTRY serve (r16): the corpus is
      // signed once into the hash-routed layout (sigs/sp=, bands/bk=,
      // meta); the arriving batch (every 5th doc) dedups against the
      // ARTIFACT alone — corpus text never re-read, band keys never
      // re-derived (the flat registry's 6.4×/decade serve scan), both
      // registry reads rooted at the batch's touched buckets.
      // Verification by signature agreement (n_agree ≥ ⌈0.7·128⌉ = 90),
      // oracle-hashable via the md5 family + the persisted replay.
      val path = stageIndex(sigIdxDir, dir) {
        Dedup.buildSigRegistry(
          t(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", sigIdxDir, base = Dedup.Hashers.md5Base)
      }
      Dedup.serveSigRegistry(s, path,
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text", 0.7)
        .orderBy("doc_id", "corpus_id")
    }),

    "x_dedup_sig_appended" -> ((s, dir) => {
      // REGISTRY APPEND lifecycle: later corpus slices land as NEW
      // files in their hash-routed partitions (no rewrite — O(batch)
      // ingest). This entry hashes the RAW appended membership (the
      // flat kernel over the pointer-resolved signature table, sidecar
      // ignored) — x_dedup_sig_deleted hashes the sidecar-suppressed
      // serve of the same fixture, so the pair pins both views.
      val path = stagedSigLifecycle(s, dir)
      Dedup.dedupeAgainstSignatures(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          s.read.parquet(
              graft.operators.AnnIndex.resolveDir(s, path, "sigs"))
            .select("doc_id", "sig"),
          "doc_id", "text", 0.7, base = Dedup.Hashers.md5Base)
        .orderBy("doc_id", "corpus_id")
    }),

    "x_dedup_sig_deleted" -> ((s, dir) => {
      // REGISTRY TAKEDOWN: tombstoned corpus docs (an O(ids) sidecar,
      // never an O(registry) rewrite — the ANN deletion-vector
      // convention) are suppressed INSIDE the partitioned serve (the
      // pruned band rows anti-join the sidecar before the bucket cap);
      // their near-dup flags disappear from the report.
      val path = stagedSigLifecycle(s, dir)
      Dedup.serveSigRegistry(s, path,
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text", 0.7)
        .orderBy("doc_id", "corpus_id")
    }),

    "x_dedup_sig_compacted" -> ((s, dir) => {
      // REGISTRY AUTO-COMPACTION: the lifecycle fixture's tombstone
      // fraction trips `sigRegistryCompactIfNeeded`, which FOLDS the
      // sidecar into BOTH hash-routed components (sigs and bands) and
      // resets it — the maintenance verb the describe gauge was waiting
      // for. The serve then reads the folded registry DIRECTLY (no
      // sidecar left to honor), and its rows must equal
      // x_dedup_sig_deleted's suppressed serve: the fold removed
      // exactly the tombstoned docs and nothing else, oracle-hashed
      // over the compacted parquet alone.
      val path = stagedSigCompacted(s, dir)
      Dedup.serveSigRegistry(s, path,
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text", 0.7)
        .orderBy("doc_id", "corpus_id")
    }),

    "x_stream_sigdedup" -> ((s, dir) => {
      // LIVE ingest-dedup against the persisted registry: each arriving
      // micro-batch is signed and flagged via foreachBatch — corpus text
      // never read, per-doc results batch-invariant, so this shares
      // x_dedup_sig_persisted's oracle verbatim.
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val path = stageIndex(sigIdxDir, dir) {
        Dedup.buildSigRegistry(
          t(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", sigIdxDir, base = Dedup.Hashers.md5Base)
      }
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      graft.streaming.StreamSigDedup.runOnce(s, dir, "documents.parquet",
          schema, col("doc_id") % 5 === 0,
          s.read.parquet(
              graft.operators.AnnIndex.resolveDir(s, path, "sigs"))
            .select("doc_id", "sig"),
          "doc_id", "text", 0.7,
          base = Dedup.Hashers.md5Base)
        .orderBy("doc_id", "corpus_id")
    }),

    "x_dedup_sig_report" -> ((s, dir) => {
      // REGISTRY OBSERVABILITY: doc count, parquet-file census (the
      // compaction gauge for append-heavy registries), signature-width
      // bounds, pending tombstones — the describeIvf of the dedup
      // pillar; the oracle replays the file census via
      // read_parquet(filename = true).
      val path = stagedSigLifecycle(s, dir)
      Dedup.describeSigRegistry(s, path)
    }),

    "x_dedup_incremental_fast" -> ((s, dir) => { // rows-only: production config
      // Same increment-vs-corpus report priced at the production settings
      // (xxhash64 family, signature-estimator verify) — what a daily 100 TB
      // ingest actually runs; the md5 entry above prices the oracle replay.
      val docs = t(s, dir, "documents")
      Dedup.incrementalDedup(docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", 0.7, verifyExact = false)
        .orderBy("doc_id")
    }),

    "x_dedup_containment" -> ((s, dir) =>
      // Asymmetric near-dup: the smaller shingle set >= 80% inside the
      // other — catches excerpts/quotes that Jaccard structurally misses.
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", 0.8,
          maxShingleFreq = Some(jaccardFreqCap))
        .orderBy("a", "b")),

    "x_cluster_assign" -> ((s, dir) =>
      // k-means-style cell assignment as a first-class output: nearest
      // literal centroid per vector, computed as a shuffle-free projection
      // argmax (the SemDeDup/IVF building block, exposed standalone).
      Dedup.semanticCells(t(s, dir, "embeddings"), "vec_id", "embedding", 16)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")),

    "x_cluster_cohesion" -> ((s, dir) =>
      // CELL HEALTH: per semantic cell, member→own-centroid dot
      // statistics (exact lattice integers from the same VecDotMatrix
      // pass that assigns the cell) — the observability that tells you
      // nlist is too small (anti-aligned members) or a cell needs
      // splitting (huge spread).
      Dedup.cellCohesionReport(t(s, dir, "embeddings"),
          "vec_id", "embedding", 16)
        .orderBy("cell")),

    "x_corpus_topics" -> ((s, dir) => {
      // Corpus TOPIC report: the deterministic semantic cells ("topics")
      // joined to document metadata — per topic: volume, language and
      // source spread, char mass. Clustering is the shuffle-free
      // projection argmax of x_cluster_assign; the report adds one join
      // + one aggregation — the corpus-composition view a data-mixing
      // policy is written against.
      val cells = Dedup.semanticCells(
          t(s, dir, "embeddings"), "vec_id", "embedding", 16)
        .select(col("id").as("doc_id"), col("cell"))
      cells.join(t(s, dir, "documents"), Seq("doc_id"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("cell")
    }),

    "x_export_manifest" -> ((s, dir) => {
      // Shard manifest — the exactly-what-shipped audit a trainer
      // validates a delivered dataset against: per deterministic shard,
      // row count, token/char mass, and an ORDER-INDEPENDENT content
      // checksum (Σ md5-prefix(id|text) mod P — modular so the partial
      // sums can merge map-side in any order without overflow; ANSI-mode
      // long sums would throw on a plain 60-bit sum past 8 rows).
      val P = 1000000007L
      val sharded = Curation.shuffleShards(
        t(s, dir, "documents"), "doc_id", 8)
      sharded
        .withColumn("__h", conv(substring(md5(concat(
            col("doc_id").cast("string"), lit("|"), col("text"))), 1, 15),
          16, 10).cast("long") % P)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          (sum(col("__h")) % P).as("checksum"))
        .orderBy("shard")
    }),

    "x_eval_clusters" -> ((s, dir) => {
      // CLUSTERING evaluation — the third evaluation pillar next to
      // retrieval (x_eval_retrieval) and dedup (x_eval_dedup): the
      // deterministic semantic cells scored against the embeddings
      // fixture's ground-truth labels. Per cell: members, majority-label
      // mass (purity numerator), label spread — all exact integers, ties
      // resolved (count desc, label asc) identically in both engines.
      val cells = Dedup.semanticCells(
          t(s, dir, "embeddings"), "vec_id", "embedding", 16)
        .select(col("id").as("vec_id"), col("cell"))
      val counts = cells
        .join(t(s, dir, "embeddings").select("vec_id", "label"), Seq("vec_id"))
        .groupBy(col("cell"), col("label"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("cell"))
        .agg(sum(col("n")).as("n_members"),
          max(struct(col("n"), (lit(0L) - col("label")).as("negl"))).as("__mx"),
          countDistinct(col("label")).as("n_labels"))
        .select(col("cell"), col("n_members"),
          col("__mx.n").as("n_majority"),
          (lit(0L) - col("__mx.negl")).as("majority_label"),
          col("n_labels"))
        .orderBy("cell")
    }),

    "x_curate_lengthclip" -> ((s, dir) => {
      // Sketch-driven length clipping: per-language p05/p95 of doc length
      // from the mergeable quantile sketch (exact regime at fixture
      // scales — selection-only semantics, so the bounds are actual data
      // values DuckDB replays by sorted rank), broadcast back as the keep
      // band. The "trim the length-outlier tails per language" curation
      // step, with the POLICY derived from a sketch instead of a global
      // sort.
      val qa = udaf(new graft.operators.Sketches.QuantileSketchAgg(
        4096, Seq(0.05, 0.95)), org.apache.spark.sql.Encoders.scalaDouble)
      val docs = t(s, dir, "documents")
      val bounds = docs.groupBy(col("lang"))
        .agg(qa(col("n_chars").cast("double")).as("__qs"),
          count(lit(1)).as("n_total"))
        .select(col("lang"),
          element_at(col("__qs"), 1).cast("long").as("lo_chars"),
          element_at(col("__qs"), 2).cast("long").as("hi_chars"),
          col("n_total"))
      docs.join(broadcast(bounds), Seq("lang"))
        .filter(col("n_chars") >= col("lo_chars") &&
          col("n_chars") <= col("hi_chars"))
        .groupBy(col("lang"))
        .agg(max(col("lo_chars")).as("lo_chars"),
          max(col("hi_chars")).as("hi_chars"),
          count(lit(1)).as("n_kept"),
          (max(col("n_total")) - count(lit(1))).as("n_dropped"))
        .orderBy("lang")
    }),

    "x_ingest_evolution" -> ((s, dir) => {
      // Schema-evolution ingestion: two parquet "crawl eras" staged with
      // DIFFERENT schemas (the newer era adds a score column), read as
      // one corpus via mergeSchema — the absent column surfaces as NULL
      // for old-era rows instead of failing the scan or silently
      // dropping files. The per-lang report pins the union semantics;
      // DuckDB replays with read_parquet(union_by_name).
      val (v1, v2) = writeEvolutionFixture(s, dir)
      val merged = s.read.option("mergeSchema", "true").parquet(v1, v2)
      merged.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("score").isNotNull, 1L).otherwise(0L))
            .as("n_with_score"),
          sum(coalesce(col("score"), lit(0L))).as("sum_score"))
        .orderBy("lang")
    }),

    "x_snapshot_diff" -> ((s, dir) => {
      // Corpus snapshot diff: removals (every 11th+3), in-place text
      // changes (every 7th), additions (every 13th re-keyed) classified
      // in one fingerprint-reduced full outer join.
      val docs = t(s, dir, "documents")
      val newSnap = docs
        .filter(col("doc_id") % 11 =!= 3)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      Curation.snapshotDiff(docs, newSnap, "doc_id",
          Seq("text", "lang", "source"))
        .orderBy("doc_id")
    }),

    "x_cdc_snapshot" -> ((s, dir) =>
      // Merge-on-read over a Debezium-shaped change log (insert all →
      // update every 7th → delete every 11th+3 → re-insert the even
      // deletes): ONE max_by hash-aggregate, partial-aggregable — the
      // plan that survives a log with billions of superseded rows (a
      // row_number window would full-sort every key group).
      Cdc.applyLog(cdcLog(s, dir), "doc_id", "seq", "op")
        .orderBy("doc_id")),

    "x_cdc_history" -> ((s, dir) =>
      // SCD2 validity intervals over the same log: every version carries
      // [seq_from, seq_to) via a KEYED lead() window; tombstones close
      // their predecessor and are never "current".
      Cdc.history(cdcLog(s, dir), "doc_id", "seq", "op")
        .select("doc_id", "op", "seq_from", "seq_to", "is_current")
        .orderBy("doc_id", "seq_from")),

    "x_cdc_report" -> ((s, dir) => {
      // Change-log health report — the observability a CDC consumer
      // alarms on: per sequence slice, operation mix, keys touched, and
      // the NET row delta the snapshot will see (inserts of absent keys
      // minus deletes of present ones is what applyLog's count moves
      // by; here the per-op tallies that feed that reasoning).
      val log = cdcLog(s, dir)
      log.groupBy(col("seq"))
        .agg(
          count(lit(1)).cast("long").as("n_changes"),
          countDistinct(col("doc_id")).cast("long").as("n_keys"),
          sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_insert"),
          sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_update"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_delete"),
          sum(when(col("text").isNull && col("op") =!= "D", 1L)
            .otherwise(0L)).as("n_suspect_null_payload"))
        .orderBy("seq")
    }),

    "x_cdc_asof" -> ((s, dir) =>
      // Time travel: the table AS OF seq 3 — after the deletes, before
      // the revives, so the cut EXERCISES the tombstone branch (an
      // asOf inside the I/U prefix would leave the oracle's op <> 'D'
      // filter and arg_max's null-payload handling as dead code in the
      // only cross-engine check). Same one-aggregate apply behind a
      // pushed-down sequence filter.
      Cdc.snapshotAsOf(cdcLog(s, dir), "doc_id", "seq", "op", asOfSeq = 3L)
        .orderBy("doc_id")),

    "x_cdc_checkpoint" -> ((s, dir) => {
      // LOG COMPACTION is content-neutral for the snapshot: compact at
      // seq 3 (checkpoint AFTER the deletes, so dead keys vanish with
      // their tombstones; the seq-4 revives stay in the tail verbatim),
      // write the compacted log to parquet, and derive the snapshot
      // from the RE-READ artifact alone. Shares x_cdc_snapshot's oracle
      // — applyLog(compacted) ≡ applyLog(original) IS the hash gate
      // (the x_layout_compact content-neutrality pattern).
      val staged = stageIndex(cdcCheckpointDir, dir) {
        Cdc.compactLog(cdcLog(s, dir), "doc_id", "seq", "op", asOfSeq = 3L)
          .write.mode("overwrite").parquet(cdcCheckpointDir)
      }
      Cdc.applyLog(s.read.parquet(staged), "doc_id", "seq", "op")
        .orderBy("doc_id")
    }),

    "x_cdc_checkpoint_asof" -> ((s, dir) =>
      // Time travel AT/ABOVE the checkpoint survives compaction across
      // the delete seam: compact at seq 2 (checkpoint BEFORE the
      // deletes), then AS OF seq 3 — the tail's tombstones must still
      // delete checkpointed keys, and the revives must stay invisible.
      // Shares x_cdc_asof's oracle verbatim.
      Cdc.snapshotAsOf(
          Cdc.compactLog(cdcLog(s, dir), "doc_id", "seq", "op", asOfSeq = 2L),
          "doc_id", "seq", "op", asOfSeq = 3L)
        .orderBy("doc_id")),

    "x_stream_cdc" -> ((s, dir) => {
      // The LIVE CDC applier: the same change log staged one file per
      // commit slice, consumed readStream → foreachBatch (LWW reduce,
      // seq guard vs the stored snapshot, upserts + delete_features
      // against the hosted table) under maxFilesPerTrigger=1 — four
      // micro-batches crossing the guard. Must converge to the exact
      // x_cdc_snapshot table; the oracle IS x_cdc_snapshot's.
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val log = cdcLog(s, dir)
      val stage =
        stagingPath(s"stream_cdc/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      graft.streaming.StreamCdc.stageLogSlices(log, "seq", stage,
        (1L to 4L).map(Seq(_)))
      graft.streaming.StreamCdc.runOnce(s, stage, log.schema,
          "doc_id", "seq", "op")
        .orderBy("doc_id")
    }),

    "x_emb_sq8" -> ((s, dir) =>
      // Trained FAISS-SQ8-style scalar quantization: per-dimension
      // corpus min/max grid, integer-exact codes + reconstruction error
      // on the fixed-point lattice — the 4× storage path whose codes are
      // comparable ACROSS vectors (unlike the per-vector max-abs
      // quantizeInt8).
      Embeddings.scalarQuantizeTrained(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .select("vec_id", "code_digest", "err_scaled", "n_dims")
        .orderBy("vec_id")),

    "x_text_extract_html" -> ((s, dir) => {
      // CommonCrawl step-1: markup → training text. Pages are
      // synthesized from the documents table (title with an entity,
      // style/script/comment subtrees to drop, block tags, anchors
      // injected around 'table' tokens) so the extractor faces every
      // branch; the oracle rebuilds the same pages and replays the
      // identical RE2∩Java regex chain.
      val docs = t(s, dir, "documents")
      HtmlText.extract(
          docs.select(col("doc_id"), syntheticHtml.as("html")),
          "doc_id", "html")
        .orderBy("doc_id")
    }),

    "x_pipeline_web" -> ((s, dir) => {
      // End-to-end web-corpus slice: synthesize pages → extract text →
      // quality gate (min chars + link-density cap, the boilerplate
      // signal n_links exists for) → exact dedup on the EXTRACTED text
      // keeping the smallest id — the first stages of a crawl pipeline
      // composed, hash-replayed as one chain.
      val docs = t(s, dir, "documents")
      Dedup.exactWithHash(
          HtmlText.extract(
              docs.select(col("doc_id"), syntheticHtml.as("html")),
              "doc_id", "html")
            .filter(col("text_chars") >= 50 && col("n_links") <= 5),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "x_stream_sq8" -> ((s, dir) => {
      // Ingest-time embedding featurization: arriving vectors encode
      // against the FROZEN persisted grid through the projection-only
      // encoder (grid = plan-constant arrays, indexed transform — no
      // join, zero state). The oracle recodes from the same grid
      // parquet, so the live stream hash-proves the frozen-grid codes.
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val path = stageIndex(sq8IdxDir, dir) {
        graft.operators.Embeddings.scalarGrid(
            t(s, dir, "embeddings"), "vec_id", "embedding")
          .coalesce(1).write.mode("overwrite").parquet(s"$sq8IdxDir/grid")
      }
      val grid = s.read.parquet(s"$path/grid")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
      graft.streaming.StreamTuning.replay(s, dir, "embeddings.parquet", schema)(
          graft.operators.Embeddings.encodeWithGridProjection(
            _, "vec_id", "embedding", grid).select("vec_id", "code_digest"))
        .orderBy("vec_id")
    }),

    "x_stream_extract" -> ((s, dir) => {
      // The extraction chain is a PURE projection, so it runs unchanged
      // on a live stream with zero state — ingest-time text extraction
      // where the crawl lands. Shares x_text_extract_html's oracle: the
      // real readStream run must hash-match the batch chain.
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      graft.streaming.StreamTuning.replay(s, dir, "documents.parquet", schema)(
          raw => HtmlText.extract(
            raw.select(col("doc_id"), syntheticHtml.as("html")),
            "doc_id", "html"))
        .orderBy("doc_id")
    }),

    "x_sft_format" -> ((s, dir) =>
      // Chat-format SFT assembly: documents grouped by source into
      // conversations (ordered by doc_id, alternating user/assistant),
      // tagged, joined, with total vs LOSS token counts — the
      // post-training data-prep step between curation and the trainer.
      Curation.sftAssemble(
          t(s, dir, "documents"), "source", "doc_id", "text")
        .select(col("source").as("conv_id"), col("n_turns"),
          col("total_tokens"), col("loss_tokens"), col("sft_md5"))
        .orderBy("conv_id")),

    "x_sft_spans" -> ((s, dir) =>
      // The loss mask itself: per-turn token intervals [tok_start,
      // tok_end) in the assembled sequence, loss only on assistant
      // turns — a keyed running-sum window, aligned by construction
      // with x_sft_format's token arithmetic.
      Curation.sftTurns(
          t(s, dir, "documents"), "source", "doc_id", "text")
        .select(col("source").as("conv_id"), col("turn_idx"), col("role"),
          col("turn_tokens"), col("tok_start"), col("tok_end"),
          col("loss_turn"))
        .orderBy("conv_id", "turn_idx")),

    "x_sft_span_corrupt" -> ((s, dir) =>
      // T5-style SPAN CORRUPTION pairs: deterministic hash-masked token
      // runs collapse to sentinels in the input; the masked runs become
      // the target — the denoising-objective data prep, exact to the
      // string (no RNG state, pure function of the corpus).
      Curation.spanCorruptionPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_stream_spancorrupt" -> ((s, dir) => {
      // Streaming twin of x_sft_span_corrupt: the SAME denoising pairs
      // folded row-locally with array HOFs — no explode, no window,
      // zero streaming state; shares the batch oracle verbatim.
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () }
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      graft.streaming.StreamSpanCorrupt.runOnce(s, dir,
          "documents.parquet", schema, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "x_pref_pairs" -> ((s, dir) =>
      // DPO/RLHF preference-pair assembly — the post-training sibling
      // of x_sft_format: per prompt group (source), the best-scored
      // candidate pairs against each of the next 3 STRICTLY-worse ones
      // (ties are not preferences). One keyed rank window + a keyed
      // best-vs-rest join; margin is integer-exact.
      Curation.preferencePairs(t(s, dir, "documents"),
          "source", "doc_id", "n_chars", maxPairs = 3)
        .orderBy("source", "rejected_id")),

    "x_privacy_kanon" -> ((s, dir) =>
      // k-anonymity release audit over quasi-identifiers (nation ×
      // market segment): one partial-aggregable hash-agg; at_risk
      // combinations identify fewer than k=10 individuals — the data
      // card's privacy gate next to the PII scrub.
      Curation.kAnonymityAudit(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy("c_nationkey", "c_mktsegment")),

    "x_privacy_suppress" -> ((s, dir) =>
      // the enforcement twin: suppress every row in an at-risk
      // quasi-identifier group (broadcast anti-join — the risky-group
      // set is policy-sized by construction)
      Curation.kAnonymitySuppress(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")),

    "x_export_jsonl" -> ((s, dir) => {
      // Sharded JSONL corpus release: canonical hand-assembled lines
      // (explicit field order, backslash-then-quote escaping — never an
      // engine's own JSON serializer, whose spacing/unicode choices
      // differ), md5 shards, one file per shard. UNLIKE the .npy
      // report, the ENTIRE report row replays cross-engine — including
      // the sha256 of the exact file bytes (DuckDB string_agg in shard
      // order || trailing newline hashes to the same digest).
      val docs = t(s, dir, "documents")
      val esc = replace(replace(col("text"), lit("\\"), lit("\\\\")),
        lit("\""), lit("\\\""))
      val line = concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
        lit(",\"lang\":\""), col("lang"), lit("\",\"source\":\""),
        col("source"), lit("\",\"text\":\""), esc, lit("\"}"))
      Curation.exportJsonl(docs.select(col("doc_id"), line.as("line")),
          "doc_id", "line", stagingPath("export_jsonl"), numShards = 8)
        .select("shard_no", "n_rows", "byte_len", "sha256")
        .orderBy("shard_no")
    }),

    "x_mix_waterfill" -> ((s, dir) => {
      // Water-filling budget allocation across sources at 60% of the
      // corpus: small domains keep everything, large ones cap at a
      // common level, Σ allocated ≡ budget EXACTLY (integer level +
      // deterministic remainder rule). The sort windows run over the
      // domain table, never the corpus.
      val docs = t(s, dir, "documents")
      val total = docs.agg(sum(col("n_chars")).cast("long")).head().getLong(0)
      Curation.domainWaterfill(docs, "source", "n_chars", total * 6 / 10)
        .orderBy("source")
    }),

    "x_mix_waterfill_take" -> ((s, dir) => {
      // the allocation ENFORCED: per source, docs in doc_id order until
      // the water-filled budget is reached (≤ one-doc overrun per
      // domain — the takeByBudget convention, keyed per domain)
      val docs = t(s, dir, "documents")
      val total = docs.agg(sum(col("n_chars")).cast("long")).head().getLong(0)
      Curation.waterfillTake(docs, "source", "doc_id", "n_chars",
          total * 6 / 10)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    "x_privacy_ldiv" -> ((s, dir) =>
      // l-diversity audit — the homogeneity-attack companion to
      // x_privacy_kanon: a (nation, segment) group where EVERY member
      // shares the same account-balance sign leaks the sensitive
      // attribute even when k-anonymous. Same one-aggregate shape.
      Curation.lDiversityAudit(
          t(s, dir, "customer").withColumn("bal_sign",
            when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("pos"))),
          Seq("c_nationkey", "c_mktsegment"), "bal_sign", l = 2)
        .orderBy("c_nationkey", "c_mktsegment")),

    "x_privacy_tclose" -> ((s, dir) =>
      // t-closeness audit — the distribution-skew companion completing
      // the k-anonymity / l-diversity trilogy: a (nation, segment)
      // group whose balance-sign mix deviates >300‰ (total variation)
      // from the corpus-wide mix leaks the sensitive attribute even
      // when k-anonymous and l-diverse.
      Curation.tClosenessAudit(
          t(s, dir, "customer").withColumn("bal_sign",
            when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("pos"))),
          Seq("c_nationkey", "c_mktsegment"), "bal_sign", tPermille = 300)
        .orderBy("c_nationkey", "c_mktsegment")),

    "x_contrastive_triplets" -> ((s, dir) => {
      // (anchor, positive, negative) training triplets: positives = mined
      // jaccard near-dups, negatives = deterministic per-shard md5
      // derangement — no cross join, no random state.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6,
        maxShingleFreq = Some(jaccardFreqCap))
      Curation.contrastiveTriplets(docs, pairs, "doc_id", numShards = 8)
        .orderBy("anchor", "positive")
    }),

    "x_quality_flags" -> ((s, dir) =>
      // Gopher/C4-style rule bundle with per-rule attribution flags —
      // deterministic IEEE comparisons, oracle-replayed bit-for-bit.
      TextAnalysis.qualityFlags(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_knn_graph" -> ((s, dir) => // oracle: full IVF probe+rerank replay
      // All-corpus kNN edge list via IVF probing with the probe side
      // shuffle-joined on the cell id (corpus-sized — never broadcast).
      // nlist grows with the corpus (64 cells here): the cell key is the
      // join's parallelism AND bounds per-query candidates at
      // nprobe/nlist of the corpus — 16 cells made both degenerate.
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding", 5,
          nlist = 64, nprobe = 8)
        .orderBy("qid", "rank")),

    "x_hard_negatives" -> ((s, dir) =>
      // Contrastive-training data prep: per anchor, nearest neighbor as
      // the positive and the best-ranked sub-threshold neighbor as the
      // hard negative (ANCE-style top-ranked non-positive). One
      // conditional agg over the oracle-replayable kNN edge list.
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 5, dupThreshold = 0.9, nlist = 64, nprobe = 8)
        .orderBy("anchor")),

    "x_knn_components" -> ((s, dir) =>
      // Graph-based curation on the kNN edge list: keep only MUTUAL
      // top-k edges (hub/boundary pruning), resolve connected components
      // by pointer-jumping CC, keep the smallest-id exemplar — the
      // SemDeDup-adjacent "cluster the neighborhood graph" primitive.
      // Fully oracle-replayed: IVF edges + mutuality + recursive-CTE CC.
      Similarity.mutualKnnComponents(t(s, dir, "embeddings"),
          "vec_id", "embedding", 5, nlist = 64, nprobe = 8)
        .select(col("doc_id").as("vec_id"), col("cluster_id"),
          col("n_members"), col("keep"))
        .orderBy("vec_id")),

    "x_graph_pagerank" -> ((s, dir) => { // centrality-based data selection
      // PageRank over the kNN similarity graph: hub documents (high pr)
      // are the corpus's most-representative picks; the ordered-fold
      // variant makes every float rank bit-replayable by the oracle.
      val edges = Similarity.knnGraph(t(s, dir, "embeddings"),
        "vec_id", "embedding", 5, nlist = 64, nprobe = 8)
      GraphOps.pageRank(edges, "qid", "id", iterations = 3)
        .select(col("node").as("vec_id"), col("pr"))
        .orderBy("vec_id")
    }),

    "x_graph_triangles" -> ((s, dir) => { // triangle census of the kNN graph
      // Exact triangles + local clustering coefficients over the same
      // kNN similarity graph as pagerank/labelprop: coefficient → 1
      // flags near-duplicate clique neighborhoods, → 0 flags hubs
      // stitched to strangers. Degree-ordered compact-forward keeps the
      // wedge join O(m^1.5) at any hub; every figure is integer so the
      // whole census hash-verifies through the full kNN replay.
      val edges = Similarity.knnGraph(t(s, dir, "embeddings"),
        "vec_id", "embedding", 5, nlist = 64, nprobe = 8)
      GraphOps.triangleCount(edges, "qid", "id")
        .orderBy("node")
    }),

    "x_quality_topquartile" -> ((s, dir) => {
      // Relative quality gate: top 25% per language by stopword ratio,
      // integer rank-vs-count test (no percentile estimate).
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.quality(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      Curation.topFractionByDomain(scored, "lang", "doc_id", "stopword_ratio")
        .select("doc_id", "lang", "n_tokens", "stopword_ratio")
        .orderBy("doc_id")
    }),

    "x_dedup_spans" -> ((s, dir) =>
      // Duplicate-substring localization: maximal token spans whose every
      // 8-gram appears in >= 2 distinct docs — what suffix-array dedup
      // clips, as one shingle agg + semi-join + per-doc run merge.
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start")),

    "x_dedup_clip" -> ((s, dir) =>
      // Span clipping: duplicated 8-gram runs removed from each doc (the
      // keep-the-document transform); unaffected docs pass through.
      Dedup.clipSpans(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "x_decontam_ngram" -> ((s, dir) => {
      // Exact 8-gram eval-contamination report: reference corpus = every
      // 7th doc, candidates = the rest. 13 is the published convention;
      // 8 keeps the check meaningful on the short synthetic docs.
      val docs = t(s, dir, "documents")
      Dedup.ngramOverlapReport(docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", n = 8)
        .orderBy("cand_id")
    }),

    "x_decontam_clip" -> ((s, dir) => {
      // Surgical decontamination: clip reference 8-gram runs out of the
      // candidates (every-7th-doc eval set, matching x_decontam_ngram's
      // split) instead of dropping the whole document.
      val docs = t(s, dir, "documents")
      Dedup.clipContaminated(docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    "x_decontam_embedding" -> ((s, dir) => {
      // Semantic decontamination: every-17th vector is the eval set, the
      // rest the corpus; flag corpus vectors with any eval neighbor at
      // cosine ≥ 3/5 (exact rational test — the oracle replays the full
      // LSH-candidate + integer-threshold pipeline hash-exactly).
      val emb = t(s, dir, "embeddings")
      Dedup.embeddingDecontam(
          emb.filter(col("vec_id") % 17 =!= 0),
          emb.filter(col("vec_id") % 17 === 0),
          "vec_id", "embedding", thresholdNum = 3L, thresholdDen = 5L,
          tables = hpTables, planes = hpPlanes,
          maxRefBucket = Some(hpBucketCap))
        .orderBy("id")
    }),

    "x_decontam_bloom" -> ((s, dir) => {
      // Memory-lean production decontamination: reference n-grams folded
      // into ONE broadcast bitset (fixed KBs vs GBs of strings at
      // benchmark-suite scale), candidates stream through the membership
      // probe. The md5 double-hash bit family makes the ENTIRE filter —
      // bit pattern, membership tests, false positives included —
      // SQL-replayable, so this probabilistic operator runs under the
      // hard hash gate (flipped from rows-only in round 8; the murmur
      // variant remains for raw-throughput deployments, spec-pinned).
      val docs = t(s, dir, "documents")
      Dedup.decontaminateNgramBloomReplayable(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", n = 8,
          numBits = 1 << 20, numHashes = 7)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "x_domain_mix" -> ((s, dir) =>
      // Target-proportion training mix over a 100-doc budget, winners in
      // md5-of-id order (engine-agnostic determinism).
      Curation.domainMix(t(s, dir, "documents").select("doc_id", "lang", "source"),
          "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.05),
          100L)
        .orderBy("doc_id")),

    "x_domain_temperature" -> ((s, dir) =>
      // α=1/2 temperature mix: per-source budgets ∝ isqrt(count), all
      // integer arithmetic so the oracle reproduces every floor exactly.
      Curation.domainMixTemperature(
          t(s, dir, "documents").select("doc_id", "source"),
          "source", "doc_id", 400L)
        .orderBy("doc_id")))
}
