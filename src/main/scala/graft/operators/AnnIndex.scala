package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes: train once, write the index artifacts as
  * parquet, reload and SERVE without ever touching the training path
  * again. At 100 TB nobody re-derives centroids or codebooks per query —
  * [[Similarity.ivfTopK]]/[[Similarity.pqTopK]] stay the exploratory
  * one-shot surface; this is the production lifecycle
  * (build → save → load → serve) over the identical kernels, so the
  * serving plan and every score bit match the in-memory variants
  * (gated in PlanSpec and the query catalog's oracle replays).
  *
  * IVF layout under `path`:
  *  - `centroids/` — (cid long, cvec array double, cnorm double); nlist
  *    rows, read driver-side per serve (bytes).
  *  - `cells/` — (id, vec, norm) PARTITIONED BY cid: the inverted lists.
  *    Serving filters to the probed cids, so the scan prunes to
  *    `nprobe/nlist` of the index at the PARTITION level — the file-skip
  *    analogue of FAISS reading only the probed inverted lists.
  *    Compactions publish REWRITES of this dir (and the PQ `codes/`)
  *    through a versioned-dir + pointer-manifest flip (`cells__v<N>` +
  *    `cells__versions/`); readers resolve the pointer, so a serve
  *    racing a compact never sees a missing or half-renamed directory.
  *
  * Shared under either `path`:
  *  - `tombstones/` — (id): the deletion-vector sidecar. Takedowns
  *    ([[ivfDelete]]/[[pqDelete]]) append here in O(ids); every serve
  *    anti-joins the broadcast sidecar; compaction folds it into the
  *    data files and clears it. N takedowns cost O(N), not O(index).
  *
  * PQ layout under `path`:
  *  - `codebooks/` — (s int, j int, cvec array double): m·ks subvector
  *    centroids, read driver-side per serve (KBs).
  *  - `codes/` — (id, code array int): the PQ-encoded corpus, ~8-64×
  *    smaller than the float vectors it stands in for — the table the
  *    ADC scan reads INSTEAD of the corpus.
  *
  * Build writes the artifacts and then RE-READS them for every
  * derivation step (cell assignment reads the persisted centroids, the
  * code table is encoded from the persisted codebooks), so what is on
  * disk is the source of truth — a build that trained one thing and
  * persisted another would be caught by the serve-equals-in-memory
  * gates.
  */
object AnnIndex {

  // ------------------------------------------------------------- IVF

  /** Resolve the nlist sentinel: 0 derives the cell count from one
    * corpus count at the √n posture ([[Similarity.autoNlist]]) — entry
    * points must not depend on every caller remembering to size nlist
    * (the autoPlanes rule, IVF edition). An explicit positive nlist
    * pins a geometry (oracle-replayed entries do).
    */
  private def resolveNlist(nlist: Int, corpus: DataFrame): Int = {
    require(nlist >= 0,
      s"nlist must be >= 0 (0 = auto-size at the \u221an posture), got $nlist")
    if (nlist > 0) nlist else Similarity.autoNlist(corpus.count())
  }

  /** Train and persist an IVF index. Centroids are id-sampled
    * (deterministic, oracle-replayable — [[Similarity.ivfTopK]]'s
    * choice) unless `trainedSeed` is given, which swaps in the spark.ml
    * k-means path of [[Similarity.ivfTopKTrained]]. One corpus pass for
    * assignment; the cells write shuffles each vector once into its
    * cid partition.
    */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
               path: String, nlist: Int = 0,
               trainedSeed: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    val nl = resolveNlist(nlist, corpus)
    val centroids = trainedSeed match {
      case Some(seed) =>
        Similarity.kmeansCentroids(corpus, idCol, vecCol, nl, seed)
      case None =>
        Similarity.idSampledCentroids(corpus, idCol, vecCol, nl)
    }
    // nlist rows: one file, not 32 near-empty ones
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    stampCentroidNonce(spark, path)
    val cents = loadIvfCentroids(spark, path)
    writeCells(corpus, idCol, vecCol, cents, path)
    // a REBUILD over a path with pending takedowns must not inherit
    // them — the fresh index's membership is exactly the corpus given
    clearTombstones(spark, path)
  }

  /** Rebuild the inverted lists under an EXISTING centroid table (e.g.
    * another index's persisted centroids, or an externally governed
    * set): centroids are the index's identity — re-deriving them on a
    * rebuild would silently orphan every previously assigned cell.
    */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
               path: String, centroids: DataFrame): Unit = {
    val spark = corpus.sparkSession
    // collect BEFORE overwriting (nlist rows — bytes): the natural call
    // rebuilds an index under its own persisted centroid table, and
    // writing a path that is also the plan's source throws ("Cannot
    // overwrite a path that is also being read from"); the driver-side
    // copy detaches the write from any source under `path`
    val cents = Similarity.collectCents(centroids)
    spark.createDataFrame(cents.toIndexedSeq).toDF("cid", "cvec", "cnorm")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    stampCentroidNonce(spark, path)
    writeCells(corpus, idCol, vecCol, loadIvfCentroids(spark, path), path)
    clearTombstones(spark, path)
  }

  /** One-shot inverted-list write: ONE file per cid (repartition on cid
    * routes each cell's rows to a single task before partitionBy) — the
    * cid partition is the index's unit of read, and a build that left
    * task-parallelism-many files per cell hands every serve a
    * small-files tax (32 files/cell measured as most of the ivf_serve
    * probe's metadata growth). The cid shuffle is the build's one
    * corpus move — an index build IS moving every vector into its list.
    * Appends stay task-parallel (small batches); [[ivfCompact]] restores
    * the one-file invariant after an append history.
    */
  private def writeCells(corpus: DataFrame, idCol: String, vecCol: String,
                         cents: Array[(Long, Seq[Double], Double)],
                         path: String): Unit =
    // staged: the fresh cells land complete, THEN the version history
    // resets and the stage renames into the legacy v0 slot — a failed
    // build never destroys the serving index
    publishBuild(corpus.sparkSession, path, "cells") { stage =>
      Similarity.assignCells(Similarity.ensureParallelism(corpus),
          idCol, vecCol, cents)
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(stage)
    }

  /** Append a new corpus batch to a persisted IVF index — the
    * incremental lifecycle ([[graft.operators.Dedup.incrementalDedup]]'s
    * ANN sibling): the batch is assigned against the PERSISTED centroids
    * (never retrained — that would orphan the existing cells) and its
    * rows land append-mode in the cid partitions. O(batch) work per
    * increment; the existing index is never read or rewritten.
    */
  def ivfAppend(batch: DataFrame, idCol: String, vecCol: String,
                path: String): Unit = {
    val spark = batch.sparkSession
    val cents = loadIvfCentroids(spark, path)
    val assigned = Similarity.assignCells(
      Similarity.ensureParallelism(batch), idCol, vecCol, cents)
    // appends land IN the current version dir (pointer-resolved): an
    // append is additive, not a rewrite, so it needs no new version
    val cellsDir = resolveDir(spark, path, "cells")
    // a FULLY-taken-down index holds one unpartitioned empty file (see
    // rewritePartitioned) — appending hive-partitioned files next to it
    // would mix layouts and break the next read; re-establish the
    // partitioned layout with an overwrite instead (nothing is lost: it
    // is empty)
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new org.apache.hadoop.fs.Path(s"$cellsDir/cid=*")
    val partitioned = glob.getFileSystem(conf).globStatus(glob).nonEmpty
    if (partitioned)
      assigned.write.mode("append").partitionBy("cid").parquet(cellsDir)
    else
      assigned.repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(cellsDir)
  }

  /** Compact the inverted lists after a run of appends and takedowns —
    * the VACUUM of the index lifecycle (build → appends/deletes →
    * COMPACT → serve): every append lands its own part files in each
    * touched cid partition, and a long append history turns serving
    * into a small-files problem (listing + task-per-file overhead —
    * exactly what the ivf_serve sf1 probe showed grows while scanned
    * bytes stay flat). Rewrites the cells to ONE file per cid
    * (`repartition(cid)` routes all of a cid's rows to one task, so
    * partitionBy emits a single file), FOLDING IN the tombstone sidecar
    * (the deleted rows physically leave the index here — [[ivfDelete]]
    * only marks them), then swaps directories and clears the sidecar.
    * Served content is untouched — serve-before ≡ serve-after is
    * spec-gated. The publish is a versioned-dir + pointer-manifest flip
    * (one atomic create — see the versioned-publish section): a reader
    * racing the compact resolves either the old or the new complete
    * directory, never a missing or half-renamed one.
    */
  def ivfCompact(spark: SparkSession, path: String): Unit = {
    rewriteCells(spark, path)(minusTombstones(spark, path, _))
    clearTombstones(spark, path)
  }

  /** Delete ids from a persisted IVF index — the takedown /
    * right-to-be-forgotten lifecycle step (at 100 TB, removal requests
    * against served indexes are a compliance requirement, not an edge
    * case). DELETION-VECTOR semantics: the ids are APPENDED to a
    * tombstone sidecar (`path/tombstones` — O(ids) work and bytes, the
    * index itself is never read or rewritten), every serve anti-joins
    * the broadcast sidecar, and [[ivfCompact]] folds it into the cells
    * and clears it. A daily takedown trickle therefore costs O(trickle)
    * per day, not O(index) — the previous rewrite-per-call behavior is
    * exactly what [[ivfCompact]] now amortizes over many takedowns.
    * Centroids are untouched: deletion changes membership, never the
    * index identity. Re-inserting a taken-down id requires a compact
    * first — while the tombstone is pending, the sidecar suppresses the
    * id at serve regardless of appends.
    */
  def ivfDelete(spark: SparkSession, path: String, ids: DataFrame,
                idCol: String): Unit =
    appendTombstones(path, ids, idCol)

  /** Append takedown ids to the index's tombstone sidecar, in the id
    * column's NATIVE type — a cast here would turn e.g. string ids into
    * nulls and make the serve-time anti-join silently delete NOTHING,
    * the worst failure mode a compliance API can have. Duplicates across
    * calls are harmless — the reader distincts. File sizing is NOT
    * `coalesce(1)`: a mass-takedown batch (10⁸ ids) through one task is
    * a straggler and an ever-growing single-file lineage. The `distinct`
    * already shuffles, so AQE's post-shuffle coalescing sizes the output
    * to `spark.sql.adaptive.advisoryPartitionSizeInBytes` — a trickle
    * takedown still lands as one small file, a bulk one fans out. The
    * API is public and callers control the session, so an AQE-disabled
    * session gets an EXPLICIT size guard instead: without it, every
    * trickle takedown would land `spark.sql.shuffle.partitions` near-
    * empty files, and the sidecar is re-read and broadcast on every
    * serve — file count would grow O(calls × partitions) until compact.
    */
  private def appendTombstones(path: String, ids: DataFrame,
                               idCol: String): Unit = {
    val spark = ids.sparkSession
    val d = ids.select(col(idCol).as("id")).distinct()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      .equalsIgnoreCase("true")
    if (aqe) d.write.mode("append").parquet(s"$path/tombstones")
    else {
      // one counted pass sizes the write (4M ids ≈ one compact file);
      // persist so the distinct is not recomputed for the write itself
      d.persist()
      try {
        val n = d.count()
        d.repartition(math.max(1L, n / 4000000L).toInt)
          .write.mode("append").parquet(s"$path/tombstones")
      } finally { d.unpersist(); () }
    }
  }

  /** The pending tombstone set, if any takedowns have not been folded
    * yet (None ⇒ no sidecar ⇒ serve skips the anti-join entirely).
    */
  private[graft] def loadTombstones(spark: SparkSession,
                                    path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(s"$path/tombstones").distinct())
    else None
  }

  /** Suppress tombstoned members: broadcast anti-join on the `id`
    * column (bounded policy data — never a shuffle of the index side).
    */
  private def minusTombstones(spark: SparkSession, path: String,
                              df: DataFrame): DataFrame =
    minusTombstonesPre(loadTombstones(spark, path), df)

  /** The PRELOADED-sidecar form, for serve paths that must fix the
    * load order: compact publishes the folded version FIRST and clears
    * the sidecar SECOND, so a reader that loads the sidecar BEFORE
    * resolving the version pointer can never pair an old (unfolded)
    * directory with an already-cleared sidecar — the one interleaving
    * that would serve deleted ids. (Sidecar present ⇒ suppression is
    * correct against either version; sidecar absent ⇒ the pointer
    * already names the folded version.) Evaluating the index read
    * first — which is what a plain `minusTombstones(resolveDir(...))`
    * call does, arguments first — has exactly that window.
    */
  private def minusTombstonesPre(tombs: Option[DataFrame],
                                 df: DataFrame): DataFrame =
    tombs.fold(df)(t => df.join(broadcast(t), Seq("id"), "left_anti"))

  private[graft] def clearTombstones(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** Shared rewrite: transform the cells, rewrite one file per cid,
    * publish via the versioned pointer flip (no missing-dir window).
    */
  private def rewriteCells(spark: SparkSession, path: String)
                          (f: DataFrame => DataFrame): Unit =
    rewriteVersioned(spark, path, "cells")(f)

  /** The cid-partitioned rewrite shared by the cells and IVF-PQ code
    * tables: transform, rewrite one file per cid, publish atomically.
    */
  private def rewritePartitioned(spark: SparkSession, dir: String)
                                (f: DataFrame => DataFrame): Unit = {
    val tmp = s"${dir}__rewrite"
    val out = f(spark.read.parquet(dir))
    // a FULL takedown must leave a READABLE empty index: an empty
    // partitionBy write emits no part files at all (only _SUCCESS) and
    // the next read cannot infer a schema — write the empty frame
    // unpartitioned instead (a schema-bearing part file; there is
    // nothing left to prune anyway)
    if (out.isEmpty)
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
    else
      out.repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    publishSwap(spark, dir, tmp)
  }

  // --------------------------------------------- versioned publish
  //
  // The rewriteable artifact directories (`cells`, `codes`) publish
  // compactions through a VERSIONED-DIR + POINTER-MANIFEST flip, never
  // an in-place directory swap: a rewrite lands complete as
  // `<name>__v<N>` and becomes the serving directory the instant its
  // manifest entry (`<name>__versions/v<13-digit-N>`, a one-line file
  // naming the dir) is atomically CREATED (overwrite=false — a
  // concurrent second publisher fails loudly instead of interleaving).
  // Readers resolve the highest manifest entry; there is NO window in
  // which the serving directory is missing or half-renamed. The
  // PREVIOUS version's directory is retained through one publish — a
  // reader that resolved it mid-compact keeps a complete directory to
  // finish on — and pruned by the next. The unversioned `<name>`
  // directory a build writes is version 0 of the same scheme, so a
  // never-compacted index has no manifest and no extra indirection.

  private def manifestDir(path: String, name: String): String =
    s"$path/${name}__versions"

  /** (current version, current data dir NAME) — (0, name) when no
    * manifest exists (the build-fresh legacy layout). The dir name is
    * DERIVED from the entry's file name (`v<N>` ⇒ `<name>__v<N>`),
    * never read from its content: the entry file is created before its
    * one informational line is written, and a reader racing that window
    * (or racing a prune of the entry it just listed) must still resolve
    * correctly — one atomic `create` is the entire pointer flip.
    */
  private def currentVersion(fs: org.apache.hadoop.fs.FileSystem,
                             path: String, name: String): (Long, String) = {
    val mf = new org.apache.hadoop.fs.Path(manifestDir(path, name))
    val entries =
      try {
        if (fs.exists(mf))
          fs.listStatus(mf).toSeq.map(_.getPath.getName)
            .filter(_.matches("v\\d{13}"))
        else Seq.empty
      } catch {
        // manifest dir deleted by a concurrent clearVersions (a rebuild):
        // resolve to the legacy layout the rebuild is re-establishing
        case _: java.io.FileNotFoundException => Seq.empty
      }
    if (entries.isEmpty) (0L, name)
    else {
      val n = entries.max.stripPrefix("v").toLong
      (n, s"${name}__v$n")
    }
  }

  /** The CURRENT serving directory for a versioned artifact — what
    * every read path (serve, describe, tune, append, fold) resolves
    * before touching files. Public within the library so tools and the
    * oracle-replay dump can read the same bytes the engine serves.
    */
  private[graft] def resolveDir(spark: SparkSession, path: String,
                                name: String): String =
    resolveDirPath(path, name, spark.sparkContext.hadoopConfiguration)

  /** Spark-free resolution (a bare Hadoop conf suffices) — the
    * oracle-SQL dump uses this to rewrite `@@ANNDIR|path|name@@`
    * placeholders into the dir DuckDB must replay.
    */
  private[graft] def resolveDirPath(path: String, name: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): String = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    s"$path/${currentVersion(fs, path, name)._2}"
  }

  /** Publish a staged rewrite as the next version: place the complete
    * directory, flip the pointer with one atomic create, prune history
    * older than the PREVIOUS version (kept for in-flight readers).
    */
  private[operators] def publishVersioned(spark: SparkSession, path: String,
                                          name: String, staged: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val (cur, _) = currentVersion(fs, path, name)
    val next = cur + 1
    val dataDir = new org.apache.hadoop.fs.Path(s"$path/${name}__v$next")
    // a leftover dir from a publish that crashed BEFORE its manifest
    // create is invisible to readers — safe to clear and reuse
    fs.delete(dataDir, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staged), dataDir),
      s"publishVersioned: could not place $staged")
    fs.mkdirs(new org.apache.hadoop.fs.Path(manifestDir(path, name)))
    val entry = new org.apache.hadoop.fs.Path(manifestDir(path, name),
      f"v$next%013d")
    val out = fs.create(entry, false) // atomic pointer flip
    try out.write(s"${name}__v$next".getBytes("UTF-8")) finally out.close()
    (0L until cur).foreach { v =>
      val dirName = if (v == 0L) name else s"${name}__v$v"
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$dirName"), true)
      if (v > 0L)
        fs.delete(new org.apache.hadoop.fs.Path(manifestDir(path, name),
          f"v$v%013d"), false)
    }
  }

  /** Staged (re)build publish: write the fresh artifact COMPLETE next
    * to the live tree, then reset the version history and rename it
    * into the legacy v0 slot. A build that fails mid-write therefore
    * leaves the previously-serving index fully intact, and the
    * reader-visible window shrinks from the entire build (minutes at
    * scale) to two driver-side metadata ops — rebuilds remain
    * single-writer-vs-serve, like all maintenance verbs.
    */
  private[operators] def publishBuild(spark: SparkSession, path: String, name: String)
                          (write: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val stage = s"$path/${name}__build"
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    write(stage)
    clearVersions(spark, path, name)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/$name"), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(stage),
        new org.apache.hadoop.fs.Path(s"$path/$name")),
      s"publishBuild: could not place $stage")
  }

  /** Builds RESET the version history: a rebuild's membership is exactly
    * the corpus given, and the fresh legacy dir is version 0 again.
    */
  private def clearVersions(spark: SparkSession, path: String,
                            name: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(manifestDir(path, name)), true)
    if (fs.exists(root)) {
      fs.listStatus(root).foreach { st =>
        val nm = st.getPath.getName
        if (nm.matches(java.util.regex.Pattern.quote(name) + "__v\\d+"))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Versioned rewrite for a cid-partitioned artifact: read the CURRENT
    * version, stage the transform complete, pointer-flip. The read and
    * the staged write are different directories, so the source is never
    * overwritten mid-plan and a racing reader keeps a whole directory.
    */
  private def rewriteVersioned(spark: SparkSession, path: String,
                               name: String)
                              (f: DataFrame => DataFrame): Unit = {
    val src = resolveDir(spark, path, name)
    val tmp = s"$path/${name}__stage"
    val out = f(spark.read.parquet(src))
    // empty-index rule: see rewritePartitioned
    if (out.isEmpty)
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
    else
      out.repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    publishVersioned(spark, path, name, tmp)
  }

  /** Hadoop-FS directory swap, not java.io.File: the rest of the
    * lifecycle accepts any filesystem scheme (hdfs://, s3a://, local)
    * and the publish must too — a java.io rename would silently return
    * false on anything but a bare local path. Compactions publish via
    * [[publishVersioned]] (no missing-dir window); this in-place swap
    * remains only for the targeted fold's empty-layout rewrite, where
    * the directory being swapped holds zero rows.
    */
  private[operators] def publishSwap(spark: SparkSession, target: String,
                                     staged: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tgt = new org.apache.hadoop.fs.Path(target)
    val stg = new org.apache.hadoop.fs.Path(staged)
    val old = new org.apache.hadoop.fs.Path(s"${target}__old")
    val fs = tgt.getFileSystem(conf)
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(tgt, old), s"publishSwap: could not stage $tgt aside")
    require(fs.rename(stg, tgt), s"publishSwap: could not publish $stg")
    fs.delete(old, true)
    ()
  }

  /** Fold the pending tombstone sidecar into ONLY the cid partitions
    * that actually hold tombstoned members — the maintenance-loop fold
    * the `SyncFromLog` family uses instead of a full compact. An hourly
    * CDC tail touches a handful of cells, and the fold must cost
    * O(touched cells), never a full-index rewrite: the old cell of every
    * tombstoned id is IN the partitioned table, so one column-pruned
    * (id, cid) scan against the broadcast sidecar yields the touched-cid
    * set (bounded by nlist, collected as longs); only those partition
    * directories are re-read, anti-joined, and swapped per-directory.
    * Cells the sidecar never touches keep their bytes — and their file
    * layout — untouched, so a sync's write cost follows the tail, not
    * the index. [[ivfCompact]]/[[ivfpqCompact]] remain the full VACUUM
    * (they also restore one-file-per-cid EVERYWHERE; this fold only
    * removes rows, restoring the invariant in touched cells alone).
    *
    * The sidecar ids fold COMPLETELY here — any id absent from the index
    * folds to nothing — so the caller clears the sidecar afterwards.
    * Maintenance is single-writer (the family's standing assumption);
    * each touched directory's delete-then-rename is the same per-unit
    * publish window the full compact's swap has, narrowed to the
    * touched subset.
    */
  private def foldTombstonesTargeted(spark: SparkSession, path: String,
                                     dir: String): Unit =
    loadTombstones(spark, path).foreach { tombs =>
      foldTargetedPartitioned(spark, path, dir, tombs)
    }

  private def foldTargetedPartitioned(spark: SparkSession, path: String,
                                      dir: String,
                                      tombs: DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(dir)
    val fs = rootPath.getFileSystem(conf)
    val listing = fs.listStatus(rootPath).toSeq.map(_.getPath.getName)
    // FAIL-LOUD on an unfinished previous fold: a leftover aside dir
    // means a crash landed between its rename-aside and rename-in — the
    // hidden dir holds that cell's only surviving bytes, and proceeding
    // would eventually delete them. Recovery = rename the aside back
    // over its cell, then re-run the sync.
    val leftovers = listing.filter(_.endsWith("__fold_old"))
    require(leftovers.isEmpty,
      s"targeted fold: unfinished fold detected in $dir — recover " +
        s"$leftovers (rename each back over its cell) before syncing again")
    val partDirs = listing.filter(_.startsWith("cid="))
    if (partDirs.isEmpty) {
      // unpartitioned layout = the schema-bearing EMPTY index a full
      // takedown leaves behind; the generic rewrite is O(empty)
      rewritePartitioned(spark, dir)(minusTombstones(spark, path, _))
      return
    }
    // touched-cid set: column-pruned scan of (id × partition col) against
    // the broadcast sidecar — reads the id column once, writes nothing
    val touched = spark.read.parquet(dir)
      .join(broadcast(tombs), Seq("id"))
      .select(col("cid").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    if (touched.isEmpty) return // no tombstoned id is stored: nothing to fold
    val touchedDirs = partDirs.filter(nm =>
      touched.contains(nm.stripPrefix("cid=").toLong))
    val tmp = s"${dir}__fold"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val subset = spark.read.option("basePath", dir)
      .parquet(touchedDirs.map(nm => s"$dir/$nm"): _*)
    val schema = subset.schema
    subset.join(broadcast(tombs), Seq("id"), "left_anti")
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    // per-directory swap: each touched cell is replaced by its survivors;
    // a cell the fold emptied is simply removed (partitionBy writes no
    // directory for an empty partition)
    touchedDirs.foreach { nm =>
      val oldDir = new org.apache.hadoop.fs.Path(s"$dir/$nm")
      val newDir = new org.apache.hadoop.fs.Path(s"$tmp/$nm")
      // rename ASIDE (dot-prefixed — invisible to Spark listings), never
      // delete-then-rename: an interruption between the two steps must
      // leave the cell's surviving bytes ON DISK (hidden, recoverable),
      // not deleted with their only other copy sitting in a tmp dir the
      // next run clears
      val aside = new org.apache.hadoop.fs.Path(s"$dir/.${nm}__fold_old")
      require(fs.rename(oldDir, aside),
        s"targeted fold: could not stage $oldDir aside")
      if (fs.exists(newDir))
        require(fs.rename(newDir, oldDir),
          s"targeted fold: could not publish $newDir")
      fs.delete(aside, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // a fold that emptied EVERY cell must leave a READABLE empty index —
    // the rewritePartitioned rule: re-establish the unpartitioned
    // schema-bearing layout (the next append re-partitions it)
    val anyLeft = fs.listStatus(rootPath).toSeq
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("cid="))
    if (!anyLeft) {
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  /** [[foldTombstonesTargeted]]'s sibling for the FLAT (unpartitioned)
    * PQ code table, where the unit of rewrite is the FILE: the files
    * holding tombstoned rows are identified by one column-pruned
    * `input_file_name` scan against the broadcast sidecar, their
    * survivors are rewritten grouped BY SOURCE FILE, and each touched
    * file is swapped for its survivor file in place (original name kept
    * — a re-run after an interruption finds already-swapped files hold
    * no tombstoned ids and skips them). Files without tombstoned rows
    * are never read again or rewritten, so a sync's write cost is
    * O(touched files), not O(code table). Single-writer, like the
    * partitioned fold; [[pqCompact]] remains the full VACUUM that also
    * re-sizes the file layout.
    */
  private def foldTombstonesTargetedFlat(spark: SparkSession, path: String,
                                         dir: String): Unit =
    loadTombstones(spark, path).foreach { tombs =>
      foldTargetedFlat(spark, dir, tombs)
    }

  private def foldTargetedFlat(spark: SparkSession, dir: String,
                               tombs: DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(dir)
    val fs = rootPath.getFileSystem(conf)
    val codes = spark.read.parquet(dir)
    val schema = codes.schema
    // FAIL-LOUD on an unfinished previous fold (see the partitioned twin)
    val leftoverFiles = fs.listStatus(rootPath).toSeq
      .map(_.getPath.getName).filter(_.endsWith("__fold_old"))
    require(leftoverFiles.isEmpty,
      s"targeted flat fold: unfinished fold detected in $dir — recover " +
        s"$leftoverFiles (rename each back to its original name) first")
    val touchedFiles = codes.withColumn("__src", input_file_name())
      .join(broadcast(tombs), Seq("id"))
      .select("__src").distinct().collect().map(_.getString(0)).sorted
    if (touchedFiles.isEmpty) return
    def key(f: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val tmp = s"${dir}__fold"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // survivors grouped by source file: one output file per touched
    // input file (repartition on the source key routes each file's rows
    // to one task), so the swap below is file-for-file
    spark.read.parquet(touchedFiles.toIndexedSeq: _*)
      .withColumn("__srckey", expr("md5(input_file_name())"))
      .join(broadcast(tombs), Seq("id"), "left_anti")
      .repartition(col("__srckey"))
      .write.mode("overwrite").partitionBy("__srckey").parquet(tmp)
    // GUARD before any old file is dropped: every survivor group must map
    // back to a touched file — an orphan means the executor-side
    // input_file_name string drifted from the driver-side one (path
    // normalization), and proceeding would silently drop those survivors
    val keys = touchedFiles.map(key).toSet
    val orphans = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName.stripPrefix("__srckey="))
      .filterNot(keys.contains)
    require(orphans.isEmpty,
      s"targeted flat fold: survivor group(s) matched no touched file: $orphans")
    touchedFiles.foreach { f =>
      val oldFile = new org.apache.hadoop.fs.Path(f)
      val partDir = new org.apache.hadoop.fs.Path(s"$tmp/__srckey=${key(f)}")
      // aside-then-in, like the partitioned fold: the dot-prefix hides
      // the staged-aside file from Spark reads, and an interruption
      // leaves the survivors' bytes recoverable instead of deleted
      val aside = new org.apache.hadoop.fs.Path(oldFile.getParent,
        s".${oldFile.getName}__fold_old")
      require(fs.rename(oldFile, aside),
        s"targeted flat fold: could not stage $oldFile aside")
      if (fs.exists(partDir)) {
        val part = fs.listStatus(partDir).toSeq
          .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        require(part.length == 1,
          s"targeted flat fold: expected one survivor file, got $part")
        // keep the original name: the dir's file census stays stable and
        // a rerun recognizes the swapped file as clean
        require(fs.rename(part.head, oldFile),
          s"targeted flat fold: could not publish ${part.head}")
      }
      fs.delete(aside, false)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // all files consumed with no survivors ⇒ re-establish the readable
    // empty layout (schema-bearing single file)
    val anyLeft = fs.listStatus(rootPath).toSeq
      .exists(_.getPath.getName.endsWith(".parquet"))
    if (!anyLeft) {
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  /** Synchronize a persisted IVF index with a CDC change-log TAIL — the
    * maintenance loop that keeps a serving index following its source
    * table ([[Cdc.applyLog]]'s snapshot) without a rebuild:
    *
    *  1. tombstone every key the tail touches (O(tail) sidecar append);
    *  2. fold the sidecar TARGETED ([[foldTombstonesTargeted]]) —
    *     required, not optional: the deletion vector suppresses ids
    *     unconditionally, so an updated or revived id could never
    *     re-enter while its tombstone is pending. Targeted: only the
    *     cells that hold a tombstoned member are rewritten, so the fold
    *     costs O(touched cells), never the O(index) rewrite a full
    *     [[ivfCompact]] pays — at 100 TB an hourly tail touches a
    *     handful of cells and a full-index fold per sync batch would be
    *     the maintenance loop's scale-killer;
    *  3. LWW-reduce the tail ([[Cdc.applyLog]] over the tail alone —
    *     correct because a keyed change topic delivers each key's full
    *     history once it appears) and append the surviving current
    *     versions against the PERSISTED centroids.
    *
    * Deletes in the tail simply never re-append. Cost: O(tail) + one
    * touched-cells fold — batch the tail (hourly/daily) to amortize,
    * exactly like CDC log compaction itself. Equivalence with a full
    * rebuild of the post-tail snapshot under the same centroids is
    * spec-gated. The cost is flat in index size (corpus ×1/×4/×16 at
    * nlist=64, the numbers in docs/SCALE.md).
    */
  def ivfSyncFromLog(spark: SparkSession, path: String, tail: DataFrame,
                     keyCol: String, seqCol: String, opCol: String,
                     vecCol: String, deleteOp: String = "D"): Unit = {
    val touched = tail.select(col(keyCol).as("id")).distinct()
    ivfDelete(spark, path, touched, "id")
    // TARGETED fold, not a full compact: only the cells holding a
    // tombstoned member are rewritten, so an hourly tail costs O(touched
    // cells) + O(tail), never an O(index) rewrite per sync batch
    foldTombstonesTargeted(spark, path, resolveDir(spark, path, "cells"))
    clearTombstones(spark, path)
    val live = Cdc.applyLog(tail, keyCol, seqCol, opCol, deleteOp)
      .select(col(keyCol), col(vecCol))
    if (!live.isEmpty) ivfAppend(live, keyCol, vecCol, path)
  }

  /** Index health report — the observability row an index operator
    * alarms on (the ANN sibling of [[Cdc]]'s change-log report):
    * centroid count, stored members, PENDING tombstones (distinct ids
    * awaiting a fold), the serving membership (stored minus
    * suppressed), and the small-files pressure (parquet files per cid
    * partition ×100 — the number [[ivfCompact]] resets to 100). All
    * counts are metadata/aggregate scans — nothing collects beyond the
    * one-row report.
    */
  def describeIvf(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val pending = loadTombstones(spark, path)
    val cellsDir = resolveDir(spark, path, "cells")
    val cells = spark.read.parquet(cellsDir)
      .withColumn("cid", col("cid").cast("long"))
    val nlist = spark.read.parquet(s"$path/centroids").count()
    val nMembers = cells.count()
    val nTomb = pending.fold(0L)(_.count())
    val nServing = pending.fold(nMembers)(t =>
      cells.join(broadcast(t), Seq("id"), "left_anti").count())
    // same census as the compaction policy (parquetFileCount) — the
    // gauge and the actor read one implementation
    val nFiles = parquetFileCount(spark, cellsDir)
    val nParts = cells.select("cid").distinct().count()
    Seq((nlist, nMembers, nTomb, nServing,
        if (nParts == 0) 0L else nFiles * 100L / nParts))
      .toDF("nlist", "n_members", "n_pending_tombstones", "n_serving",
        "files_per_cid_x100")
  }

  /** Autotune the serving knob: sweep `nprobe` over a candidate list
    * and measure recall@k against the exact brute-force truth on a
    * SAMPLED query set — the measurement loop that picks the
    * latency/recall trade-off before a deployment ships (running it on
    * every query would cost more than serving exactly; running it on
    * none ships a guess). One report row per candidate `nprobe`
    * (`n_queries`, `hits`, `possible`, `recall_pctx100`) plus a
    * `chosen` flag on the smallest candidate meeting
    * `targetRecallPctx100` (falling back to the largest candidate if
    * none does — best effort is explicit, never silent).
    *
    * Cost shape, by construction: ONE scored candidate pass at
    * `max(nprobes)` (probe ranks kept by [[Similarity.probeCellsRanked]]
    * — a candidate found via the cell at probe rank r is exactly what
    * an `nprobe ≥ r` serve sees, so every sweep point re-ranks the same
    * persisted frame instead of re-scanning the index), and one exact
    * truth pass = |sample| × |members| — the standard recall-eval cost,
    * bounded by the sample. The report is computed EAGERLY (the scored
    * frame is persisted across the sweep's rank passes and unpersisted
    * before returning the P-row result).
    */
  def tuneIvf(spark: SparkSession, path: String, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, nprobes: Seq[Int],
              targetRecallPctx100: Long = 9500L): DataFrame = {
    import spark.implicits._
    require(nprobes.nonEmpty, "tuneIvf: nprobes must be non-empty")
    // dedupe: a repeated candidate would emit duplicate report rows and
    // mark `chosen` on both copies, breaking the one-chosen-knob contract
    val cand = nprobes.distinct.sorted
    val cents = loadIvfCentroids(spark, path)
    val maxP = cand.max
    val probes = Similarity.probeCellsRanked(queries, idCol, vecCol,
      cents, maxP)
    // bounded by |sample|·maxP longs — the serve-regime collect
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val tombs = loadTombstones(spark, path)
    val members = minusTombstonesPre(tombs,
      spark.read.parquet(resolveDir(spark, path, "cells"))
        .withColumn("cid", col("cid").cast("long")))
    val scored = members.filter(col("cid").isInCollection(probedCids))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), col("probe_rank"),
        Similarity.cosineFromNorms(col("vec"), col("norm"),
          col("qvec"), col("qnorm")).as("cosine"))
    val truth = Similarity.bruteForceTopK(
        members.select(col("id").as(idCol), col("vec").as(vecCol)),
        queries, idCol, vecCol, k)
      .select(col("qid"), col("id")).withColumn("__in", lit(1))
      .persist()
    // ONE FILTERed-aggregation pass prices every sweep point
    // (optimization r16) — see Similarity.sweepRankTopK. The ranked
    // frame is consumed exactly once there (it pins the tiny per-qid
    // result itself), so the old scored.persist() would only add a
    // cache-write of the full candidate frame.
    val perP = Similarity.sweepRankTopK(
      scored.select("qid", "id", "probe_rank", "cosine"), cand, k)
    val hits = perP.join(truth, Seq("qid", "id"), "left")
      .groupBy("nprobe")
      .agg(sum(coalesce(col("__in"), lit(0))).cast("long").as("hits"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val possible = truth.count()
    val nQueries = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol)).distinct().count()
    truth.unpersist()
    tuneReport(spark, cand, hits, possible, nQueries, targetRecallPctx100)
  }

  /** The persisted centroid table, collected driver-side (nlist rows). */
  /** Resident centroid cache: a serving tier holds its probe-plan
    * structures in memory — re-reading and re-collecting an
    * nlist-row parquet PER SERVE is a fixed cost that grows linearly
    * with nlist and dominated the synthesized-sf100 probes (64 000
    * centroids ≈ 25 MB re-collected per call made a probed O(nprobe)
    * serve price ~4× per decade for pure plan-construction). Keyed by
    * (path, centroid-file fingerprint) — one shallow `listStatus` of
    * file (mtime, length) pairs per call, so a rebuild (ivfBuild
    * overwrites `$path/centroids` in place) rotates the key and the
    * stale entry is evicted; bounded LRU (8 artifacts ≈ a few hundred
    * MB worst-case at production nlist), access-ordered.
    */
  private val centroidCache =
    new java.util.LinkedHashMap[(String, String), Array[(Long, Seq[Double], Double)]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Array[(Long, Seq[Double], Double)]]): Boolean =
        size() > 8
    }

  /** Stamp a unique build-nonce marker into the centroid directory.
    * The resident-cache fingerprint is (name, mtime, length) pairs — an
    * in-place rebuild that completes within filesystem mtime granularity
    * with identical part names/sizes would not rotate the cache key, and
    * serves would silently probe stale centroids over the new cells. The
    * marker is `_`-prefixed (invisible to parquet readers) and
    * UUID-named, so EVERY build rotates the fingerprint unconditionally;
    * builds call it between the centroids write and the first
    * [[loadIvfCentroids]], so the fresh cache entry is keyed post-nonce.
    */
  private def stampCentroidNonce(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s"$path/centroids/_nonce-${java.util.UUID.randomUUID()}")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  private def centroidsFingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).map(s =>
        s"${s.getPath.getName}:${s.getModificationTime}:${s.getLen}")
      .sorted.mkString(",")
    catch { case _: java.io.FileNotFoundException => "absent" }
  }

  private[graft] def loadIvfCentroids(spark: SparkSession,
                                      path: String): Array[(Long, Seq[Double], Double)] = {
    val key = (path, centroidsFingerprint(spark, path))
    val cached = centroidCache.synchronized {
      val hit = centroidCache.get(key)
      if (hit == null) {
        // stale fingerprints of the same path can never serve again —
        // drop them rather than let 8 dead versions crowd the LRU
        val it = centroidCache.keySet().iterator()
        while (it.hasNext) if (it.next()._1 == path) it.remove()
      }
      hit
    }
    if (cached != null) cached
    else {
      val loaded = Similarity.collectCents(spark.read.parquet(s"$path/centroids"))
      centroidCache.synchronized { centroidCache.put(key, loaded) }
      loaded
    }
  }

  /** Serve top-k from a persisted IVF index: NO training, NO cell
    * assignment — probe selection is a pure projection over the loaded
    * centroid literals, and the cells scan carries an explicit
    * partition filter on the probed cids (collected driver-side first:
    * ≤ |queries|·nprobe longs — serving is by definition the bounded-
    * query regime; a corpus-sized probe side belongs to
    * [[Similarity.knnGraph]]). Scoring and ranking are the exact
    * kernels of the in-memory path, so results are bit-identical to
    * [[Similarity.ivfTopK]]/[[Similarity.ivfTopKTrained]] over the same
    * centroids.
    */
  def ivfServe(spark: SparkSession, path: String, queries: DataFrame,
               idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
               keepCosine: Boolean = false): DataFrame = {
    val cents = loadIvfCentroids(spark, path)
    val probes = Similarity.probeCellsLocal(queries, idCol, vecCol, cents, nprobe)
    // the probed-cid set is the serve-time "query plan": tiny, and the
    // scan is ROOTED at exactly the probed partition directories (via
    // `basePath`), so file LISTING is O(probed dirs) — a generic read of
    // `cells/` would recursively list all nlist partitions BEFORE the
    // partition filter prunes, which at a production nlist of 10⁵+ makes
    // every serve pay a full metastore/FS sweep. One shallow listStatus
    // of the partition-directory NAMES (nlist entries, no recursion)
    // resolves which probed cells exist; the literal IN-filter stays on
    // top both as the partition-pruning gate (PlanSpec) and to suppress
    // rows when a probed cid's directory is absent.
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val tombs = loadTombstones(spark, path)
    val cells = minusTombstonesPre(tombs,
      readProbedPartitions(spark, resolveDir(spark, path, "cells"),
          probedCids.toSeq)
        .withColumn("cid", col("cid").cast("long"))
        .filter(col("cid").isInCollection(probedCids)))
    Similarity.rankTopK(
      Similarity.broadcastProbeScores(cells, probes), k, keepCosine)
  }

  /** Root a read at the probed `cid=` partition directories of `root`:
    * ONE shallow `listStatus` of the partition-directory NAMES (nlist
    * entries, no recursion) resolves which probed cells exist, and the
    * `basePath` option keeps the partition column — so file listing per
    * serve is O(probed dirs), never the recursive O(nlist) sweep a
    * generic read performs before pruning. Callers keep the literal
    * IN-filter on top (the partition-pruning plan gate, and the row
    * suppressor when a probed cell is dirless). Falls back to the
    * generic read for an unpartitioned layout (the schema-bearing empty
    * file a FULL takedown + compact leaves behind).
    */
  private def readProbedPartitions(spark: SparkSession, root: String,
                                   probedCids: Seq[Long]): DataFrame =
    readPrunedPartitions(spark, root, "cid", probedCids)

  /** The generalized form over any long-valued hive partition column —
    * the signature registry's band/sig bucket reads share the exact
    * rooted-listing discipline of the ANN cid reads.
    */
  private[operators] def readPrunedPartitions(spark: SparkSession,
                                              root: String, partCol: String,
                                              values: Seq[Long]): DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a never-built path (or one vanishing under a concurrent rewrite —
    // maintenance is single-writer, but serve-vs-writer is not locked)
    // must surface the SAME clear AnalysisException the generic read
    // throws, not a raw Hadoop FileNotFoundException from listStatus
    val listed =
      try {
        if (fs.exists(rootPath)) Some(fs.listStatus(rootPath).toSeq)
        else None
      } catch {
        case _: java.io.FileNotFoundException => None
      }
    if (listed.isEmpty) return spark.read.parquet(root)
    val prefix = s"$partCol="
    val partDirs = listed.get
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
    if (partDirs.isEmpty) spark.read.parquet(root)
    else {
      val have = partDirs.map(nm => nm.stripPrefix(prefix).toLong -> nm).toMap
      val selected = values.flatMap(have.get).map(nm => s"$root/$nm")
      // every probed cell may be memberless (dirless): root the scan at
      // one real dir and let the IN-filter empty it — still O(1) listing
      val roots = if (selected.nonEmpty) selected
                  else Seq(s"$root/${partDirs.head}")
      spark.read.option("basePath", root).parquet(roots: _*)
    }
  }

  // -------------------------------------------------------------- PQ

  /** Train and persist a PQ index: codebooks via the deterministic
    * [[Similarity.pqTrain]] (or [[Similarity.pqTrainSampled]] Lloyd
    * iterations when `sampled`), then the corpus PQ-encoded from the
    * PERSISTED codebooks — one projection pass, zero shuffles.
    */
  def pqBuild(corpus: DataFrame, idCol: String, vecCol: String,
              path: String, m: Int = 8, ks: Int = 16,
              sampled: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    val codebooks =
      if (sampled) Similarity.pqTrainSampled(corpus, idCol, vecCol, m, ks)
      else Similarity.pqTrain(corpus, idCol, vecCol, m, ks)
    val rows = for {
      s <- 0 until codebooks.length
      j <- 0 until codebooks(s).length
    } yield (s, j, codebooks(s)(j).toSeq)
    spark.createDataFrame(rows).toDF("s", "j", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // staged rebuild: see writeCells
    publishBuild(spark, path, "codes") { stage =>
      Similarity.pqEncode(corpus, idCol, vecCol, loadPqCodebooks(spark, path))
        .write.mode("overwrite").parquet(stage)
    }
    // rebuild semantics: no inherited takedowns (see ivfBuild)
    clearTombstones(spark, path)
  }

  /** Append a new corpus batch to a persisted PQ index: the batch is
    * encoded with the PERSISTED codebooks (the index's identity, like
    * IVF centroids) and its codes land append-mode. O(batch) work.
    */
  def pqAppend(batch: DataFrame, idCol: String, vecCol: String,
               path: String): Unit = {
    val spark = batch.sparkSession
    Similarity.pqEncode(batch, idCol, vecCol, loadPqCodebooks(spark, path))
      .write.mode("append").parquet(resolveDir(spark, path, "codes"))
  }

  /** Delete ids from a persisted PQ index — same DELETION-VECTOR
    * semantics as [[ivfDelete]]: O(ids) sidecar append, serve-time
    * broadcast anti-join, folded by [[pqCompact]]. Codebooks are
    * untouched (model identity, like IVF centroids).
    */
  def pqDelete(spark: SparkSession, path: String, ids: DataFrame,
               idCol: String): Unit =
    appendTombstones(path, ids, idCol)

  /** Compact a persisted PQ code table: fold the tombstone sidecar in
    * (one broadcast anti-join pass) and rewrite the append history's
    * small files at `targetBytes` granularity (the
    * [[Scale.compactParquet]] sizing rule), swap-published; then clear
    * the sidecar. The PQ twin of [[ivfCompact]].
    */
  def pqCompact(spark: SparkSession, path: String,
                targetBytes: Long = 128L << 20): Unit =
    compactFlatCodes(spark, path, targetBytes)

  /** The flat code-table compact shared by [[pqCompact]] and
    * [[bqCompact]]: fold the sidecar in (one broadcast anti-join pass),
    * rewrite the append history at `targetBytes` granularity, publish
    * versioned, clear the sidecar.
    */
  private def compactFlatCodes(spark: SparkSession, path: String,
                               targetBytes: Long): Unit = {
    val src = resolveDir(spark, path, "codes")
    val codesPath = new org.apache.hadoop.fs.Path(src)
    val fs = codesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(codesPath).getLength
    val parts = math.max(1L, (bytes + targetBytes - 1L) / targetBytes).toInt
    val tmp = s"$path/codes__stage"
    minusTombstones(spark, path, spark.read.parquet(src))
      .repartition(parts)
      .write.mode("overwrite").parquet(tmp)
    publishVersioned(spark, path, "codes", tmp)
    clearTombstones(spark, path)
  }

  /** PQ index health report — [[describeIvf]]'s sibling for the code
    * table: codebook shape (m subspaces × ks codes — the model
    * identity), stored codes, PENDING tombstones awaiting a
    * [[pqCompact]] fold, the serving membership, and the append
    * history's small-files pressure (parquet file count — what
    * [[pqCompact]] resets to the targetBytes sizing). All figures are
    * metadata/aggregate scans; nothing collects beyond the one-row
    * report.
    */
  def describePq(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val cb = spark.read.parquet(s"$path/codebooks")
    val m = cb.agg(max(col("s"))).head().getInt(0) + 1L
    val ks = cb.agg(max(col("j"))).head().getInt(0) + 1L
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val pending = loadTombstones(spark, path)
    val codesDir = resolveDir(spark, path, "codes")
    val codes = spark.read.parquet(codesDir)
    val nCodes = codes.count()
    val nTomb = pending.fold(0L)(_.count())
    val nServing = pending.fold(nCodes)(t =>
      codes.join(broadcast(t), Seq("id"), "left_anti").count())
    // same census as the compaction policy (parquetFileCount) — the
    // gauge and the actor read one implementation
    Seq((m, ks, nCodes, nTomb, nServing, parquetFileCount(spark, codesDir)))
      .toDF("m", "ks", "n_codes", "n_pending_tombstones", "n_serving",
        "n_files")
  }

  /** Synchronize a persisted PQ index with a CDC change-log TAIL — the
    * PQ member of the maintenance loop, same contract as
    * [[ivfSyncFromLog]]: tombstone every key the tail touches (O(tail)
    * sidecar append), fold the sidecar TARGETED at the FILE level
    * ([[foldTombstonesTargetedFlat]] — required, not optional: the
    * deletion vector suppresses ids unconditionally, so an updated or
    * revived id could never re-enter while its tombstone is pending;
    * targeted: only the code files holding a tombstoned row are
    * rewritten, O(touched files) not O(code table)), then LWW-reduce
    * the tail ([[Cdc.applyLog]] over the tail alone) and re-encode the
    * surviving current versions against the PERSISTED codebooks
    * ([[pqAppend]] — the codebooks are the index's identity and are
    * never retrained by maintenance). Deletes in the tail simply never
    * re-append. Cost: O(tail) + one touched-files fold — batch the
    * tail to amortize, exactly like the IVF member.
    * Equivalence with re-encoding the full post-tail snapshot under the
    * same codebooks is spec-gated (AnnIndexSpec).
    */
  def pqSyncFromLog(spark: SparkSession, path: String, tail: DataFrame,
                    keyCol: String, seqCol: String, opCol: String,
                    vecCol: String, deleteOp: String = "D"): Unit = {
    val touched = tail.select(col(keyCol).as("id")).distinct()
    pqDelete(spark, path, touched, "id")
    // targeted FILE-level fold (the flat table's unit of rewrite): only
    // the code files holding a tombstoned row are rewritten
    foldTombstonesTargetedFlat(spark, path, resolveDir(spark, path, "codes"))
    clearTombstones(spark, path)
    val live = Cdc.applyLog(tail, keyCol, seqCol, opCol, deleteOp)
      .select(col(keyCol), col(vecCol))
    if (!live.isEmpty) pqAppend(live, keyCol, vecCol, path)
  }

  /** The persisted codebooks, reshaped to the m × ks × sub driver array
    * every PQ kernel takes (KBs).
    */
  def loadPqCodebooks(spark: SparkSession,
                      path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select(col("s").cast("int"), col("j").cast("int"), col("cvec"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val m = rows.keys.map(_._1).max + 1
    val ks = rows.keys.map(_._2).max + 1
    Array.tabulate(m, ks)((s, j) => rows((s, j)))
  }

  /** Serve top-k from a persisted PQ index: the ADC scan reads the
    * persisted CODE table (never the float corpus); `corpus` supplies
    * only the true vectors for the exact shortlist re-rank —
    * `rerank·k·|queries|` point lookups. Identical kernels to
    * [[Similarity.pqTopK]], so results match it bit-for-bit for the
    * same codebooks.
    */
  def pqServe(spark: SparkSession, path: String, corpus: DataFrame,
              queries: DataFrame, idCol: String, vecCol: String, k: Int,
              rerank: Int = 4): DataFrame = {
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val tombs = loadTombstones(spark, path)
    Similarity.pqTopKWithCodes(
      minusTombstonesPre(tombs,
        spark.read.parquet(resolveDir(spark, path, "codes"))),
      corpus, queries, idCol, vecCol, k, rerank,
      loadPqCodebooks(spark, path))
  }

  // -------------------------------------------------------------- BQ

  /** Persist a binary-quantized index: `codes/` = (id, sig array<long>)
    * — 1 sign bit per dimension packed 32/word, the scan floor below
    * even PQ (64× fewer bytes than the float corpus). There is NO model
    * artifact at all: sign packing is parameter-free (the "codebook" is
    * the sign function), so the build is ONE projection pass and every
    * maintenance verb trivially preserves the index identity. Serving
    * needs only the codes plus the corpus for the exact re-rank.
    */
  def bqBuild(corpus: DataFrame, idCol: String, vecCol: String,
              path: String): Unit = {
    val spark = corpus.sparkSession
    // uniform-dimension guard (one aggregate pass — a build scans the
    // corpus anyway): the packing projection would silently zero-pad a
    // short vector, where the IVF kernels throw (see bqAppend)
    val live = corpus.filter(col(vecCol).isNotNull)
    val dims = live.agg(min(size(col(vecCol))), max(size(col(vecCol))))
      .head()
    require(!dims.isNullAt(0) && dims.getInt(0) == dims.getInt(1),
      s"bqBuild: corpus vector dimensions not uniform " +
        s"(${if (dims.isNullAt(0)) "no vectors" else s"${dims.getInt(0)}...${dims.getInt(1)}"})")
    // staged rebuild: see writeCells
    publishBuild(spark, path, "codes") { stage =>
      Similarity.bqEncode(live, idCol, vecCol)
        .write.mode("overwrite").parquet(stage)
    }
    // rebuild semantics: no inherited takedowns (see ivfBuild)
    clearTombstones(spark, path)
  }

  /** Append a batch to a persisted BQ index — O(batch): pack, append.
    * The stored signature WIDTH is the one structural invariant (a
    * mixed-width code table would make every Hamming distance garbage),
    * and unlike the IVF family — whose VecDotMatrix assignment kernel
    * already throws on a wrong-length vector — the flat packing
    * projection would silently ZERO-PAD a short vector, so the guard
    * here checks EVERY batch row (one min/max aggregate over the
    * batch — O(batch), the verb's contract) against the stored width.
    * An empty (or all-null-vector) batch is a no-op, like every
    * sibling append verb.
    */
  def bqAppend(batch: DataFrame, idCol: String, vecCol: String,
               path: String): Unit = {
    val spark = batch.sparkSession
    val live = batch.filter(col(vecCol).isNotNull)
    val dims = live.agg(min(size(col(vecCol))), max(size(col(vecCol))))
      .head()
    if (dims.isNullAt(0)) return // empty batch: nothing to append
    require(dims.getInt(0) == dims.getInt(1),
      s"bqAppend: mixed vector dimensions ${dims.getInt(0)}..." +
        s"${dims.getInt(1)} in one batch — zero-padded signatures would " +
        "serve wrong neighbors silently")
    val dir = resolveDir(spark, path, "codes")
    val stored = spark.read.parquet(dir)
      .select(size(col("sig"))).limit(1).collect()
    stored.headOption.foreach { s =>
      require(s.getInt(0) * 32 == dims.getInt(0),
        s"bqAppend: batch dimension ${dims.getInt(0)} != stored " +
          s"${s.getInt(0) * 32} — different embedding dimension")
    }
    Similarity.bqEncode(live, idCol, vecCol)
      .write.mode("append").parquet(dir)
  }

  /** Delete ids from a persisted BQ index — the shared deletion-vector
    * sidecar, O(ids), folded by [[bqCompact]].
    */
  def bqDelete(spark: SparkSession, path: String, ids: DataFrame,
               idCol: String): Unit =
    appendTombstones(path, ids, idCol)

  /** Compact a persisted BQ code table — [[pqCompact]]'s twin on the
    * same flat (id, …) layout: fold the sidecar, rewrite at
    * `targetBytes`, publish versioned, clear.
    */
  def bqCompact(spark: SparkSession, path: String,
                targetBytes: Long = 128L << 20): Unit =
    compactFlatCodes(spark, path, targetBytes)

  /** Serve top-k from a persisted BQ index: the packed codes stream
    * through xor+bit_count Hamming against the broadcast query
    * signatures (integer ops, 1/64 the corpus bytes), floats touched
    * only at the exact re-rank — bit-identical to
    * [[Similarity.bqTopK]] (same kernels over the same signatures).
    */
  def bqServe(spark: SparkSession, path: String, corpus: DataFrame,
              queries: DataFrame, idCol: String, vecCol: String, k: Int,
              rerank: Int = 4): DataFrame = {
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val tombs = loadTombstones(spark, path)
    Similarity.bqTopKWithSigs(
      minusTombstonesPre(tombs,
        spark.read.parquet(resolveDir(spark, path, "codes"))),
      corpus, queries, idCol, vecCol, k, rerank)
  }

  /** Synchronize a persisted BQ index with a CDC change-log TAIL — the
    * scan-floor member of the maintenance loop, same contract as
    * [[pqSyncFromLog]]: tombstone every key the tail touches (O(tail)
    * sidecar append), fold TARGETED at the FILE level (only the code
    * files holding a tombstoned row are rewritten — required, not
    * optional: the deletion vector suppresses ids unconditionally, so
    * an updated or revived id could never re-enter while its tombstone
    * is pending), then LWW-reduce the tail and re-pack the surviving
    * current versions ([[bqAppend]] — sign packing has no model to
    * retrain, so maintenance trivially preserves the index identity).
    * Cost: O(tail) + one touched-files fold.
    */
  def bqSyncFromLog(spark: SparkSession, path: String, tail: DataFrame,
                    keyCol: String, seqCol: String, opCol: String,
                    vecCol: String, deleteOp: String = "D"): Unit = {
    val touched = tail.select(col(keyCol).as("id")).distinct()
    bqDelete(spark, path, touched, "id")
    foldTombstonesTargetedFlat(spark, path, resolveDir(spark, path, "codes"))
    clearTombstones(spark, path)
    val live = Cdc.applyLog(tail, keyCol, seqCol, opCol, deleteOp)
      .select(col(keyCol), col(vecCol))
    if (!live.isEmpty) bqAppend(live, keyCol, vecCol, path)
  }

  /** BQ index health report — [[describePq]]'s sibling: stored codes,
    * signature-width bounds (mixed widths = two embedding dimensions
    * got appended — every Hamming distance would be garbage), pending
    * tombstones, serving membership, file census.
    */
  def describeBq(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val pending = loadTombstones(spark, path)
    val dir = resolveDir(spark, path, "codes")
    val codes = spark.read.parquet(dir)
    // coalesce: min/max aggregate to NULL over an emptied index (the
    // schema-bearing empty layout a full-takedown compact writes), and
    // the gauge must report zeros there, not NPE
    val stats = codes.agg(count(lit(1)),
      coalesce(min(size(col("sig"))), lit(0)),
      coalesce(max(size(col("sig"))), lit(0))).head()
    val nCodes = stats.getLong(0)
    val nTomb = pending.fold(0L)(_.count())
    val nServing = pending.fold(nCodes)(t =>
      codes.join(broadcast(t), Seq("id"), "left_anti").count())
    Seq((nCodes, stats.getInt(1).toLong, stats.getInt(2).toLong,
        nTomb, nServing, parquetFileCount(spark, dir)))
      .toDF("n_codes", "sig_words_min", "sig_words_max",
        "n_pending_tombstones", "n_serving", "n_files")
  }

  /** [[ivfCompactIfNeeded]]'s BQ sibling — fires [[bqCompact]]. */
  def bqCompactIfNeeded(spark: SparkSession, path: String,
                        maxFiles: Long = 512,
                        maxTombstoneFracPct: Int = 20): Boolean = {
    val go = needsCompact(spark, path, "codes", maxFiles, maxTombstoneFracPct)
    if (go) bqCompact(spark, path)
    go
  }

  // ---------------------------------------------------------- IVF-BQ

  /** Persist the COMPOSED binary-quantized index — [[ivfpqBuild]]'s
    * sibling at the 1-bit/dimension point: a coarse quantizer partitions
    * the packed signatures into nlist inverted lists (`codes/`
    * partitioned by cid with (id, sig)), so a serve Hamming-scores only
    * the probed cells' packed words — O(probed) listing, integer ops,
    * floats only at the exact re-rank. Centroids are id-sampled
    * (oracle-replayable) or k-means (`trainedSeed`), exactly
    * [[ivfBuild]]'s choice; they are the index identity and maintenance
    * never retrains them.
    */
  def ivfbqBuild(corpus: DataFrame, idCol: String, vecCol: String,
                 path: String, nlist: Int = 0,
                 trainedSeed: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    val dim = corpus.select(col(vecCol)).filter(col(vecCol).isNotNull)
      .limit(1).collect().headOption
      .map(_.getSeq[Any](0).length).getOrElse(0)
    require(dim > 0 && dim % 32 == 0,
      s"ivfbqBuild: dim $dim must be a positive multiple of 32")
    val nl = resolveNlist(nlist, corpus)
    val centroids = trainedSeed match {
      case Some(seed) =>
        Similarity.kmeansCentroids(corpus, idCol, vecCol, nl, seed)
      case None =>
        Similarity.idSampledCentroids(corpus, idCol, vecCol, nl)
    }
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    stampCentroidNonce(spark, path)
    val cents = loadIvfCentroids(spark, path)
    publishBuild(spark, path, "codes") { stage =>
      Similarity.bqPackAssigned(
          Similarity.assignCells(Similarity.ensureParallelism(corpus),
            idCol, vecCol, cents), dim)
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(stage)
    }
    clearTombstones(spark, path)
  }

  /** O(batch) append to the composed BQ index: assign against the
    * PERSISTED centroids, pack, land in the cid partitions. Same
    * empty-layout re-establish rule as [[ivfAppend]].
    */
  def ivfbqAppend(batch: DataFrame, idCol: String, vecCol: String,
                  path: String): Unit = {
    val spark = batch.sparkSession
    val live = batch.filter(col(vecCol).isNotNull)
    val dim = live.select(col(vecCol)).limit(1).collect().headOption
      .map(_.getSeq[Any](0).length).getOrElse(0)
    if (dim == 0) return
    require(dim % 32 == 0,
      s"ivfbqAppend: dim $dim must be a positive multiple of 32")
    val cents = loadIvfCentroids(spark, path)
    val coded = Similarity.bqPackAssigned(
      Similarity.assignCells(Similarity.ensureParallelism(live),
        idCol, vecCol, cents), dim)
    val codesDir = resolveDir(spark, path, "codes")
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new org.apache.hadoop.fs.Path(s"$codesDir/cid=*")
    val partitioned = glob.getFileSystem(conf).globStatus(glob).nonEmpty
    if (partitioned)
      coded.write.mode("append").partitionBy("cid").parquet(codesDir)
    else
      coded.repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(codesDir)
  }

  /** O(ids) takedown on the composed BQ index (shared sidecar). */
  def ivfbqDelete(spark: SparkSession, path: String, ids: DataFrame,
                  idCol: String): Unit =
    appendTombstones(path, ids, idCol)

  /** Fold the sidecar into the cid-partitioned signature table (one
    * file per cid restored) and clear it — [[ivfpqCompact]]'s twin.
    */
  def ivfbqCompact(spark: SparkSession, path: String): Unit = {
    rewriteVersioned(spark, path, "codes")(minusTombstones(spark, path, _))
    clearTombstones(spark, path)
  }

  /** Serve top-k from the persisted composed BQ index: probe selection
    * over the persisted centroids, an O(probed-dirs) rooted read of the
    * probed cid partitions, Hamming + shortlist + exact re-rank — the
    * identical kernels of [[Similarity.ivfbqTopK]], so results are
    * bit-identical over the same centroids.
    */
  def ivfbqServe(spark: SparkSession, path: String, corpus: DataFrame,
                 queries: DataFrame, idCol: String, vecCol: String,
                 k: Int, nprobe: Int = 4, rerank: Int = 4): DataFrame = {
    val cents = loadIvfCentroids(spark, path)
    // ONE driver-side probe selection feeds both the partition filter
    // and the scoring plan — the serve never re-derives probes through
    // the distributed matrix kernel (the r15 ivf/pq discipline, extended
    // here: no VecDotMatrix anywhere in the composed-BQ serve plan)
    val probes = Similarity.probeCellsLocal(queries, idCol, vecCol,
      cents, nprobe)
    val probedCids = probes
      .select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val tombs = loadTombstones(spark, path)
    val memberSigs = minusTombstonesPre(tombs,
      readProbedPartitions(spark, resolveDir(spark, path, "codes"),
          probedCids.toSeq)
        .withColumn("cid", col("cid").cast("long"))
        .filter(col("cid").isInCollection(probedCids)))
    Similarity.ivfbqTopKWithProbes(memberSigs, corpus, queries,
      idCol, vecCol, probes, k, rerank)
  }

  /** Synchronize the persisted composed BQ index with a CDC tail —
    * [[ivfpqSyncFromLog]]'s sibling at the 1-bit/dimension point:
    * O(tail) tombstones, CELL-TARGETED fold (only the cid partitions
    * holding a tombstoned member are rewritten), LWW-reduce, re-assign
    * + re-pack against the PERSISTED centroids ([[ivfbqAppend]]).
    */
  def ivfbqSyncFromLog(spark: SparkSession, path: String, tail: DataFrame,
                       keyCol: String, seqCol: String, opCol: String,
                       vecCol: String, deleteOp: String = "D"): Unit = {
    val touched = tail.select(col(keyCol).as("id")).distinct()
    ivfbqDelete(spark, path, touched, "id")
    foldTombstonesTargeted(spark, path, resolveDir(spark, path, "codes"))
    clearTombstones(spark, path)
    val live = Cdc.applyLog(tail, keyCol, seqCol, opCol, deleteOp)
      .select(col(keyCol), col(vecCol))
    if (!live.isEmpty) ivfbqAppend(live, keyCol, vecCol, path)
  }

  // ----------------------------------------------------------- IVF-PQ

  /** Composed IVF-PQ index — the canonical memory-side ANN layout at
    * 100 TB (Jégou, Douze & Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 — public knowledge; the layout every
    * large-scale ANN system composes): a coarse quantizer partitions the
    * corpus into nlist inverted lists, and each member is stored as an
    * m-subspace PQ code INSIDE its list. A serve therefore touches only
    * the probed cells' code partitions (O(probed) listing, like
    * [[ivfServe]]) and scores them with the LUT/ADC kernel — compact
    * integer codes stream through m table lookups per member, and no
    * float vector is read until the exact re-rank of the rerank·k
    * shortlist. Flat [[pqBuild]] scans every code for every query; flat
    * [[ivfBuild]] stores full vectors in its cells; this composition is
    * what serves a corpus whose VECTORS do not fit the cluster.
    *
    * Codes quantize the raw (unit) vectors, not centroid residuals: the
    * exact re-rank repairs the accuracy difference at fixture scale,
    * every stored byte replays as engine-neutral SQL, and swapping
    * residual encoding in later touches only the encode/LUT projections
    * — never the layout, lifecycle, or plan shape.
    *
    * Layout: `centroids/` (the IVF identity), `codebooks/` (the PQ model
    * identity), `codes/` partitioned by cid with (id, code), plus the
    * shared `tombstones/` deletion-vector sidecar. Maintenance reuses
    * the family's conventions: O(ids) takedowns, compact folds + clears.
    */
  def ivfpqBuild(corpus: DataFrame, idCol: String, vecCol: String,
                 path: String, nlist: Int = 0, m: Int = 8,
                 ks: Int = 16, residual: Boolean = false,
                 trainedSeed: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    val live = corpus.filter(col(vecCol).isNotNull)
    val nl = resolveNlist(nlist, live)
    // trainedSeed swaps in the spark.ml k-means coarse quantizer
    // ([[ivfBuild]]'s option) — the composition residual encoding wants:
    // trained cells make residuals small, which is where quantizing the
    // residual pays off (id-sampled cells leave residuals vector-sized)
    val centroids = trainedSeed match {
      case Some(seed) =>
        Similarity.kmeansCentroids(live, idCol, vecCol, nl, seed)
      case None =>
        Similarity.idSampledCentroids(live, idCol, vecCol, nl)
    }
    centroids
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    stampCentroidNonce(spark, path)
    val cents = loadIvfCentroids(spark, path)
    // one corpus pass assigns, one encodes; the cid repartition routes
    // each cell's codes to one file (the writeCells small-files rule)
    val assigned = Similarity.assignCells(
        Similarity.ensureParallelism(live), idCol, vecCol, cents)
      .select(col("cid"), col("id"))
    // residual=true is IVFADC proper (the PQ paper's composed form):
    // codes quantize u(x) − u(centroid(x)), so the codebook spends its
    // ks levels on the WITHIN-cell spread instead of re-describing the
    // coarse structure the centroid already captured — at production
    // nlist the raw-encoding recall penalty grows and the exact re-rank
    // budget pays for it. The serve adds the coarse term u(q)·u(c) back
    // per probed cell. residual=false (default) keeps the raw encoding
    // whose every stored byte replays as engine-neutral SQL.
    val codebooks =
      if (residual)
        Similarity.pqTrainRaw(
          residualFrame(live, idCol, vecCol, assigned, cents),
          "id", "__r", m, ks)
      else Similarity.pqTrain(live, idCol, vecCol, m, ks)
    val cbRows = for {
      s <- 0 until codebooks.length
      j <- 0 until codebooks(s).length
    } yield (s, j, codebooks(s)(j).toSeq)
    spark.createDataFrame(cbRows).toDF("s", "j", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // the encoding flavor is part of the index identity: persist it so
    // serve/append/tune resolve it from disk, never from call-site lore
    spark.createDataFrame(Seq(Tuple1(residual))).toDF("residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val encoded =
      if (residual)
        Similarity.pqEncode(
          residualFrame(live, idCol, vecCol, assigned, cents),
          "id", "__r", loadPqCodebooks(spark, path), unitize = false)
      else
        Similarity.pqEncode(live, idCol, vecCol, loadPqCodebooks(spark, path))
    // staged rebuild: see writeCells
    publishBuild(spark, path, "codes") { stage =>
      encoded
        .join(assigned, Seq("id"))
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(stage)
    }
    clearTombstones(spark, path)
  }

  /** `u(x) − u(centroid(cid))` per assigned member — the IVFADC residual
    * the composed index quantizes when built with `residual = true`.
    * One broadcast join against the nlist-row unit-centroid table; the
    * arithmetic (unitize, subtract) is a pure projection.
    */
  private def residualFrame(live: DataFrame, idCol: String, vecCol: String,
                            assigned: DataFrame,
                            cents: Array[(Long, Seq[Double], Double)]): DataFrame = {
    val spark = live.sparkSession
    val cu = spark.createDataFrame(
        cents.map { case (cid, cv, cn) =>
          (cid, if (cn == 0) cv else cv.map(_ / cn))
        }.toIndexedSeq)
      .toDF("cid", "__cu")
    live.select(col(idCol).as("id"),
        Similarity.unitized(col(vecCol).cast("array<double>")).as("__u"))
      .join(assigned, Seq("id"))
      .join(broadcast(cu), Seq("cid"))
      .select(col("id"),
        zip_with(col("__u"), col("__cu"), (a, b) => a - b).as("__r"))
  }

  /** The persisted encoding flavor (false for indexes built before the
    * residual option existed — raw was the only encoding then).
    */
  private[graft] def ivfpqIsResidual(spark: SparkSession,
                                     path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) &&
      spark.read.parquet(s"$path/meta").select("residual").head().getBoolean(0)
  }

  /** Serve top-k from a persisted IVF-PQ index: probe → read ONLY the
    * probed code partitions → broadcast (qid, cid, LUT) plan → ADC →
    * exact re-rank of the shortlist against `corpus` vectors.
    */
  def ivfpqServe(spark: SparkSession, path: String, corpus: DataFrame,
                 queries: DataFrame, idCol: String, vecCol: String, k: Int,
                 nprobe: Int = 4, rerank: Int = 4): DataFrame = {
    val cents = loadIvfCentroids(spark, path)
    val probes = Similarity.probeCellsLocal(queries, idCol, vecCol, cents, nprobe)
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val tombs = loadTombstones(spark, path)
    val codes = minusTombstonesPre(tombs,
      readProbedPartitions(spark, resolveDir(spark, path, "codes"),
          probedCids.toSeq)
        .withColumn("cid", col("cid").cast("long"))
        .filter(col("cid").isInCollection(probedCids)))
    val residualCents =
      if (ivfpqIsResidual(spark, path)) Some(cents) else None
    Similarity.ivfpqTopKWithCodes(codes, probes, corpus, queries,
      idCol, vecCol, k, rerank, loadPqCodebooks(spark, path), residualCents)
  }

  /** O(ids) takedown — the same deletion-vector sidecar as
    * [[ivfDelete]]/[[pqDelete]]; folded by [[ivfpqCompact]].
    */
  def ivfpqDelete(spark: SparkSession, path: String, ids: DataFrame,
                  idCol: String): Unit =
    appendTombstones(path, ids, idCol)

  /** Fold the sidecar into the cid-partitioned code table (one file per
    * cid restored) and clear it — the IVF-PQ member of the compact
    * family.
    */
  def ivfpqCompact(spark: SparkSession, path: String): Unit = {
    rewriteVersioned(spark, path, "codes")(minusTombstones(spark, path, _))
    clearTombstones(spark, path)
  }

  /** O(batch) incremental ingest for the composed index: the batch is
    * assigned against the PERSISTED centroids and encoded against the
    * PERSISTED codebooks (neither is ever retrained by ingest — they are
    * the index identity, like [[ivfAppend]]/[[pqAppend]]), then lands
    * append-mode in the cid partitions. Same empty-layout re-establish
    * rule as [[ivfAppend]].
    */
  def ivfpqAppend(batch: DataFrame, idCol: String, vecCol: String,
                  path: String): Unit = {
    val spark = batch.sparkSession
    val live = batch.filter(col(vecCol).isNotNull)
    val cents = loadIvfCentroids(spark, path)
    val assigned = Similarity.assignCells(
        Similarity.ensureParallelism(live), idCol, vecCol, cents)
      .select(col("cid"), col("id"))
    val coded = (
      if (ivfpqIsResidual(spark, path))
        Similarity.pqEncode(
          residualFrame(live, idCol, vecCol, assigned, cents),
          "id", "__r", loadPqCodebooks(spark, path), unitize = false)
      else
        Similarity.pqEncode(live, idCol, vecCol, loadPqCodebooks(spark, path))
    ).join(assigned, Seq("id"))
    val codesDir = resolveDir(spark, path, "codes")
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new org.apache.hadoop.fs.Path(s"$codesDir/cid=*")
    val partitioned = glob.getFileSystem(conf).globStatus(glob).nonEmpty
    if (partitioned)
      coded.write.mode("append").partitionBy("cid").parquet(codesDir)
    else
      coded.repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(codesDir)
  }

  /** Synchronize a persisted IVF-PQ index with a CDC change-log TAIL —
    * the composed member of the maintenance loop, same contract as
    * [[ivfSyncFromLog]]/[[pqSyncFromLog]]: tombstone every key the tail
    * touches (O(tail) sidecar), fold TARGETED
    * ([[foldTombstonesTargeted]] — required: the deletion vector
    * suppresses unconditionally, so an updated or revived id could
    * never re-enter while its tombstone is pending; only the probed
    * code cells holding a tombstoned member are rewritten — O(touched
    * cells), not O(index)), then LWW-reduce the tail and assign +
    * encode the surviving current versions against the PERSISTED
    * centroids and codebooks ([[ivfpqAppend]] — maintenance never
    * retrains the index identity).
    */
  def ivfpqSyncFromLog(spark: SparkSession, path: String, tail: DataFrame,
                       keyCol: String, seqCol: String, opCol: String,
                       vecCol: String, deleteOp: String = "D"): Unit = {
    val touched = tail.select(col(keyCol).as("id")).distinct()
    ivfpqDelete(spark, path, touched, "id")
    // targeted fold (see ivfSyncFromLog): O(touched cells), not O(index)
    foldTombstonesTargeted(spark, path, resolveDir(spark, path, "codes"))
    clearTombstones(spark, path)
    val live = Cdc.applyLog(tail, keyCol, seqCol, opCol, deleteOp)
      .select(col(keyCol), col(vecCol))
    if (!live.isEmpty) ivfpqAppend(live, keyCol, vecCol, path)
  }

  /** Autotune the composed index's serving knob — [[tuneIvf]]'s IVF-PQ
    * sibling: sweep `nprobe`, measure recall@k against the exact
    * brute-force truth over the SERVING membership's true vectors (from
    * `corpus`), pick the smallest candidate meeting the target (largest
    * as the explicit best-effort fallback). Cost shape: ONE ADC pass at
    * max(nprobe) with probe ranks riding along
    * ([[Similarity.ivfpqAdcRanked]]) prices the whole sweep — each
    * sweep point re-shortlists + re-ranks the same persisted frame
    * (k·rerank exact scores per query per point, never a re-scan of the
    * codes) — plus the standard |sample|·|members| truth pass.
    */
  def tuneIvfPq(spark: SparkSession, path: String, corpus: DataFrame,
                queries: DataFrame, idCol: String, vecCol: String, k: Int,
                nprobes: Seq[Int], rerank: Int = 4,
                targetRecallPctx100: Long = 9500L): DataFrame = {
    import spark.implicits._
    require(nprobes.nonEmpty, "tuneIvfPq: nprobes must be non-empty")
    // dedupe, like tuneIvf: one report row and at most one `chosen` per
    // distinct candidate
    val cand = nprobes.distinct.sorted
    val cents = loadIvfCentroids(spark, path)
    val maxP = cand.max
    val probes = Similarity.probeCellsRanked(queries, idCol, vecCol,
      cents, maxP)
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val tombs = loadTombstones(spark, path)
    val codesDir = resolveDir(spark, path, "codes")
    val codes = minusTombstonesPre(tombs,
      readProbedPartitions(spark, codesDir, probedCids.toSeq)
        .withColumn("cid", col("cid").cast("long"))
        .filter(col("cid").isInCollection(probedCids)))
    val codebooks = loadPqCodebooks(spark, path)
    val residualCents =
      if (ivfpqIsResidual(spark, path)) Some(cents) else None
    // no persist: the ranked ADC frame is consumed exactly once — by the
    // single FILTERed-aggregation pass inside sweepShortlistRerank
    val scored = Similarity.ivfpqAdcRanked(codes, probes, queries,
      idCol, vecCol, codebooks, residualCents)
    // truth = exact top-k over the serving membership's TRUE vectors
    val serving = minusTombstonesPre(tombs,
        spark.read.parquet(codesDir))
      .select(col("id").as(idCol)).distinct()
    val truth = Similarity.bruteForceTopK(
        corpus.join(serving, Seq(idCol)), queries, idCol, vecCol, k)
      .select(col("qid"), col("id")).withColumn("__in", lit(1))
      .persist()
    // whole-sweep shortlist + ONE corpus join (optimization r16): the
    // per-candidate adcShortlistRerank joined the true-vector table once
    // per sweep point — see Similarity.sweepShortlistRerank
    val perP = Similarity.sweepShortlistRerank(
      scored.select("qid", "id", "probe_rank", "score"),
      negate(col("score")), cand, corpus, queries, idCol, vecCol, k, rerank)
    val hits = perP.join(truth, Seq("qid", "id"), "left")
      .groupBy("nprobe")
      .agg(sum(coalesce(col("__in"), lit(0))).cast("long").as("hits"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val possible = truth.count()
    val nQueries = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol)).distinct().count()
    truth.unpersist()
    tuneReport(spark, cand, hits, possible, nQueries, targetRecallPctx100)
  }

  /** The shared sweep-report assembly of the tune family (tuneIvf /
    * tuneIvfPq / tuneIvfBq): one row per candidate, recall in pct×100,
    * `chosen` on the smallest candidate meeting the target (largest as
    * the explicit best-effort fallback) — report semantics live in one
    * place so the three tuners can never drift.
    */
  private def tuneReport(spark: SparkSession, cand: Seq[Int],
                         hits: Map[Int, Long], possible: Long,
                         nQueries: Long,
                         targetRecallPctx100: Long): DataFrame = {
    import spark.implicits._
    val report = cand.map { p =>
      val h = hits.getOrElse(p, 0L)
      val rec = if (possible == 0L) 0L else h * 10000L / possible
      (p, nQueries, h, possible, rec)
    }
    val pick = report.find(_._5 >= targetRecallPctx100).map(_._1)
      .getOrElse(cand.max)
    report.map(r => (r._1, r._2, r._3, r._4, r._5,
        if (r._1 == pick) 1 else 0))
      .toDF("nprobe", "n_queries", "hits", "possible", "recall_pctx100",
        "chosen")
  }

  /** Autotune the composed scan floor's serving knob — [[tuneIvfPq]]'s
    * BQ sibling: sweep `nprobe`, recall@k against the exact brute-force
    * truth over the serving membership's true vectors. Cost shape: ONE
    * Hamming pass at max(nprobe) with probe ranks riding along
    * ([[Similarity.ivfbqHammingRanked]]) prices the whole sweep — each
    * sweep point re-shortlists + re-ranks the same persisted frame —
    * plus the standard |sample|·|members| truth pass.
    */
  def tuneIvfBq(spark: SparkSession, path: String, corpus: DataFrame,
                queries: DataFrame, idCol: String, vecCol: String, k: Int,
                nprobes: Seq[Int], rerank: Int = 4,
                targetRecallPctx100: Long = 9500L): DataFrame = {
    require(nprobes.nonEmpty, "tuneIvfBq: nprobes must be non-empty")
    val cand = nprobes.distinct.sorted
    val cents = loadIvfCentroids(spark, path)
    val probes = Similarity.probeCellsRanked(queries, idCol, vecCol,
      cents, cand.max)
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val tombs = loadTombstones(spark, path)
    val codesDir = resolveDir(spark, path, "codes")
    val sigs = minusTombstonesPre(tombs,
      readProbedPartitions(spark, codesDir, probedCids.toSeq)
        .withColumn("cid", col("cid").cast("long"))
        .filter(col("cid").isInCollection(probedCids)))
    // no persist: the ranked Hamming frame is consumed exactly once — by
    // the single FILTERed-aggregation pass inside sweepShortlistRerank
    val scored = Similarity.ivfbqHammingRanked(sigs, probes, queries,
      idCol, vecCol)
    val serving = minusTombstonesPre(tombs,
        spark.read.parquet(codesDir))
      .select(col("id").as(idCol)).distinct()
    val truth = Similarity.bruteForceTopK(
        corpus.join(serving, Seq(idCol)), queries, idCol, vecCol, k)
      .select(col("qid"), col("id")).withColumn("__in", lit(1))
      .persist()
    // whole-sweep shortlist + ONE corpus join (optimization r16): the
    // per-candidate hammingShortlistRerank joined the true-vector table
    // once per sweep point — see Similarity.sweepShortlistRerank
    val perP = Similarity.sweepShortlistRerank(
      scored.select("qid", "id", "probe_rank", "ham"),
      col("ham").cast("double"), cand, corpus, queries, idCol, vecCol, k,
      rerank)
    val hits = perP.join(truth, Seq("qid", "id"), "left")
      .groupBy("nprobe")
      .agg(sum(coalesce(col("__in"), lit(0))).cast("long").as("hits"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val possible = truth.count()
    val nQueries = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol)).distinct().count()
    truth.unpersist()
    tuneReport(spark, cand, hits, possible, nQueries, targetRecallPctx100)
  }

  /** IVF-PQ health report — the composed sibling of [[describeIvf]] and
    * [[describePq]]: coarse-list count (nlist), codebook shape (m × ks —
    * the model identity), stored codes, pending tombstone debt, serving
    * membership, and the append history's files-per-cid pressure (what
    * [[ivfpqCompact]] resets to one file per cid). Metadata/aggregate
    * scans only; one row out.
    */
  def describeIvfPq(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val nlist = spark.read.parquet(s"$path/centroids").count()
    val cb = spark.read.parquet(s"$path/codebooks")
    val m = cb.agg(max(col("s"))).head().getInt(0) + 1L
    val ks = cb.agg(max(col("j"))).head().getInt(0) + 1L
    // sidecar BEFORE pointer (see minusTombstonesPre)
    val pending = loadTombstones(spark, path)
    val codes = spark.read.parquet(resolveDir(spark, path, "codes"))
      .withColumn("__file", input_file_name())
    val stats = codes.agg(count(lit(1)).as("n"),
        countDistinct(col("__file")).as("nf"),
        countDistinct(col("cid")).as("nc")).head()
    val nCodes = stats.getLong(0)
    val nTomb = pending.fold(0L)(_.count())
    val nServing = pending.fold(nCodes)(t =>
      codes.join(broadcast(t), Seq("id"), "left_anti").count())
    val filesPerCidX100 =
      if (stats.getLong(2) == 0) 0L else stats.getLong(1) * 100 / stats.getLong(2)
    Seq((nlist, m, ks, nCodes, nTomb, nServing, filesPerCidX100))
      .toDF("nlist", "m", "ks", "n_codes", "n_pending_tombstones",
        "n_serving", "files_per_cid_x100")
  }

  // ------------------------------------------- auto-compaction policy

  /** Parquet FILE census of one artifact directory subtree — a recursive
    * listing, no data pass. The same figure the describe* gauges report;
    * shared so the policy and the gauges can never disagree.
    */
  private[graft] def parquetFileCount(spark: SparkSession,
                                      dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  /** The shared compaction TRIGGER: fire when the artifact's file census
    * exceeds `maxFiles` (small-files pressure — the serve-latency tax an
    * append history accrues) or the pending-tombstone fraction exceeds
    * `maxTombstoneFracPct` percent of stored rows (dead-weight pressure —
    * every serve re-reads and anti-joins the sidecar). Cost shape: one
    * recursive listing always; the tombstone check adds two counts ONLY
    * when a sidecar exists — a quiet index prices as a listing.
    */
  private def needsCompact(spark: SparkSession, path: String, name: String,
                           maxFiles: Long,
                           maxTombstoneFracPct: Int): Boolean = {
    // sidecar BEFORE pointer (see minusTombstonesPre) — kept even though
    // maintenance is single-writer, so every read path shares one order
    val tombs = loadTombstones(spark, path)
    compactionDue(spark, resolveDir(spark, path, name), tombs,
      maxFiles, maxTombstoneFracPct)
  }

  /** The ONE trigger-evaluation implementation, shared by every
    * CompactIfNeeded verb in the library (the five ANN families here
    * and `Dedup.sigRegistryCompactIfNeeded`) — the policy semantics
    * (file census vs maxFiles; DISTINCT pending tombstones vs frac% of
    * stored rows, both counts only while a sidecar exists) live in
    * exactly one place so the verbs can never drift. `tombs` is the
    * caller's already-distinct sidecar frame, loaded sidecar-first.
    */
  private[operators] def compactionDue(spark: SparkSession, dataDir: String,
                                       tombs: Option[DataFrame],
                                       maxFiles: Long,
                                       maxTombstoneFracPct: Int): Boolean =
    if (parquetFileCount(spark, dataDir) > maxFiles) true
    else tombs.fold(false) { t =>
      val nTomb = t.count()
      nTomb > 0L && {
        val nRows = spark.read.parquet(dataDir).count()
        nTomb * 100L > maxTombstoneFracPct.toLong * math.max(nRows, 1L)
      }
    }

  /** Thresholded auto-compaction — the ACTOR behind [[describeIvf]]'s
    * gauges: at 100 TB an append-heavy index degrades (file listings,
    * sidecar anti-joins) until something decides to compact, and a gauge
    * with no actor means that something is a human. Call it after each
    * maintenance batch (append / delete / sync); it fires [[ivfCompact]]
    * when either threshold trips and is a cheap no-op otherwise (one
    * listing; plus two counts only while a sidecar is pending). Returns
    * whether a compact ran — callers log it; the artifact's state is
    * observable via [[describeIvf]] either way.
    */
  def ivfCompactIfNeeded(spark: SparkSession, path: String,
                         maxFiles: Long = 512,
                         maxTombstoneFracPct: Int = 20): Boolean = {
    val go = needsCompact(spark, path, "cells", maxFiles, maxTombstoneFracPct)
    if (go) ivfCompact(spark, path)
    go
  }
}
