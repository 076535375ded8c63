package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.index.{AllowedKeys, AnnIndex, BinaryIvfIndex, ExactRerank, HnswIndex, IndexParams, Ivf, IvfFlatIndex, IvfIndex, IvfPqIndex, LocalHits}
import graft.operators.{Knn, TopK}
import graft.table.GammaTable

/** Incremental ANN-index maintenance over a [[GammaTable]] — the Spark
  * re-expression of the reference's realtime indexing subsystem:
  *
  *  - build once when the table crosses `indexingSize` docs
  *    (reference `indexing_size` gate, search/gamma_engine.cc:744-749),
  *    driving the UNINDEXED -> INDEXING -> INDEXED FSM (R9,
  *    gamma_engine.h:28);
  *  - per refresh, APPEND new vectors to the existing centroids without
  *    retraining (R5 — the reference feeds raw vectors into the trained
  *    index in chunks, gamma_engine.cc:996-1043) and supersede re-written
  *    vectors (R6 — the updated-vid queue, vector_manager.cc:355-380);
  *  - at query time, stale/deleted entries are left out of the index scan
  *    (the reference's bitmap `IsValid` check inside the scan, T11/X2: an
  *    IVF store row's `_version` against the build version, an exclusion
  *    set for HNSW) and the not-yet-indexed tail is searched exactly and
  *    union-merged (the reference searches index + raw memory tail; V9
  *    brute-force fallback when no index exists).
  *
  * Two storage modes:
  *
  *  - **in-memory** (default): inverted lists live as a localCheckpoint —
  *    the reference's resident realtime index;
  *  - **persisted** (`persist = true`): lists live AT REST as parquet under
  *    `<table.root>/index/<field>/lists/v<N>/`, partitioned by
  *    `centroid_id` so probe filters prune files (T4). Refreshes APPEND
  *    delta rows (stamped `_ixv` = their table `_version`) plus a
  *    `replaced/` log of superseded keys; a query-time anti-join
  *    (`lists._ixv < replaced.ixv`) hides stale entries — the analog of
  *    the reference's bit-63 tombstones in realtime lists
  *    (realtime/realtime_mem_data.h:26-27). [[compactIndex]] rewrites the
  *    lists minus tombstones into `v<N+1>` and swaps the manifest — the
  *    reference's bucket compaction (R8, realtime_mem_data.cc:98-142).
  *
  * Scale design: each refresh touches only rows with `_version >` the
  * index's build version (an O(delta) filter thanks to version stamping);
  * a persisted refresh writes O(delta) files and never rewrites resident
  * lists; `replaced/` is O(churn-since-compaction), anti-joined with
  * size-based planning (broadcast while small, shuffle once it is not).
  */
class IncrementalIndexer(
    val table: GammaTable,
    val vecCol: String,
    val params: IndexParams = IndexParams(),
    val indexingSize: Long = 0L,
    val persist: Boolean = false,
    val retrievalType: String = "IVFFLAT") {

  require(Set("IVFFLAT", "IVFPQ", "HNSW", "BINARYIVF").contains(retrievalType.toUpperCase(java.util.Locale.ROOT)),
    s"IncrementalIndexer serves IVFFLAT, IVFPQ, HNSW or BINARYIVF (got $retrievalType); " +
      "other models build via IndexRegistry without incremental maintenance")
  require(!retrievalType.equalsIgnoreCase("BINARYIVF") || params.metric == Metric.Hamming,
    "BINARYIVF serves the Hamming metric only (set IndexParams.metric = Hamming)")

  import GammaTable.{DeletedCol, VersionCol}
  import IncrementalIndexer.{IxvCol, IndexState}

  private val spark = table.spark
  private val key = table.meta.keyField

  /** Persisted location: `<root>/index/<field>` for the field's DECLARED
    * model; other models on the same field (V10 multi-model) live beside it
    * as `<field>@<TYPE>`, so several indexes persist per field without
    * colliding (the reference keys its index dirs by retrieval type too,
    * vector/vector_manager.cc:161-195).
    */
  // var, not val: load() pins it to the directory it actually FOUND, so
  // tables persisted under an older layout (e.g. a non-default model at
  // the bare field dir) stay loadable after naming-scheme changes
  private[streaming] var dirName = {
    val declared = table.meta.vectorFields.find(_.name == vecCol)
      .map(_.retrievalType.toUpperCase(java.util.Locale.ROOT))
    // an UNDECLARED field's bare dir belongs to the indexer-default model
    // (IVFFLAT) only — any other model suffixes, so two persisted models on
    // the same undeclared field never share (and corrupt) one directory
    if (declared.getOrElse("IVFFLAT") == retrievalType.toUpperCase(java.util.Locale.ROOT)) vecCol
    else s"$vecCol@${retrievalType.toUpperCase(java.util.Locale.ROOT)}"
  }
  private def indexRoot = s"${table.root}/index/$dirName"

  /** Table version the index is built through (read-only status surface
    * for `CALL system.build_index` and tooling).
    */
  def indexedThroughVersion: Long = builtVersion
  /** Directory name under `<table.root>/index/` the persisted lists live
    * in (`<field>` or `<field>@<TYPE>` for non-default models).
    */
  def indexDirName: String = dirName

  @volatile private var index: Option[AnnIndex] = None
  @volatile private var builtVersion: Long = -1L
  @volatile private var listsVersion: Long = 0L
  // table version up to which the lists contain NO entries of tombstoned
  // keys — advanced only when the lists are actually purged (build,
  // compaction, HNSW rebuild). refresh() appends but never purges deletes
  // (tombstones stay in place until compaction, whatever their _version
  // stamp says), so the stale-entry scan must look back to
  // min(builtVersion, cleanedVersion)
  @volatile private var cleanedVersion: Long = -1L

  /** Buckets changed since this horizon are the only place stale or
    * tombstoned index entries can correspond to: updates after
    * `builtVersion` and deletes after `cleanedVersion`.
    */
  private def invalidHorizon: Long = math.min(builtVersion, cleanedVersion)

  def status: String = table.meta.indexStatus

  /** The index as a search binds it: an IVF index reads the current
    * table's store and serves its rows through the build version (the
    * request path's index part, without the unindexed tail).
    */
  def currentIndex: Option[AnnIndex] = index.map {
    case ivf: IvfIndex => rebuilt(ivf, ivf.lists).asInstanceOf[IvfIndex].through(builtVersion)
    case other         => other
  }

  /** Same quantizers, different lists — used by the stale-filter,
    * refresh, compaction, and load paths. An IVF index reads the CURRENT
    * doc table's resident store, which holds its lists, so it always scans
    * live rows; the quantizer broadcast carries over.
    */
  private def rebuilt(proto: AnnIndex, data: DataFrame): AnnIndex = proto match {
    case ivf: IvfIndex =>
      ivf.onTable(data, table.docs, table.vectorStore(vecCol, Some(ivf.codec)))
    case h: HnswIndex =>
      new HnswIndex(spark, data, key, vecCol, params, h.excluded)
    case other => other
  }

  private def listsOf(idx: AnnIndex): DataFrame = idx match {
    case ivf: IvfIndex => ivf.lists
    case h: HnswIndex  => h.graphs
    case other => throw new IllegalStateException(s"unsupported ${other.retrievalType}")
  }

  // per-list row counts for adaptive probe widening, cached per
  // (listsVersion, builtVersion): ONE column-pruned count job when the
  // lists change, reused by every subsequent search (recomputing per
  // request would add a job to the hot path for a stat that only moves
  // on refresh/compaction)
  @volatile private var sizesCache: (Long, Long, Option[Array[Long]]) = (-2L, -2L, None)

  /** The probe base the last index-routed search stamped into its params
    * (the value probeTarget widens against) — observability for specs;
    * -1 until an index-routed search runs.
    */
  @volatile private[graft] var lastProbeBase: Int = -1

  private def cachedListSizes(lists: DataFrame, ncent: Int): Option[Array[Long]] = {
    if (!Ivf.adaptiveEnabled(spark) || ncent <= 0) return None
    val cur = sizesCache
    if (cur._1 == listsVersion && cur._2 == builtVersion) cur._3
    else {
      val arr = new Array[Long](ncent)
      // cast: the centroid_id of persisted lists is a parquet PARTITION
      // column, whose inferred type need not match the written IntegerType
      lists.groupBy(col("centroid_id").cast("int").as("centroid_id")).count()
        .collect().foreach { r =>
          val c = r.getInt(0)
          if (c >= 0 && c < ncent) arr(c) = r.getLong(1)
        }
      sizesCache = (listsVersion, builtVersion, Some(arr))
      Some(arr)
    }
  }

  // mean HNSW segment node count, cached like the IVF list sizes — the
  // stats job deserializes every graph once per lists version (about one
  // query batch's deserialize cost), then every search sizes its
  // per-segment beam from the cached scalar
  @volatile private var hnswAvgCache: (Long, Long, Option[Double]) = (-2L, -2L, None)

  /** Guards the [[rowCalibration]] read-modify-write: concurrent
    * searches doing the unsynchronized fold could lose an EWMA update.
    * Reads of the volatile scalar stay lock-free.
    */
  private val calibLock = new Object

  /** EWMA of measured/predicted scanned rows (clamped to [0.01, 100]) —
    * corrects the uniform-volume probe-cost model under list skew. Each
    * unfiltered single-query IVFPQ search folds its own scan in right
    * after the scan runs ([[foldScanFeedback]]). The count travels in the
    * scan tasks' results, so each successful task counts once.
    */
  @volatile private[graft] var rowCalibration: Double = 1.0

  /** Scanned-row count measured by the last unfiltered single-query IVFPQ
    * search (-1 until one has run).
    */
  @volatile private var measuredScanRows: Long = -1L
  def lastMeasuredScanRows: Long = measuredScanRows

  /** Folds the scan `pq` just ran into [[rowCalibration]] against the
    * uniform-volume prediction for its `effNprobe` lists. Only unfiltered
    * single-query probes feed back: an allowed set shrinks the measured
    * scan by the filter's selectivity, and a batch's count measures the
    * UNION of its probed lists, up to the batch size times a
    * per-query prediction; either would mis-teach the volume model (the
    * serving point query is the case the calibration targets anyway).
    */
  private def foldScanFeedback(pq: IvfIndex, effNprobe: Option[Int]): Unit = {
    val total = math.max(table.meta.maxDocid, 1L)
    val pred = IncrementalIndexer.uniformProbeRows(pq.centers.length, total,
      math.min(effNprobe.getOrElse(params.nprobe).toLong, pq.centers.length.toLong))
    val scanned = pq.lastScannedRows
    measuredScanRows = scanned
    if (scanned > 0 && pred > 0) calibLock.synchronized {
      rowCalibration = math.max(0.01, math.min(100.0,
        0.5 * rowCalibration + 0.5 * (scanned.toDouble / pred)))
    }
  }

  private def cachedSegmentAvg(graphs: DataFrame): Option[Double] = {
    if (!HnswIndex.adaptiveEfEnabled(spark)) return None
    val cur = hnswAvgCache
    if (cur._1 == listsVersion && cur._2 == builtVersion) cur._3
    else {
      import spark.implicits._
      val sizes = graphs.select(col("graph")).as[Array[Byte]]
        .mapPartitions(_.map(b => HnswIndex.deserializeSize(b)))
        .toDF("n")
        .agg(org.apache.spark.sql.functions.sum("n"),
          org.apache.spark.sql.functions.count("n"))
        .head()
      val avg =
        if (sizes.isNullAt(0) || sizes.getLong(1) == 0L) None
        else Some(sizes.getLong(0).toDouble / sizes.getLong(1))
      hnswAvgCache = (listsVersion, builtVersion, avg)
      avg
    }
  }

  /** Attach the cached per-list stats to an IVF-family instance (graph
    * models size their per-segment beam instead; FLAT probes nothing).
    */
  private def withListStats(idx: AnnIndex): AnnIndex = idx match {
    case ivf: IvfIndex => ivf.withListSizes(cachedListSizes(ivf.lists, ivf.centers.length))
    case h: HnswIndex  => h.withSegmentAvg(cachedSegmentAvg(h.graphs))
    case other => other
  }

  /** The table's resident store of this field; an IVF index's holds its
    * lists, so its exact fallback and its scans share one store.
    */
  private def vectorStore: graft.index.VectorStore = index match {
    case Some(ivf: IvfIndex) => table.vectorStore(vecCol, Some(ivf.codec))
    case _                   => table.vectorStore(vecCol)
  }

  private def fs = new Path(indexRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def listsPath = s"$indexRoot/lists/v$listsVersion"
  private def replacedPath = s"$indexRoot/replaced/v$listsVersion"
  // standing HNSW exclusions (keys purged from the table whose entries
  // remain in immutable graph segments) persist HERE so a reloaded index
  // keeps excluding them; cleared by rebuildHnsw (fresh graphs hold live
  // docs only)
  private def excludedPath = s"$indexRoot/excluded"

  /** Persisted lists minus superseded entries: an index row is stale iff a
    * later version of its key was appended (`_ixv < replaced.ixv`).
    */
  // lists-at-rest schema, seeded at write time (and persisted in the index
  // manifest) so reads skip parquet footer inference — one Spark job per
  // read on the build/refresh/load/search paths otherwise
  @volatile private[streaming] var listsSchemaCache: org.apache.spark.sql.types.StructType = null

  private def readLists(): DataFrame = Option(listsSchemaCache) match {
    case Some(s) => spark.read.schema(s).parquet(listsPath)
    case None =>
      val d = spark.read.parquet(listsPath)
      listsSchemaCache = d.schema
      d
  }

  private def persistedData(): DataFrame = {
    val lists = readLists()
    val stale =
      if (fs.exists(new Path(replacedPath))) {
        // no forced broadcast: the log is O(churn-since-compaction) and a
        // compaction-starved table could grow it past executor memory —
        // parquet size stats let the planner broadcast exactly when small
        import org.apache.spark.sql.types._
        val rs = StructType(Seq(StructField("__rk", lists.schema(key).dataType),
          StructField("__rv", LongType)))
        val replaced = spark.read.schema(rs).parquet(replacedPath)
        lists.join(replaced,
          lists(key) === replaced("__rk") && lists(IxvCol) < replaced("__rv"),
          "left_anti")
      } else lists
    stale
  }

  /** Last manifest actually written — writeMeta is called per microbatch
    * and most are no-ops; skipping the rewrite avoids both the wasted
    * filesystem round-trip and re-opening the (small) crash window.
    */
  @volatile private var lastWrittenState: Option[IndexState] = None

  private def writeMeta(): Unit = {
    val st = IndexState(builtVersion, listsVersion, params.metric.toString, params.ncentroids,
      params.nprobe, params.nsubvector, params.nbits, params.recallNum,
      params.hasRank, params.trainSampleRows, params.seed, retrievalType,
      cleanedVersion, params.nlinks, params.efConstruction, params.efSearch,
      params.opq, params.opqIters,
      Option(listsSchemaCache).map(_.json).orNull)
    if (!lastWrittenState.contains(st)) {
      IncrementalIndexer.writeState(spark, s"$indexRoot/meta", st)
      lastWrittenState = Some(st)
    }
  }

  private def saveCentroids(centers: Array[Array[Double]]): Unit =
    Ivf.saveCenters(spark, s"$indexRoot/centroids", centers)

  /** Build or incrementally extend the index (R5/R6). Call after each
    * ingest microbatch (the streaming wrapper does).
    */
  def refresh(): Unit = synchronized {
    index match {
      case None =>
        // capture the horizon BEFORE any action runs: rows committed while
        // the build is in flight land ABOVE it and are picked up exactly
        // once by the next refresh; reading the version afterwards would
        // both skip them (never indexed, tail-excluded) and, bounded the
        // other way, double-index whatever the lazy frames happened to see
        val targetVersion = table.meta.version
        val live = table.docs.filter(col(VersionCol) <= targetVersion)
        val docs = live.select(col(key), col(vecCol), col(VersionCol).as(IxvCol))
        // the maxDocid gate is cumulative (deletes never decrement it) —
        // an all-tombstoned or empty table must not enter the build branch
        // and crash k-means on an empty sample with the status stuck at
        // INDEXING
        if (table.meta.maxDocid >= indexingSize && !docs.isEmpty) {
          table.setIndexStatus("INDEXING")
          val proto: AnnIndex = retrievalType.toUpperCase(java.util.Locale.ROOT) match {
            case "IVFPQ" =>
              // train quantizers on the current docs, then stamp the code
              // lists with row versions via the delta-encode kernel
              IvfPqIndex.build(spark, live, key, vecCol, params)
            case "HNSW" =>
              HnswIndex.build(spark, live.select(col(key), col(vecCol)),
                key, vecCol, params)
            case "BINARYIVF" =>
              val k =
                if (params.ncentroids > 0) params.ncentroids
                else Ivf.autoNcentroids(docs.count(), -1)
              val centers = BinaryIvfIndex.trainCoarse(
                docs, vecCol, k, params.trainSampleRows, params.seed)
              new BinaryIvfIndex(spark, BinaryIvfIndex.assignWithCenters(docs, vecCol, centers),
                table.docs, key, vecCol, centers, params)
            case _ =>
              val k =
                if (params.ncentroids > 0) params.ncentroids
                else Ivf.autoNcentroids(docs.count(), -1)
              val centers = Ivf.trainCoarse(docs, vecCol, k, params.trainSampleRows, params.seed)
              new IvfFlatIndex(spark,
                Ivf.assignWithCenters(docs, vecCol, centers, params.metric),
                table.docs, key, vecCol, centers, params)
          }
          val assigned = proto match {
            case p: IvfPqIndex =>
              // build already encoded every doc — just stamp row versions
              // instead of paying a second full-table encode pass
              p.lists.join(docs.select(col(key), col(IxvCol)), Seq(key))
            case other => listsOf(other)
          }
          val data =
            if (persist) {
              writeLists(assigned, listsPath, SaveMode.Overwrite)
              proto match {
                case p: IvfPqIndex   => p.saveQuantizers(indexRoot)
                case f: IvfFlatIndex => saveCentroids(f.centers)
                case b: BinaryIvfIndex =>
                  BinaryIvfIndex.saveCenters(spark, s"$indexRoot/centroids_bin", b.centroids)
                case _               => ()
              }
              persistedData()
            } else assigned.localCheckpoint(true)
          index = Some(rebuilt(proto, data))
          builtVersion = targetVersion
          cleanedVersion = builtVersion // fresh lists: only live docs
          if (persist) writeMeta()
          table.setIndexStatus("INDEXED")
        }
      case Some(h: HnswIndex) => refreshHnsw(h)
      case Some(idx) =>
        // capture the horizon BEFORE evaluating the delta, and bound the
        // delta BY it: rows committed mid-refresh land above targetVersion
        // and are picked up exactly once next refresh (unbounded, they
        // could be both appended now and re-appended later = duplicates)
        val targetVersion = table.meta.version
        // changed rows only live in buckets rewritten since the build —
        // an O(churn) read, not a table scan
        val delta = table.docsChangedSince(builtVersion)
          .filter(!col(DeletedCol) && col(VersionCol) > builtVersion &&
            col(VersionCol) <= targetVersion)
          .select(col(key), col(vecCol), col(VersionCol).as(IxvCol))
        if (!delta.isEmpty) {
          // encode with the EXISTING quantizers — no retrain (R5/R6)
          val assigned = idx match {
            case p: IvfPqIndex => p.encodeDelta(delta, keepCols = Seq(IxvCol))
            case f: IvfFlatIndex =>
              Ivf.assignWithCenters(delta, vecCol, f.centers, f.params.metric)
            case b: BinaryIvfIndex =>
              BinaryIvfIndex.assignWithCenters(delta, vecCol, b.centroids)
            case other => throw new IllegalStateException(other.retrievalType)
          }
          val newData =
            if (persist) {
              // supersede log FIRST: a crash between the two writes then
              // leaves the delta rows tail-served (builtVersion unchanged)
              // and the next refresh re-appends them — the reverse order
              // left appended duplicates no later step ever removed
              delta.select(col(key).as("__rk"), col(IxvCol).as("__rv"))
                .write.mode(SaveMode.Append).parquet(replacedPath)
              writeLists(assigned, listsPath, SaveMode.Append)
              persistedData()
            } else
              listsOf(idx)
                .join(delta.select(key), Seq(key), "left_anti") // R6: replace updated
                .unionByName(assigned)
                .localCheckpoint(true)
          index = Some(rebuilt(idx, newData))
        }
        builtVersion = targetVersion
        if (persist) writeMeta()
    }
  }

  /** Centroid-keyed lists persist partitioned by `centroid_id` so probe
    * filters prune files (T4); HNSW graph segments have no centroid key
    * and persist as plain parquet.
    */
  private def writeLists(df: DataFrame, path: String, mode: SaveMode): Unit =
    if (df.columns.contains("centroid_id")) {
      df.repartition(col("centroid_id"))
        .write.mode(mode).partitionBy("centroid_id").parquet(path)
      // partition discovery appends the partition column after the file
      // columns — seed the read schema in that order
      listsSchemaCache = graft.core.ManifestIO.asNullable(
        org.apache.spark.sql.types.StructType(
          df.schema.fields.filterNot(_.name == "centroid_id") :+
            df.schema("centroid_id")))
    } else {
      df.write.mode(mode).parquet(path)
      listsSchemaCache = graft.core.ManifestIO.asNullable(df.schema)
    }

  /** HNSW graphs are immutable segments: a refresh does NOT advance
    * `builtVersion` — updated/deleted keys are excluded from the graphs at
    * query time (the reference's delete-bitmap semantics: hnswlib entries
    * are never removed, gamma marks vids invalid and re-adds) and fresh
    * rows are served exactly by the tail union in [[search]]. Once the
    * un-indexed tail outgrows ~20% of the table, rebuild wholesale — graph
    * compaction IS a rebuild.
    */
  private def refreshHnsw(h: HnswIndex): Unit = {
    // rebuild trigger: fresh/updated rows (served by the exact tail) plus
    // the STANDING excluded set (purged keys whose graph entries remain).
    // Tombstone rows themselves are deliberately NOT counted: counting
    // them fired spurious O(table) rebuilds on tables carrying old
    // uncompacted tombstones (pre-change-feed tombstones also carry no
    // delete stamp, so age is not reliably knowable). Deletes enter the
    // trigger when compaction purges them into the excluded set, which
    // bounds that set's growth.
    val staleCnt = table.docsChangedSince(builtVersion)
      .filter(!col(DeletedCol) && col(VersionCol) > builtVersion).count()
    val exclCnt = h.excluded.map(_.count()).getOrElse(0L)
    val total = math.max(table.docs.count(), 1L)
    // ABSOLUTE cap on the standing exclusion set, independent of the
    // ratio tiers: every search collects the set as one sorted long
    // array (8 B/key) on the driver and broadcasts it to executors. The
    // ratio tiers alone admit 5-20% of the table — multi-GB at 1B+ rows
    // (the reference's bitmap_manager.h pays 1 bit/doc over a DENSE id
    // space; sparse 64-bit keys are 64x that). Past the cap the set is
    // compacted into the graphs regardless of ratio, so the broadcast
    // stays <= 8 B * cap (default 2M keys = 16 MB) plus one refresh
    // interval's churn.
    val exclCap = spark.conf.getOption("spark.graft.hnsw.maxExcludedRows")
      .map(_.toLong).getOrElse(2000000L)
    if ((staleCnt + exclCnt) * 5L >= total) rebuildHnsw()
    // middle tier: exclusions past ~5% of the table OR past the absolute
    // broadcast cap get compacted into per-segment graph rewrites
    // (HnswIndex.compacted — no table scan, no shuffle, tail untouched),
    // so the standing set stops growing without paying a full rebuild
    else if (exclCnt * 20L >= total || exclCnt >= exclCap)
      compactHnswExclusions(h)
    else if (persist) writeMeta()
  }

  /** Fold the standing exclusions into the graphs (per-segment rewrite)
    * and drop the persisted exclusion log — builtVersion is untouched
    * (the unindexed tail stays tail-served).
    */
  private def compactHnswExclusions(h: HnswIndex): Unit = {
    val nh = h.compacted()
    if (persist) {
      val next = s"$indexRoot/lists/v${listsVersion + 1}"
      nh.graphs.write.mode(SaveMode.Overwrite).parquet(next)
      listsSchemaCache = graft.core.ManifestIO.asNullable(nh.graphs.schema)
      val old = listsVersion
      listsVersion += 1
      writeMeta()
      sweepRetired()
      retire(s"$indexRoot/lists/v$old")
      fs.delete(new Path(excludedPath), true)
      index = Some(new HnswIndex(spark, persistedData(), key, vecCol, params))
    } else index = Some(nh)
    // segments shrank: the cached mean node count is stale (the
    // non-persisted branch bumps no version, so the cache key would
    // otherwise keep serving the pre-compaction average and shrink
    // adaptive beams below their proportional width)
    hnswAvgCache = (-2L, -2L, None)
  }

  private def rebuildHnsw(): Unit = {
    // capture BEFORE the build actions (same horizon contract as refresh)
    val targetVersion = table.meta.version
    val nh = HnswIndex.build(spark,
      table.docs.filter(col(VersionCol) <= targetVersion)
        .select(col(key), col(vecCol)),
      key, vecCol, params)
    if (persist) {
      val next = s"$indexRoot/lists/v${listsVersion + 1}"
      nh.graphs.write.mode(SaveMode.Overwrite).parquet(next)
      listsSchemaCache = graft.core.ManifestIO.asNullable(nh.graphs.schema)
      val old = listsVersion
      listsVersion += 1
      builtVersion = targetVersion
      cleanedVersion = builtVersion
      writeMeta()
      sweepRetired()
      retire(s"$indexRoot/lists/v$old")
      // fresh graphs hold live docs only — the standing exclusions are
      // moot; the exclusion SET readers hold is an in-memory checkpoint,
      // so the log delete races with nothing
      fs.delete(new Path(excludedPath), true)
      index = Some(new HnswIndex(spark, persistedData(), key, vecCol, params))
    } else {
      builtVersion = targetVersion
      cleanedVersion = builtVersion
      index = Some(nh)
    }
  }

  /** Called by the table BEFORE it physically purges tombstoned rows
    * (compaction): once those rows leave the table, the standing
    * stale-entry scan (`docsChangedSince` + `_deleted`) can no longer see
    * them, so their index entries must be dropped or excluded NOW or
    * deleted docs would resurface in index search results.
    */
  /** Superseded on-disk version dirs are retired with a one-compaction
    * grace period instead of deleted inline: a search in flight reads
    * lists planned over the then-current version, and an inline delete
    * would FileNotFound it when a compaction runs concurrently. Each
    * compaction first sweeps the dirs the PREVIOUS one retired;
    * [[vacuumIndex]] forces the sweep.
    */
  private val retiredDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  private def retire(paths: String*): Unit = synchronized { retiredDirs ++= paths }

  private def sweepRetired(): Unit = synchronized {
    retiredDirs.foreach(p => fs.delete(new Path(p), true))
    retiredDirs.clear()
  }

  /** Delete list/log versions superseded by earlier compactions (grace
    * period over). Safe once no reader still holds a pre-compaction plan.
    */
  def vacuumIndex(): Unit = sweepRetired()

  private[graft] def excludePurged(purged: DataFrame): Unit = synchronized {
    index.foreach {
      case h: HnswIndex =>
        // immutable graph segments: fold the purged keys into the standing
        // exclusion set (delete-bitmap semantics); O(churn) rows. distinct()
        // keeps re-purged keys from accumulating duplicates across rounds.
        if (persist)
          // durability: a reloaded index must keep excluding these keys —
          // their graph entries survive on disk and, once the table rewrite
          // drops the tombstone rows, the invalid-horizon scan can never
          // see them again
          purged.toDF(key).write.mode(SaveMode.Append).parquet(excludedPath)
        val excl = h.excluded.map(_.toDF(key).unionByName(purged.toDF(key)))
          .getOrElse(purged.toDF(key)).distinct().localCheckpoint(true)
        index = Some(new HnswIndex(spark, h.graphs, key, vecCol, params, Some(excl)))
      case idx if persist =>
        // persisted lists: supersede every CURRENT entry of the purged keys
        // via the replaced log — O(churn) append, not an O(index) rewrite
        // (entries stamped _ixv <= the current table version are hidden; a
        // later re-insert of a key commits at a strictly higher version and
        // stays visible). Physical removal happens at the next
        // compactIndex().
        purged.select(col(key).as("__rk"), lit(table.meta.version + 1L).as("__rv"))
          .write.mode(SaveMode.Append).parquet(replacedPath)
        // the effective lists just shrank under an unchanged
        // (listsVersion, builtVersion) key — drop the cached per-list
        // sizes or probe costing/widening keeps pricing purged rows
        sizesCache = (-2L, -2L, None)
        index = Some(rebuilt(idx, persistedData()))
      case idx =>
        // resident lists: drop the purged keys' entries — O(churn) anti-join
        sizesCache = (-2L, -2L, None)
        index = Some(rebuilt(idx, listsOf(idx)
          .join(purged.toDF(key), Seq(key), "left_anti").localCheckpoint(true)))
    }
  }

  /** Rewrite persisted lists minus superseded entries into a fresh version
    * dir and swap (reference bucket compaction, R8).
    */
  def compactIndex(): Unit = synchronized {
    require(persist, "compactIndex applies to persisted indexes")
    index.foreach {
      case _: HnswIndex =>
        // graph compaction IS a rebuild: entries cannot be removed from an
        // immutable graph segment, so rewrite the graphs from live docs
        rebuildHnsw()
      case idx =>
        // drop superseded rows (the log) AND rows of keys no longer live
        // (the reference compacts buckets when the deleted ratio grows,
        // realtime_mem_data.cc:98-142). Dropping rows of keys updated but
        // not yet refreshed is safe: builtVersion is untouched, so the next
        // refresh re-appends them from the version-stamped delta.
        val clean = persistedData()
          .join(table.docs.select(col(key)), Seq(key), "left_semi")
        val nextLists = s"$indexRoot/lists/v${listsVersion + 1}"
        writeLists(clean, nextLists, SaveMode.Overwrite)
        val old = listsVersion
        listsVersion += 1
        // every key tombstoned up to NOW was just purged (left_semi on live
        // keys); stale entries of updated-but-unrefreshed keys may remain,
        // which the invalid horizon covers via builtVersion
        cleanedVersion = table.meta.version
        writeMeta()
        sweepRetired()
        retire(s"$indexRoot/lists/v$old", s"$indexRoot/replaced/v$old")
        index = Some(rebuilt(idx, persistedData()))
    }
  }

  /** Search merging indexed data + exact scan of the unindexed tail.
    * `allowedIds` pushes a scalar-filter key set into BOTH scans (X2);
    * `minScore`/`maxScore` is the score-range predicate (P8), filtered
    * inside every scan BEFORE its top-k heap (the reference's
    * `IsSimilarScoreValid` callback) so out-of-range hits never consume
    * the candidate budget.
    *
    * Filtered-ANN policy (SURVEY §7.5 risk 2 — the reference pushes
    * `IsValid` into the scan and over-fetches via `recall_num`,
    * gamma_index_ivfpq.h:584,633; and falls back to brute force when the
    * filter leaves too few docs, gamma_engine.cc:327-340). An allowed set
    * is classified by size (`allowedCount`; counted here, by the keys job,
    * when the caller did not already know it):
    *  - **few survivors** (≤ max(16·k, `spark.graft.filter.exactFallbackRows`)):
    *    partial-nprobe probing could return fewer than k (or worse)
    *    results even though matches exist — serve EXACTLY over the
    *    filtered rows instead (V9 semantics), which is both correct and
    *    cheaper than probing;
    *  - **moderate** (≤ `spark.graft.filter.broadcastMaxKeys`): push into
    *    the index scan with a broadcast hint, and WIDEN nprobe/ef by the
    *    inverse selectivity (capped by the model's own clamp) so the
    *    probed lists still hold ~k allowed docs;
    *  - **huge** (weakly selective): same pushdown but NO broadcast hint —
    *    the semi-join shuffles (or AQE re-plans it), instead of forcing a
    *    near-table-size set through the driver.
    *
    * Spark jobs per IVFFLAT, IVFPQ or BINARYIVF request when the caller
    * ([[graft.table.GammaTable.search]]) hands over the allowed keys its
    * keys job collected; the cached per-list stats cost one more job once
    * per lists version, an unindexed tail (a bucket changed since the
    * build) one more, and a batch above
    * [[IvfIndex.MaxBroadcastCandidates]] candidates repeats the index job
    * once per whole-qid chunk:
    *  - unfiltered: 1, over the table's resident store, whose blocks hold
    *    each live row's vector, `_version` and centroid (and PQ codes for
    *    IVFPQ); each task scans its block's probed lists over the rows
    *    with `_version` ≤ the build version (the clean lists minus the
    *    updated-after-build and tombstoned keys, so nothing is
    *    anti-joined), IVFFLAT scoring each row exactly, IVFPQ by ADC with
    *    its candidates re-ranked from the same block; the driver merges
    *    (no Parquet row is read);
    *  - moderate: the keys job plus the same 1 — the keys ride a
    *    `SparkContext.broadcast` and each index row is tested against them
    *    inside the scan;
    *  - few survivors: the keys job plus 1, which looks the allowed keys up
    *    in the same store and scores them, with k per query per task merged
    *    on the driver; no shuffle.
    * BINARYIVF takes the same jobs, each row scored by Hamming over its
    * packed code. The first request that needs the store after a commit,
    * or on a freshly loaded table, builds it inside its own job, assigning
    * every live row to its list: no extra job, no shuffle (see
    * [[graft.table.GammaTable.vectorStore]]).
    * The keys job (here, or the caller's) collects the keys of a set
    * within `broadcastMaxKeys`. Without collected keys (a set above it)
    * an IVF model scans its lists minus the stale keys, semi-joined with
    * the allowed frame, in one job (IVFPQ re-ranks in a second, over the
    * store), and the exact fallback runs the `Knn.flatSearch` plan.
    *
    * Every tier runs its search here and returns its hits as a local
    * relation ([[searchHits]]), so collecting the result runs no job.
    */
  def search(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int] = None,
      allowedIds: Option[DataFrame] = None,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      allowedCount: Long = -1L,
      recallNum: Option[Int] = None,
      hasRank: Option[Boolean] = None): DataFrame =
    searchHits(queries, k, nprobe,
      allowedIds.map(ids =>
        if (allowedCount >= 0L) AllowedKeys(ids, allowedCount, None)
        else AllowedKeys.collect(ids, AllowedKeys.broadcastMax(spark))),
      minScore, maxScore, recallNum, hasRank).toDF(spark)

  /** [[search]], with the hits held on the driver, so the caller's
    * per-request cuts need no further Spark job. The IVF tiers
    * ([[IvfIndex.searchHits]]) and the exact fallback over collected
    * keys ([[ExactRerank.allowedOnly]]) merge their task heaps on the
    * driver; every other tier collects its plan ([[LocalHits.collect]]).
    */
  private[graft] def searchHits(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int] = None,
      allowed: Option[AllowedKeys] = None,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      recallNum: Option[Int] = None,
      hasRank: Option[Boolean] = None): LocalHits = {
    import spark.implicits._
    // binary fields store packed bytes; their queries ride the float
    // surface as byte values (BinaryIvfIndex adapter) — the exact-scan
    // paths need a BinaryType query column for the hamming kernel
    lazy val qDf =
      if (retrievalType.equalsIgnoreCase("BINARYIVF"))
        queries.map { case (i, v) => (i, BinaryIvfIndex.floatsToBytes(v)) }
          .toDF("qid", "qvec")
      else queries.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
    val aCount = allowed.fold(-1L)(_.count)
    // an EXPLICIT conf is an absolute override (0 disables the exact
    // fallback — e.g. to force the index path under test); the default is
    // COST-BASED on the index's own stats: a probe reads ~total ·
    // effNprobe/ncentroids list rows (discounted for compressed codes), so
    // whenever the allowed set is no bigger than that, ONE exact pass over
    // the survivors is both cheaper than probing and exact by
    // construction. A static floor (16·k, 64k rows) covers the no-index /
    // graph-model cases where the volume model does not apply.
    // one model-arity/partial-probe computation shared by the cost bound
    // below and the stats attachment in the index branch
    def ncentOf(ix: AnnIndex): Int = ix match {
      case ivf: IvfIndex => ivf.centers.length
      case _             => 0
    }
    def partialListProbe(ix: AnnIndex): Boolean = {
      val nc = ncentOf(ix)
      nc > 0 && nprobe.getOrElse(params.nprobe) < nc
    }
    // lazy: only the filtered branch (aCount >= 0) consults it — an
    // unfiltered search must not pay the probe-cost model (or the cached
    // list-sizes job it can trigger) for a value it never reads
    lazy val exactThreshold = IncrementalIndexer.exactFallbackRows(spark, k,
      // cost from ACTUAL per-list row counts when the probe is partial
      // (cached stat, one job per lists version — the same stats the
      // adaptive widening reads); uniform-volume model otherwise
      index.map { ix =>
        val sizes =
          if (partialListProbe(ix)) cachedListSizes(listsOf(ix), ncentOf(ix)) else None
        IncrementalIndexer.probeCostRows(
          ix, math.max(table.meta.maxDocid, 1L), aCount, nprobe, sizes,
          rowCalibration)
      }.getOrElse(0L))
    val broadcastMax = AllowedKeys.broadcastMax(spark)
    lazy val allowedHinted = allowed.map { a =>
      val ids = a.frame.toDF(key)
      a.copy(frame = if (aCount <= broadcastMax) org.apache.spark.sql.functions.broadcast(ids) else ids)
    }
    def restrict(df: DataFrame): DataFrame = allowedHinted match {
      case Some(a) => df.join(a.frame, Seq(key), "left_semi")
      case None    => df
    }
    // tier-decision observability: scale sweeps read these lines to record
    // WHICH filtered-ANN policy tier fired at the measured corpus size
    // (the decision is volume-dependent — cost model vs survivor count —
    // so the 2M-vector evidence must show the decision, not just the result)
    def logTier(t: String): Unit = System.err.println(
      s"[tier] filtered-ann=$t allowed=$aCount" +
        (if (aCount >= 0L) s" exactThreshold=$exactThreshold" else ""))
    index match {
      case None =>
        // V9: brute force while UNINDEXED
        logTier("unindexed-brute")
        LocalHits.collect(Knn.flatSearch(restrict(table.docs), key, vecCol, qDf, "qid", "qvec", k,
          params.metric, minScore = minScore, maxScore = maxScore))
      case Some(_) if aCount >= 0L && aCount <= exactThreshold =>
        // exact-over-filtered fallback: few enough survivors that probing
        // cannot guarantee k of them — and scoring all of them exactly is
        // cheaper than a probe anyway. With the keys on the driver, one
        // job looks the allowed rows up in the table's vector store and
        // the task heaps merge on the driver; otherwise the exact plan.
        logTier("exact-fallback")
        ExactRerank.allowedOnly(vectorStore, queries, k, params.metric, allowed.get,
          (minScore, maxScore)).getOrElse(LocalHits.collect(
          Knn.flatSearch(restrict(table.docs), key, vecCol, qDf, "qid", "qvec", k, params.metric,
            minScore = minScore, maxScore = maxScore)))
      case Some(idx) =>
        // one build version for the index scan and the tail
        val built = builtVersion
        // ids whose index entry is stale (updated after build) or dead —
        // such rows only live in buckets rewritten since the horizon, so
        // the scan is O(churned buckets), not O(table). (Keys whose
        // entries were already purged re-excluded harmlessly.) The
        // manifest tells when no bucket changed: then there is nothing to
        // exclude and no unindexed tail, and neither plan is built.
        def changedSince(v: Long) = table.meta.bucketVersions.values.exists(_ > v)
        lazy val invalid =
          if (!changedSince(invalidHorizon)) None
          else Some(table.docsChangedSince(invalidHorizon)
            .filter(col(VersionCol) > built || col(DeletedCol))
            .select(col(key)))
        // per-list stats only matter when the probe is PARTIAL — a full
        // probe reads every list regardless, so skip the (cached) stats
        // count job for it (full-probe lifecycle/oracle searches stay
        // job-for-job identical to the pre-stats engine)
        val partialProbe = partialListProbe(idx) ||
          // a graph walk is always "partial" — per-segment beam stats apply
          retrievalType.equalsIgnoreCase("HNSW")
        // HNSW, the model without a store, folds the stale keys into its
        // standing excluded set (AnnIndex.excluding, X2/T11: graph segments
        // are opaque — exclusion happens at result admission). rebuilt()
        // first so an IVF index reads the CURRENT doc table's store.
        val freshIdx = rebuilt(idx, listsOf(idx))
        val statsIdx = if (partialProbe) withListStats(freshIdx) else freshIdx
        // the request's PRE-widening probe base (override or configured
        // default) — stamped into the params copy below so the model's
        // probeTarget computes its widening ratio against the true base:
        // against the configured default, an override BELOW it floored
        // the ratio to 1 and the adaptive row target never widened with
        // the filter (starving the candidate heap on skewed lists)
        val baseNp = nprobe.getOrElse(
          if (retrievalType.equalsIgnoreCase("HNSW")) params.efSearch else params.nprobe)
        // per-request recall_num / has_rank override (X1 per-request param
        // JSON): a params copy shares quantizers/lists — no rebuild cost
        val tunedIdx =
          if (recallNum.isEmpty && hasRank.isEmpty && nprobe.isEmpty) statsIdx
          else statsIdx.withParams(statsIdx.params.copy(
            nprobe =
              if (retrievalType.equalsIgnoreCase("HNSW")) statsIdx.params.nprobe
              else baseNp,
            recallNum = recallNum.getOrElse(statsIdx.params.recallNum),
            hasRank = hasRank.getOrElse(statsIdx.params.hasRank)))
        lastProbeBase = tunedIdx.params.nprobe
        // an IVF store scan serves the rows of _version <= built: every
        // later or tombstoned row is exactly an `invalid` one, so it
        // anti-joins nothing. An IVF allowed frame scans the lists minus
        // `invalid`, on the same store.
        val cleanIdx = tunedIdx match {
          case ivf: IvfIndex if ivf.scansStore(allowed) => ivf.through(built)
          case ivf: IvfIndex =>
            invalid.fold(ivf)(ids => ivf.withLists(ivf.lists.join(ids, Seq(key), "left_anti")))
          case other => invalid.fold(other)(other.excluding)
        }
        // inverse-selectivity widening (the reference's recall_num
        // over-fetch); maxDocid is a free upper bound on table size
        // (deletes only make it conservative)
        val total = math.max(table.meta.maxDocid, 1L)
        val effNprobe =
          if (aCount > 0L) Some(IncrementalIndexer.widenedProbe(baseNp, total, aCount))
          else nprobe
        // HNSW is the one model whose allowed-set pushdown materializes the
        // set on the DRIVER (sorted primitive array broadcast) — for a
        // weakly selective filter that is exactly the driver-side blowup
        // the huge tier exists to avoid. Search unrestricted with an
        // inverse-selectivity-widened fetch instead and semi-join the hits
        // against the allowed set afterwards (it shuffles, never collects);
        // the final top-k merge cuts back to k.
        val hnswHuge = retrievalType.equalsIgnoreCase("HNSW") &&
          allowedHinted.isDefined && aCount > broadcastMax
        logTier(
          if (hnswHuge) "hnsw-huge-semijoin"
          else if (aCount >= 0L) s"indexed-widened-probe nprobe=$baseNp->${
            effNprobe.getOrElse(baseNp)}"
          else "indexed-unfiltered")
        val (pushIds, fetchK) =
          if (hnswHuge) (None, IncrementalIndexer.hnswHugeFetchK(k, total, aCount))
          else (allowedHinted, k)
        val fromTail =
          if (!changedSince(built)) None
          else Some(Knn.flatSearch(
            restrict(table.docsChangedSince(built)
              .filter(!col(DeletedCol) && col(VersionCol) > built)),
            key, vecCol, qDf, "qid", "qvec", k, params.metric,
            minScore = minScore, maxScore = maxScore))
        val asc = Metric.ascending(params.metric)
        cleanIdx match {
          case ivf: IvfIndex =>
            // one job over the store (collected keys tested in its scan),
            // or the list scan of an allowed frame (plus the IVFPQ re-rank
            // job); the merge with the tail (one more job) runs on the
            // driver too. The probe-cost feedback learns from IVFPQ scans.
            val hits = ivf.searchHits(queries, fetchK, effNprobe,
              if (ivf.scansStore(allowed)) allowed else pushIds, minScore, maxScore)
            if (ivf.isInstanceOf[IvfPqIndex] && pushIds.isEmpty && queries.size == 1)
              foldScanFeedback(ivf, effNprobe)
            fromTail.fold(hits)(t => (hits ++ LocalHits.collect(t)).topK(k, asc))
          case _ =>
            val fromIndex0 = (cleanIdx, pushIds) match {
              // the graph walk tests the keys the caller's keys job collected
              case (h: HnswIndex, Some(a)) =>
                h.searchAllowed(queries, fetchK, effNprobe, a, minScore, maxScore)
              case _ =>
                cleanIdx.search(queries, fetchK, effNprobe, pushIds.map(_.frame), minScore, maxScore)
            }
            val fromIndex =
              if (hnswHuge) {
                val ids = allowed.get.frame
                fromIndex0.join(
                  ids.select(col(ids.columns.head).cast("long").as("id")), Seq("id"), "left_semi")
              } else fromIndex0
            LocalHits.collect(TopK.perGroup(fromTail.fold(fromIndex)(fromIndex.unionByName(_)),
              "qid", "score", asc, k, Seq("id")))
        }
    }
  }

}

object IncrementalIndexer {

  /** Version stamp carried on every persisted index row: the table
    * `_version` of the doc state it encodes.
    */
  val IxvCol = "_ixv"

  /** Uniform-volume scanned-row prediction for an eff-list probe — the
    * quantity the accumulator feedback calibrates (scanned rows are
    * measurable; the compressed-row cost DISCOUNT is a relative CPU cost
    * and is not).
    */
  private[graft] def uniformProbeRows(ncent: Int, total: Long, eff: Long): Long =
    if (ncent <= 0) 0L
    else total / ncent * eff + (total % ncent) * eff / ncent // overflow-safe total*eff/ncent

  /** Estimated cost of a FILTERED probe through `idx`, in exact-scan row
    * equivalents — the cost-based side of the exact-fallback decision. A
    * probe scans ~total · effNprobe/ncentroids list rows, where effNprobe
    * carries the inverse-selectivity widening the filtered path applies;
    * compressed-code models (IVFPQ/BINARYIVF) read ~4x cheaper rows than
    * the raw-vector exact scan. 0 = no model (graph/FLAT: the static
    * floor decides alone).
    *
    * With `listSizes` (the cached actual per-list row counts) the volume
    * is the sum of the effNprobe LARGEST lists instead of the uniform
    * model: under skew — the case the uniform model misjudges — real
    * probes are size-biased toward heavy lists, so this upper bound sends
    * borderline requests to the exact path, which is always correct.
    */
  private[graft] def probeCostRows(
      idx: AnnIndex, total: Long, aCount: Long, nprobe: Option[Int],
      listSizes: Option[Array[Long]] = None,
      calibration: Double = 1.0): Long = {
    if (aCount <= 0L) return 0L
    val (ncent, compressed) = idx match {
      case ivf: IvfIndex => (ivf.centers.length, !ivf.isInstanceOf[IvfFlatIndex])
      case _             => (0, false)
    }
    if (ncent <= 0) return 0L
    val base = math.max(1L, nprobe.getOrElse(idx.params.nprobe).toLong)
    val eff = math.min(base * selectivityFactor(total, aCount), ncent.toLong)
    val rows = listSizes match {
      case Some(sz) if sz.nonEmpty =>
        val desc = sz.sorted(Ordering[Long].reverse)
        var s = 0L
        var i = 0
        while (i < desc.length && i < eff) { s += desc(i); i += 1 }
        s
      case _ =>
        // uniform model corrected by measured-feedback calibration (actual
        // per-list row counts, when cached, need no correction)
        (uniformProbeRows(ncent, total, eff) * calibration).toLong
    }
    if (compressed) rows / 4 else rows
  }

  /** The filtered-ANN policy's formulas, shared with the SQL rewrite.
    * Exact-fallback threshold: allowed sets of at most this many rows are
    * scored exactly. An explicit `spark.graft.filter.exactFallbackRows` is
    * absolute; otherwise max(16·k, 65536, `probeCost`).
    */
  private[graft] def exactFallbackRows(spark: SparkSession, k: Int, probeCost: => Long): Long =
    spark.conf.getOption("spark.graft.filter.exactFallbackRows").map(_.toLong)
      .getOrElse(math.max(math.max(16L * k, 65536L), probeCost))

  /** Inverse selectivity of `aCount` allowed rows among `total`, rounded
    * up (1 unfiltered or empty): with an allowed fraction s a probed list
    * holds ~s of its usual allowed docs, so the probe budget grows ~1/s.
    */
  private[graft] def selectivityFactor(total: Long, aCount: Long): Long =
    if (aCount <= 0L) 1L else math.max(1L, (total + aCount - 1L) / aCount)

  /** A filtered request's probe budget (nprobe, or efSearch for HNSW),
    * capped at 2^20; each model clamps it to its own limit.
    */
  private[graft] def widenedProbe(base: Int, total: Long, aCount: Long): Int =
    math.min(base.toLong * selectivityFactor(total, aCount), 1L << 20).toInt

  /** The HNSW huge tier's fetch for its post-walk semi-join. */
  private[graft] def hnswHugeFetchK(k: Int, total: Long, aCount: Long): Int =
    math.min(k.toLong * selectivityFactor(total, aCount) * 2L, math.max(k.toLong, 1L << 16)).toInt

  /** Persisted index manifest (the reference dumps per-model meta next to
    * its lists, gamma_engine.cc:1101-1146).
    */
  case class IndexState(
      builtVersion: Long,
      listsVersion: Long,
      metric: String,
      ncentroids: Int,
      nprobe: Int,
      nsubvector: Int,
      nbits: Int,
      recallNum: Int,
      hasRank: Boolean,
      trainSampleRows: Int,
      seed: Long,
      retrievalType: String,
      cleanedVersion: Long,
      nlinks: Int,
      efConstruction: Int,
      efSearch: Int,
      opq: Boolean,
      opqIters: Int,
      // at-rest lists schema (StructType json) so load() skips parquet
      // footer inference; null on manifests that predate the field
      listsSchema: String = null)

  private[streaming] def writeState(
      spark: org.apache.spark.sql.SparkSession, dir: String, s: IndexState): Unit = {
    val json =
      s"""{"builtVersion":${s.builtVersion},"listsVersion":${s.listsVersion},""" +
        s""""metric":"${s.metric}","ncentroids":${s.ncentroids},"nprobe":${s.nprobe},""" +
        s""""nsubvector":${s.nsubvector},"nbits":${s.nbits},"recallNum":${s.recallNum},""" +
        s""""hasRank":${s.hasRank},"trainSampleRows":${s.trainSampleRows},""" +
        s""""seed":${s.seed},"retrievalType":"${s.retrievalType}",""" +
        s""""cleanedVersion":${s.cleanedVersion},""" +
        s""""nlinks":${s.nlinks},"efConstruction":${s.efConstruction},""" +
        s""""efSearch":${s.efSearch},"opq":${s.opq},"opqIters":${s.opqIters}""" +
        Option(s.listsSchema).map { ls =>
          val q = ls.flatMap {
            case '"' => "\\\""; case '\\' => "\\\\"
            case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
          }
          s""","listsSchema":"$q""""
        }.getOrElse("") + "}"
    // write-temp-then-rename: the old delete-dir-then-create left a window
    // (every refresh!) where a crash stranded the index with NO manifest
    // while its lists/quantizers were intact
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    val tmp = new Path(dirPath, "meta.json.tmp")
    val out = fs.create(tmp, true)
    out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val dest = new Path(dirPath, "meta.json")
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"rename $tmp -> $dest failed")
  }

  private def readState(
      spark: org.apache.spark.sql.SparkSession, dir: String): IndexState = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val enc = implicitly[org.apache.spark.sql.Encoder[IndexState]]
    // a meta written by an OLDER build lacks later-added fields; reading
    // with the full schema would null-crash the non-nullable encoder
    // fields, so missing columns load as their historical defaults
    // (cleanedVersion -1 = conservative full invalid-horizon)
    val defaults: Map[String, Any] = Map(
      "recallNum" -> 100, "hasRank" -> true, "cleanedVersion" -> -1L,
      "retrievalType" -> "IVFFLAT", "nlinks" -> 32, "efConstruction" -> 200,
      "efSearch" -> 64, "opq" -> false, "opqIters" -> 3)
    // read the exact file, not the dir: a crash between create(tmp) and
    // rename strands meta.json.tmp next to a valid meta.json, and a
    // dir-wide read would load both (two rows, arbitrary head). Driver-side
    // read + local-relation from_json: ZERO Spark jobs (the old
    // spark.read.json cost a schema-inference job plus a head() job per
    // index load). from_json leaves absent fields null, so historical
    // defaults apply via coalesce (manifests never write explicit nulls).
    val json = graft.core.ManifestIO.readString(spark, s"$dir/meta.json")
      .getOrElse(throw new java.io.FileNotFoundException(s"$dir/meta.json"))
    var df = graft.core.ManifestIO.parseDF(spark, json, enc.schema)
    enc.schema.fields.foreach { f =>
      defaults.get(f.name).foreach { d =>
        df = df.withColumn(f.name,
          org.apache.spark.sql.functions.coalesce(col(f.name), lit(d).cast(f.dataType)))
      }
    }
    df.select(enc.schema.fieldNames.toSeq.map(col): _*).as[IndexState].head()
  }

  /** Restore a persisted index from `<table.root>/index/<dirName>` — the
    * load half of the dump/load lifecycle (S9). `dirName` is `<field>` or
    * `<field>@<TYPE>` (V10 multi-model dirs). The restored index reads
    * its lists lazily from parquet, so probe filters prune files at rest.
    */
  def load(table: GammaTable, dirName: String): IncrementalIndexer = {
    val spark = table.spark
    val vecCol = dirName.split('@')(0)
    val root = s"${table.root}/index/$dirName"
    val st = readState(spark, s"$root/meta")
    val params = IndexParams(Metric.withName(st.metric), st.ncentroids, st.nprobe,
      st.nsubvector, st.nbits, st.recallNum, st.hasRank, st.trainSampleRows, st.seed,
      st.nlinks, st.efConstruction, st.efSearch, st.opq, st.opqIters)
    val rt = Option(st.retrievalType).getOrElse("IVFFLAT") // pre-r2 metas lack it
    val ix = new IncrementalIndexer(table, vecCol, params, 0L, persist = true, rt)
    // serve from the dir we FOUND, whatever naming scheme wrote it
    ix.dirName = dirName
    ix.listsVersion = st.listsVersion
    ix.builtVersion = st.builtVersion
    ix.cleanedVersion = st.cleanedVersion
    // manifest-carried lists schema: the first lists read skips footer
    // inference (legacy manifests leave it null -> infer once and cache)
    Option(st.listsSchema).foreach { j =>
      ix.listsSchemaCache = org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    val key = table.meta.keyField
    ix.index = Some(rt.toUpperCase(java.util.Locale.ROOT) match {
      case "IVFPQ" =>
        val (centers, codebooks, rotation) = IvfPqIndex.loadQuantizers(spark, root)
        new IvfPqIndex(spark, ix.persistedData(), table.docs, key, vecCol, centers, codebooks,
          params, rotation)
      case "HNSW" =>
        // restore the standing exclusion set: entries of keys purged from
        // the table live on in the immutable graph segments, and after the
        // purge nothing in the table can re-derive them
        val exclDir = new Path(s"$root/excluded")
        val hfs = exclDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val pd = ix.persistedData()
        val excl =
          if (hfs.exists(exclDir)) {
            // single key column, typed off the table's manifest-carried
            // schema (the graphs nest keys inside segment structs)
            val es = org.apache.spark.sql.types.StructType(
              Seq(table.docs.schema(key).copy(nullable = true)))
            Some(spark.read.schema(es).parquet(exclDir.toString).distinct())
          } else None
        new HnswIndex(spark, pd, key, vecCol, params, excl)
      case "BINARYIVF" =>
        new BinaryIvfIndex(spark, ix.persistedData(), table.docs, key, vecCol,
          BinaryIvfIndex.loadCenters(spark, s"$root/centroids_bin"), params)
      case _ =>
        new IvfFlatIndex(spark, ix.persistedData(), table.docs, key, vecCol,
          graft.index.Ivf.loadCenters(spark, s"$root/centroids"), params)
    })
    ix
  }
}
