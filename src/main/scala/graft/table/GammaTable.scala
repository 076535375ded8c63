package graft.table

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.{Metric, SearchRequest}
import graft.operators.{Filters, Knn, TopK}

/** Vector-field declaration (reference idl/fbs/table.fbs:22-32
  * `VectorInfo{name, dimension, retrieval_type, ...}`).
  */
case class VectorFieldDef(
    name: String,
    dim: Int,
    metric: String = "L2", // L2 | InnerProduct | Cosine | Hamming
    retrievalType: String = "FLAT",
    // vector store type (reference retrieval_model.h:18 FLOAT|BINARY|INT8;
    // store_type per field, vector/vector_manager.cc:79-95): INT8 stores
    // struct(scale, codes array<tinyint>) at rest — 4x smaller — and every
    // read path decodes back to the float surface. BINARY fields carry
    // BinaryType columns directly (no codec needed).
    store: String = "FLOAT")

/** Table metadata persisted alongside the data (the reference's `.schema`
  * file + engine counters, search/gamma_engine.cc:607-612, 651-657).
  * `bucketVersions` is the manifest: current data version per key-bucket.
  * `bucketStats` is per-bucket numeric column min/max (bucket -> column ->
  * [min, max]) — the manifest analog of the reference's per-field B-tree
  * filter index (table/field_range_index.cc:616-759): a range filter
  * prunes buckets whose stats cannot overlap before any file is opened.
  * Bounds are recorded conservatively widened; a missing entry means
  * "cannot prune".
  */
case class TableMeta(
    name: String,
    keyField: String,
    nBuckets: Int,
    maxDocid: Long,
    version: Long,
    bucketVersions: Map[String, Long],
    vectorFields: Seq[VectorFieldDef],
    indexStatus: String, // UNINDEXED | INDEXING | INDEXED (reference gamma_engine.h:28)
    bucketStats: Map[String, Map[String, Seq[Double]]] = Map.empty,
    // at-rest file schema (StructType json, captured at write time) so
    // readers never pay a parquet footer-inference job; null on legacy
    // manifests -> readers infer once and cache on the handle
    dataSchema: String = null,
    // wall-clock commit stamp (ms) — the TIMESTAMP AS OF clock that
    // survives filesystem copies (file mtimes, the fallback, do not);
    // None on legacy manifests
    committedAtMs: Option[Long] = None,
    // compaction commits that purged >=1 tombstone, newest last. Each has
    // a key-level purge log at data/purged/v<N> so the change feed stays
    // complete across compact() (tombstone replay, the reference's
    // migration contract — storage/migrate_data.cc:63-101); empty/null on
    // legacy manifests
    purgedVersions: Seq[Long] = Nil)

/** A gamma "table" re-expressed Spark-first: one parquet dataset of
  * scalar+vector documents, hash-bucketed by primary key with a per-bucket
  * version manifest.
  *
  * Reference mapping (search/gamma_engine.h:146-147 single-table engine):
  *  - `_id` primary key (table/table.cc:40,123-126) -> `keyField` column
  *  - dense docid (gamma_engine.cc:651-657)         -> `_docid` long column,
  *    preserved across updates like the reference's in-place update
  *  - delete bitmap (util/bitmap_manager.h)         -> `_deleted` boolean
  *  - segment store + dump dirs (storage/, gamma_engine.cc:1101-1146)
  *      -> parquet under `root/data/b<bucket>/v<version>/`
  *
  * Scale design: documents hash to `pmod(xxhash64(key), nBuckets)` buckets.
  * A write (upsert/delete) reads ONLY affected buckets at their current
  * versions, writes NEW version dirs for those buckets, then commits by
  * swapping the manifest — no self-overwrite, no rewriting of untouched
  * data, old versions remain readable until GC. A small delta against a
  * 100 TB table costs O(delta buckets), and key lookups prune to one
  * bucket's files. `nBuckets` should give ~1 GB buckets at scale; local
  * tests use a small count.
  *
  * Resident vectors: each vector field an ANN request re-ranks or
  * exact-scores gets one [[graft.index.VectorStore]] per manifest (see
  * [[vectorStore]]): the live (key, vector) rows on the decoded float
  * surface (INT8-stored fields decoded once), cached in Spark's block
  * manager and looked up by key, so a request reads its candidates'
  * blocks instead of the table's files. An IVFFLAT, IVFPQ or BINARYIVF
  * field's store also holds the index: each row's version and coarse
  * centroid (and its PQ codes for IVFPQ), so an IVF request scans (and
  * IVFPQ re-ranks) in one job over it. The first request
  * after a commit (or on a freshly loaded handle) builds it inside its own
  * job, with no shuffle; the commit unpersists the previous manifest's
  * blocks. Memory: per live row, the vector (4 B a component for float,
  * 8 B for double, 1 B a byte for a binary code) plus its key (about 24 B for a long key, more for a
  * string) and a 4 B offset; for an IVF index, 8 B of version and 4 B of
  * list entry, plus 2 B per subspace code for IVFPQ. It spills to
  * executor disk under memory pressure (`MEMORY_AND_DISK`).
  */
class GammaTable private (
    val spark: SparkSession,
    val root: String,
    @volatile private var meta0: TableMeta) {

  /** Cached key-column DataType for [[get]] bucket routing (None until
    * first derived; reset on commit).
    */
  @volatile private var keyTypeCache: Option[org.apache.spark.sql.types.DataType] = None

  /** Filtered-key frames persist()ed per search request, released FIFO
    * once enough newer requests have arrived — without this, sustained
    * filtered-search volume accumulates dead blocks in executor storage
    * until driver GC + ContextCleaner get around to them (which this
    * repo's perf notes record being GC-starved). Unpersist here is safe
    * at ANY time: persist keeps lineage, so a caller still holding an
    * old request's result frame just recomputes the filter scan.
    */
  private val allowedRetired = new java.util.ArrayDeque[DataFrame]()

  /** Persists a request's filtered key frame and queues it for release.
    * A plan a queued frame already cached is not cached twice (the older
    * handle's release would drop the entry this request reads): it moves
    * to the back of the queue. A frame someone else cached is not queued.
    */
  private def holdAllowed(df: DataFrame): Unit = allowedRetired.synchronized {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      allowedRetired.addLast(df)
    } else {
      val plan = df.queryExecution.analyzed
      if (allowedRetired.removeIf(_.queryExecution.analyzed.sameResult(plan))) allowedRetired.addLast(df)
    }
    while (allowedRetired.size > 8) allowedRetired.removeFirst().unpersist(false)
  }

  import GammaTable._

  // the kernels search plans and SQL callers name (idempotent per session)
  graft.functions.registerAll(spark)

  def meta: TableMeta = meta0

  private def bucketPath(b: Long, v: Long) = s"$root/data/b$b/v$v"

  private def currentPaths(buckets: Seq[Long] = Nil): Seq[String] = {
    val bv = meta0.bucketVersions
    val sel = if (buckets.isEmpty) bv.keys.map(_.toLong).toSeq else buckets
    sel.flatMap(b => bv.get(b.toString).map(v => bucketPath(b, v)))
  }

  /** Raw at-rest rows (INT8-stored vector fields appear as their encoded
    * structs) — the surface every WRITE path must use, so rewrites keep
    * the storage encoding instead of materializing decoded floats.
    */
  private def rawAllDocs: DataFrame = {
    val paths = currentPaths()
    if (paths.isEmpty) spark.emptyDataFrame else readData(paths)
  }

  // parsed form of meta0.dataSchema (memoized: the json string is stable
  // across commits once set) plus a fallback cache for legacy manifests
  // that predate the field
  @volatile private var schemaParseCache: (String, org.apache.spark.sql.types.StructType) = null
  @volatile private var inferredSchemaCache: org.apache.spark.sql.types.StructType = null

  private def atRestSchema: Option[org.apache.spark.sql.types.StructType] =
    Option(meta0.dataSchema).map { j =>
      val c = schemaParseCache
      if (c != null && (c._1 eq j)) c._2
      else {
        val s = org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        schemaParseCache = (j, s)
        s
      }
    }.orElse(Option(inferredSchemaCache))

  /** Read at-rest bucket files. With the manifest-carried schema the scan
    * skips parquet footer inference — one fewer Spark job on EVERY read
    * path (search fires three of these per request).
    */
  private def readData(paths: Seq[String]): DataFrame = atRestSchema match {
    case Some(s) => spark.read.schema(s).parquet(paths: _*)
    case None =>
      val df = spark.read.parquet(paths: _*)
      inferredSchemaCache = df.schema
      df
  }

  private def int8Fields: Seq[String] =
    meta0.vectorFields.collect {
      case f if f.store != null && f.store.equalsIgnoreCase("INT8") => f.name
    }

  /** Decode INT8-stored vector fields back to the float surface (type-
    * guarded: already-float columns pass through, so mixed/legacy frames
    * are safe).
    */
  private def decodeStored(df: DataFrame): DataFrame =
    int8Fields.foldLeft(df) { (d, f) =>
      d.schema.fields.find(_.name == f) match {
        case Some(sf) if sf.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
          d.withColumn(f, graft.functions.Quant.int8Decode(col(f)))
        case _ => d
      }
    }

  /** Encode float vector columns declared INT8 for writing (type-guarded:
    * only array-typed columns are encoded, an already-encoded struct
    * passes through). Re-encoding a DECODED frame is near-stable but not
    * bit-guaranteed — the decoded max component is float(127*scale), so a
    * fresh scale can differ in the last ulp; no write path depends on it
    * (ingest encodes the caller's float surface once, and compaction
    * rewrites the RAW at-rest structs without a decode round-trip).
    */
  private def encodeStored(df: DataFrame): DataFrame =
    int8Fields.foldLeft(df) { (d, f) =>
      d.schema.fields.find(_.name == f) match {
        case Some(sf) if sf.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
          d.withColumn(f, graft.functions.Quant.int8Encode(col(f)))
        case _ => d
      }
    }

  /** (manifest, allDocs, docs) of the last read: the frames hold a parquet
    * relation whose file listing is paid once, so they are reused for as
    * long as the manifest instance is. Every commit, refresh or load
    * replaces that instance, and version directories are immutable.
    */
  @volatile private var framesCache: (TableMeta, DataFrame, DataFrame) = null

  private def frames: (TableMeta, DataFrame, DataFrame) = {
    val m = meta0
    val c = framesCache
    if (c != null && (c._1 eq m)) c
    else {
      val all = decodeStored(rawAllDocs)
      val f = (m, all, all.filter(!col(DeletedCol)))
      // built from meta0 as it was read above; a commit racing this read
      // leaves a stale entry that the identity check never serves
      if (meta0 eq m) framesCache = f
      f
    }
  }

  /** (manifest, field -> store) of [[vectorStore]], guarded by `storesLock`. */
  private var stores: (TableMeta, Map[String, graft.index.VectorStore]) = null
  private val storesLock = new Object

  /** The resident vector store of `field` over the current manifest's live
    * docs; built by its first job. With `codec` (an IVF index's
    * quantizers) the store also holds each row's `_version`, centroid and
    * (IVFPQ) PQ codes, encoded with that codec; without, any store of the field
    * serves. A store made for an older manifest, or with another codec, is
    * released (its blocks unpersisted) when replaced: by [[writeMeta]] on
    * every commit, or here.
    */
  private[graft] def vectorStore(
      field: String, codec: Option[graft.index.IvfCodec] = None): graft.index.VectorStore = {
    val m = meta0
    val (store, stale) = storesLock.synchronized {
      val stale = if (stores != null && (stores._1 ne m)) takeStores() else Nil
      if (stores == null) stores = (m, Map.empty)
      val held = stores._2.get(field)
      val s = held.filter(h => codec.forall(c => h.codec.exists(_ eq c))).getOrElse {
        val cols = Seq(col(m.keyField), col(field)) ++ codec.map(_ => col(VersionCol))
        new graft.index.VectorStore(docs.select(cols: _*), codec)
      }
      stores = (m, stores._2 + (field -> s))
      (s, stale ++ held.filter(_ ne s))
    }
    stale.foreach(_.release())
    store
  }

  /** Detaches every store; the caller releases them outside the lock. */
  private def takeStores(): Iterable[graft.index.VectorStore] = storesLock.synchronized {
    val held = if (stores == null) Nil else stores._2.values
    stores = null
    held
  }

  /** All documents, including logically-deleted ones (vector fields on
    * the FLOAT surface regardless of store type).
    */
  def allDocs: DataFrame = frames._2

  /** Live documents (every reference read path filters the delete bitmap,
    * common/gamma_common_data.h:99-108).
    */
  def docs: DataFrame = frames._3

  /** Rows of buckets whose CURRENT version is newer than `v` — the only
    * buckets that can hold rows written or tombstoned after commit `v`,
    * because every upsert/delete rewrites each affected bucket at a new
    * version. Incremental index maintenance reads this instead of the
    * whole table: at scale the changed-bucket set is O(churn), not
    * O(table).
    */
  def docsChangedSince(v: Long): DataFrame = {
    val paths = meta0.bucketVersions.collect {
      case (b, bv) if bv > v => bucketPath(b.toLong, bv)
    }.toSeq
    if (paths.isEmpty) allDocs.limit(0)
    else decodeStored(readData(paths))
  }

  private def readBuckets(buckets: Seq[Long]): Option[DataFrame] = {
    val paths = currentPaths(buckets)
    if (paths.isEmpty) None else Some(readData(paths))
  }

  /** Incremental change feed: NET row-level changes committed in
    * `(fromVersion, toVersion]`, derived from the `_version` stamps every
    * upsert and delete writes — the Delta-CDF analog of the reference's
    * migration source (storage/migrate_data.cc:1-136). One row per key
    * that changed: its state AT `toVersion` plus `_change_type`
    * (`upsert` | `delete`) and `_change_version` (the commit that last
    * touched it). A key updated twice in the range appears once with its
    * final value; inserted-then-deleted appears as a `delete` the
    * consumer can drop. `changes(0, current)` replays the whole live
    * state — exactly what downstream index/BM25 maintenance consumes
    * internally via [[docsChangedSince]].
    *
    * Scale: reads ONLY buckets whose version moved in the range (O(churn)
    * of the window, not O(table)); resolution is manifest-driven with
    * zero extra jobs. Fails loudly when `vacuum()` has retired the
    * range's files or the `toVersion` manifest was never retained.
    *
    * Complete across `compact()`: a compaction physically purges
    * tombstones, but it first persists them to a key-level purge log
    * (`data/purged/v<N>`, see [[writePurgeLog]]) — a window spanning the
    * compaction replays those delete events from the log (the reference's
    * migration source likewise replays tombstones,
    * storage/migrate_data.cc:63-101). Purged delete events carry the key
    * and internals; their DATA columns read null (the pre-image went with
    * the purge — consumers of deletes key on the key). A purge log
    * retired by `vacuum()` fails the window loudly like any other
    * vacuumed range.
    */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"changes: need 0 <= fromVersion <= toVersion, got ($fromVersion, $toVersion]")
    val metaTo =
      if (toVersion == meta0.version) meta0
      else GammaTable.readMetaVersionFor(spark, root, toVersion)
    val paths = metaTo.bucketVersions.toSeq.collect {
      case (b, bv) if bv > fromVersion => bucketPath(b.toLong, bv)
    }
    // compactions inside the window whose purged tombstones must replay
    val purgeVs = Option(metaTo.purgedVersions).getOrElse(Nil)
      .filter(c => c > fromVersion && c <= toVersion)
    val purgePaths = purgeVs.map(c => s"$root/data/purged/v$c")
    if (paths.isEmpty && purgePaths.isEmpty)
      return decodeStored(allDocs.limit(0))
        .withColumn(ChangeTypeCol, lit("upsert"))
        .withColumn(ChangeVersionCol, col(VersionCol))
        .drop(DeletedCol, BucketCol, VersionCol)
    // vacuumed windows must fail loudly here, not as a mid-job file miss
    val fs = new org.apache.hadoop.fs.Path((paths ++ purgePaths).head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gone = (paths ++ purgePaths)
      .filterNot(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    if (gone.nonEmpty) throw new NoSuchElementException(
      s"changes($fromVersion, $toVersion]: ${gone.size} bucket version/purge " +
        s"dir(s) retired by vacuum() (first: ${gone.head}) — the window is no " +
        "longer replayable; start from a retained snapshot instead")
    val inWindow =
      col(VersionCol) > fromVersion && col(VersionCol) <= toVersion
    // schema-stable base even in purge-only windows
    val main = decodeStored(
      if (paths.nonEmpty) readData(paths)
      else atRestSchema.map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
        .getOrElse(rawAllDocs).limit(0)).filter(inWindow)
    val events = if (purgePaths.isEmpty) main else {
      val purged = spark.read.schema(GammaTable.purgeLogSchema(
        main.schema, meta0.keyField)).parquet(purgePaths: _*).filter(inWindow)
      val merged = main.unionByName(purged, allowMissingColumns = true)
      // a key purged at compaction c and re-upserted later in the window
      // appears in BOTH frames — net-change semantics keep the newest
      // commit's event ((key, version) is unique: one change per commit)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(meta0.keyField)).orderBy(col(VersionCol).desc)
      merged.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    events
      .withColumn(ChangeTypeCol,
        when(col(DeletedCol), lit("delete")).otherwise(lit("upsert")))
      .withColumn(ChangeVersionCol, col(VersionCol))
      .drop(DeletedCol, BucketCol, VersionCol)
  }

  /** Write per-bucket data as version `v` in ONE Spark job: partitionBy
    * into a staging dir, then filesystem-rename each bucket partition into
    * its version path. Returns the buckets that actually contain rows
    * (a fully-emptied bucket drops out of the manifest) plus per-bucket
    * numeric min/max stats, collected by an accumulator ON the write pass
    * (no extra job — the manifest-stat analog of the reference's filter
    * index being maintained at write time, table/field_range_index.cc).
    */
  // at-rest schema of the frame most recently written by writeVersion;
  // commit() folds it into the manifest (writes are single-threaded per
  // handle, like the rest of the write path)
  @volatile private var writtenSchemaJson: String = null

  private def writeVersion(
      df: DataFrame, buckets: Seq[Long], v: Long)
      : (Seq[Long], Map[String, Map[String, Seq[Double]]]) = {
    import org.apache.spark.sql.types._
    // files carry exactly df's columns (the `_bp` partition copy stays in
    // the directory layout); record it fully-nullable to match what
    // footer inference would return (file relations force nullability)
    writtenSchemaJson = graft.core.ManifestIO.asNullable(df.schema).json
    val staging = new org.apache.hadoop.fs.Path(s"$root/data/.staging_v$v")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // repartition by bucket so each bucket dir gets ~1 file instead of one
    // per upstream shuffle partition (shuffle-partitions x buckets tiny
    // files per version is a small-files problem at any scale). The task
    // count is the AFFECTED-bucket count capped at the session's shuffle
    // width, not the raw shuffle width: hash-by-bucket puts every bucket's
    // rows in one task, so tasks beyond the bucket count are always empty —
    // pure scheduler overhead on every commit (and AQE, which would
    // coalesce them, is off for the write action below). Scale-adaptive in
    // both directions: a small delta commit runs |buckets| tasks, a full-
    // table rewrite stays at the configured shuffle width.
    val shufW = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val writeTasks = math.max(1, math.min(buckets.size, shufW))
    val base = df.withColumn("_bp", col(BucketCol)).repartition(writeTasks, col("_bp"))
    val internal = Set(DocidCol, DeletedCol, BucketCol, VersionCol, "_bp")
    val statCols = base.schema.fields.zipWithIndex.collect {
      case (f, i) if !internal(f.name) && (f.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                FloatType | DoubleType => true
            case _ => false
          }) => (f.name, i)
    }
    val bucketIdx = base.schema.fieldIndex(BucketCol)
    val acc = new GammaTable.BucketStatsAcc
    spark.sparkContext.register(acc, s"bucketStats_${meta0.name}_v$v")
    // pass-through stats stage: rows stream to the writer unchanged while
    // per-partition (bucket, column) min/max fold into the accumulator
    // (min/max merge is idempotent, so task retries stay correct)
    val observed =
      if (statCols.isEmpty) base
      else base.mapPartitions { rows =>
        val local = scala.collection.mutable.HashMap
          .empty[(Long, String), (Double, Double)]
        var flushed = false
        new scala.collection.AbstractIterator[Row] {
          def hasNext: Boolean = {
            val h = rows.hasNext
            if (!h && !flushed) { acc.add(local.toMap); flushed = true }
            h
          }
          def next(): Row = {
            val r = rows.next()
            val b = r.getLong(bucketIdx)
            statCols.foreach { case (name, i) =>
              if (!r.isNullAt(i)) {
                val d = r.get(i).asInstanceOf[Number].doubleValue()
                val (lo, hi) = if (d.isNaN) (Double.NaN, Double.NaN)
                  else (math.nextDown(d), math.nextUp(d))
                local.updateWith((b, name)) {
                  case Some((a, z)) => Some((math.min(a, lo), math.max(z, hi)))
                  case None         => Some((lo, hi))
                }
              }
            }
            r
          }
        }
      }(org.apache.spark.sql.Encoders.row(base.schema))
    // Commit plans are fixed-shape (explicit bucket-hash repartition,
    // stats-planned broadcasts over the delta cache): AQE's runtime
    // re-planning buys nothing here but costs one scheduler round-trip
    // per query stage — a third of the lifecycle's job count was AQE
    // stage bookkeeping on tiny commit writes. Disabled for the write
    // action only (commits are exclusive per table handle).
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try observed.write.mode(SaveMode.Overwrite).partitionBy("_bp").parquet(staging.toString)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
    val written = buckets.filter { b =>
      val part = new org.apache.hadoop.fs.Path(staging, s"_bp=$b")
      if (fs.exists(part)) {
        val dest = new org.apache.hadoop.fs.Path(bucketPath(b, v))
        fs.mkdirs(dest.getParent)
        // 'partition absent' and 'rename failed' are different outcomes: a
        // false rename (e.g. dest left behind by a crash between rename and
        // the manifest write, where the retry reuses the same v) must not
        // silently drop the bucket from the manifest
        if (fs.exists(dest) && !fs.delete(dest, true))
          throw new java.io.IOException(s"cannot clear stale $dest")
        if (!fs.rename(part, dest))
          throw new java.io.IOException(s"rename $part -> $dest failed")
        true
      } else false
    }
    fs.delete(staging, true)
    // non-finite bounds (NaN/Inf in the data) drop out: a missing stat
    // entry means "cannot prune", which is the conservative direction
    val stats = acc.value.toSeq
      .filter { case (_, (lo, hi)) => lo.isFinite && hi.isFinite }
      .groupBy(_._1._1).map { case (b, entries) =>
        b.toString -> entries.map { case ((_, c), (lo, hi)) =>
          c -> Seq(lo, hi)
        }.toMap
      }
    // the schema lives ONLY in the data files, so the manifest must never
    // go empty: a column-less scan would throw UNRESOLVED_COLUMN on every
    // internal-column read (docs, get, search, status, index refresh)
    // instead of returning empty results. When this commit would empty it
    // (all rows deleted then compacted, or create() on an empty frame),
    // keep one bucket holding a zero-row schema-bearing file.
    val emptiedAll = written.isEmpty &&
      (meta0.bucketVersions.keySet -- buckets.map(_.toString)).isEmpty
    if (emptiedAll) {
      val b = buckets.headOption.getOrElse(0L)
      val dest = new org.apache.hadoop.fs.Path(bucketPath(b, v))
      fs.mkdirs(dest.getParent)
      if (fs.exists(dest) && !fs.delete(dest, true))
        throw new java.io.IOException(s"cannot clear stale $dest")
      // repartition(1): a zero-partition frame would write no files at all
      base.limit(0).drop("_bp").repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(dest.toString)
      (Seq(b), stats)
    } else (written, stats)
  }

  /** Persist the purge log for compaction commit `v`: the tombstones the
    * compaction is about to remove physically, kept narrow (key +
    * internals — no data columns, so no vector write amplification) under
    * `data/purged/v<N>`. [[changes]] windows spanning the compaction
    * replay their delete events from here. ONE job; the row count rides
    * the write itself via observe(), no separate count pass. Returns
    * false (and leaves no dir) when there was nothing to purge.
    */
  private def writePurgeLog(tombstones: DataFrame, v: Long): Boolean = {
    val keep = Set(meta0.keyField, DocidCol, VersionCol, DeletedCol)
    val narrow = tombstones.select(
      tombstones.columns.filter(keep).toIndexedSeq.map(col): _*)
    val obs = org.apache.spark.sql.Observation(s"purge_v${v}_${System.nanoTime()}")
    val staging = new org.apache.hadoop.fs.Path(s"$root/data/.staging_v${v}_purged")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    narrow.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    if (n == 0L) { fs.delete(staging, true); false }
    else {
      val dest = new org.apache.hadoop.fs.Path(s"$root/data/purged/v$v")
      fs.mkdirs(dest.getParent)
      fs.delete(dest, true) // crash-retry idempotence
      if (!fs.rename(staging, dest))
        throw new java.io.IOException(s"rename $staging -> $dest failed")
      true
    }
  }

  private def commit(
      buckets: Seq[Long], written: Seq[Long], v: Long, newDocs: Long = 0,
      stats: Map[String, Map[String, Seq[Double]]] = Map.empty): Unit = {
    val emptied = (buckets.toSet -- written.toSet).map(_.toString)
    val writtenSet = written.map(_.toString).toSet
    meta0 = meta0.copy(
      maxDocid = meta0.maxDocid + newDocs,
      version = v,
      bucketVersions =
        meta0.bucketVersions -- emptied ++ written.map(_.toString -> v),
      // a rewritten bucket's stats are replaced wholesale (or dropped when
      // the write produced no finite bounds for it)
      bucketStats = Option(meta0.bucketStats).getOrElse(Map.empty) --
        emptied -- writtenSet ++ stats.view.filterKeys(writtenSet),
      dataSchema = Option(writtenSchemaJson).getOrElse(meta0.dataSchema))
    keyTypeCache = None
    writeMeta()
  }

  // ------------------------------------------------------------------ CRUD

  /** Add-or-update a batch (R1/R2, reference search/gamma_engine.cc:619-800):
    * existing keys are updated in place keeping their `_docid`; fresh keys
    * append with new dense docids. In-batch duplicate keys: last write wins
    * when `orderCol` is given.
    *
    * Field-patch semantics on update (the reference's AddOrUpdate patches
    * ONLY the fields the doc provides, gamma_engine.cc:761-800): a table
    * column ABSENT from the delta's schema keeps the existing row's value
    * — a metadata-only delta never nulls the vector column it omitted. An
    * explicit NULL in a PRESENT column still overwrites (present-null and
    * absent are distinct). Fresh keys read null for absent columns (a new
    * doc never provided them), and a delta-only NEW column unions in as
    * null on untouched rows — both directions of schema width are legal.
    */
  def addOrUpdate(delta: DataFrame, orderCol: Option[String] = None): Unit = guarded {
    val key = meta0.keyField
    val v = meta0.version + 1
    // INT8-declared fields encode at the write boundary; rows merged back
    // from storage (readBuckets) are already encoded, so the merge below
    // is struct-vs-struct
    val d0 = Crud.dedupLastWins(encodeStored(delta), key, orderCol)
    // cache the (O(delta)-sized) batch: it is consumed by the stats pass,
    // the merge join and the write job — recomputing an arbitrary upstream
    // plan for each would triple the commit cost. persist + one stats job
    // (below) materializes it, without localCheckpoint's extra action.
    val d = orderCol.foldLeft(d0)(_.drop(_))
      .withColumn(BucketCol, bucketOf(col(key), meta0.nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ONE driver round-trip per frame: per-partition row counts + the
    // distinct bucket set together (the bucket collect and the docid
    // count used to be separate jobs; zipWithIndex additionally hid a
    // count pass of its own)
    def partitionStats(df: DataFrame, countPred: Column): (Array[Long], Seq[Long]) = {
      val rows = df.select(countPred.cast("boolean").as("__c"), col(BucketCol)).rdd
        .mapPartitionsWithIndex { (pi, it) =>
          var c = 0L
          val bs = scala.collection.mutable.HashSet.empty[Long]
          it.foreach { r => if (!r.isNullAt(0) && r.getBoolean(0)) c += 1; bs += r.getLong(1) }
          Iterator((pi, c, bs.toArray))
        }.collect()
      val counts = new Array[Long](rows.map(_._1).maxOption.map(_ + 1).getOrElse(0))
      rows.foreach { case (pi, c, _) => counts(pi) = c }
      (counts, rows.flatMap(_._3).distinct.sortBy(identity).toSeq)
    }
    // exclusive prefix sums -> the dense-docid offset of each partition
    def offsetsOf(counts: Array[Long]): Array[Long] = {
      val off = new Array[Long](counts.length)
      var acc = meta0.maxDocid; var i = 0
      while (i < counts.length) { off(i) = acc; acc += counts(i); i += 1 }
      off
    }

    // rows written/updated in this commit are stamped _version = v so
    // incremental index maintenance can find the changed tail cheaply
    val (dCounts, affected) = partitionStats(d, lit(true))
    // empty delta: NO commit (and critically no bucket read — an empty
    // `affected` means "all buckets" to currentPaths, so falling through
    // would merge-rewrite the entire table for zero rows; MERGE action
    // splits legitimately produce empty batches)
    if (affected.isEmpty) { d.unpersist(false); return }
    var cached: Option[DataFrame] = None
    val (merged, nFresh) = readBuckets(affected) match {
      case None =>
        (assignDocids(d, offsetsOf(dCounts))
          .withColumn(DeletedCol, lit(false)).withColumn(VersionCol, lit(v)),
          dCounts.sum)
      case Some(existing) =>
        // field-preserve: existing data columns the delta OMITS ride the
        // merge join next to `_docid`, so updated rows keep their values
        // (fresh rows read them as join nulls — correct for new docs).
        // Storage internals are re-stamped below, never carried.
        val deltaCols = d.columns.toSet
        val preserved = existing.columns.filterNot(c =>
          deltaCols(c) || c == DocidCol || c == DeletedCol || c == VersionCol)
        val oldIds = existing.select(
          (col(key) +: col(DocidCol) +: preserved.toIndexedSeq.map(col)): _*)
        // also O(delta); read by the stats pass, the fresh/kept splits and
        // the write job
        val joined = d.join(oldIds, Seq(key), "left")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached = Some(joined)
        val (freshCounts, _) = partitionStats(joined, col(DocidCol).isNull)
        val fresh = joined.filter(col(DocidCol).isNull).drop(DocidCol)
        val kept = joined.filter(col(DocidCol).isNotNull)
        val freshIds = assignDocids(fresh, offsetsOf(freshCounts))
        (existing
          .join(d.select(key), Seq(key), "left_anti")
          .unionByName(
            kept.withColumn(DeletedCol, lit(false)).withColumn(VersionCol, lit(v)),
            allowMissingColumns = true)
          .unionByName(
            freshIds.withColumn(DeletedCol, lit(false)).withColumn(VersionCol, lit(v)),
            allowMissingColumns = true),
          freshCounts.sum)
    }
    val (written, stats) = writeVersion(merged, affected, v)
    commit(affected, written, v, if (written.isEmpty) 0L else nFresh, stats)
    cached.foreach(_.unpersist(false))
    d.unpersist(false)
  }

  /** Index status FSM (R9, reference gamma_engine.h:28). */
  def setIndexStatus(s: String): Unit = {
    meta0 = meta0.copy(indexStatus = s)
    writeMeta()
  }

  /** Build (and return) an incremental ANN index over a declared vector
    * field — the facade's `BuildIndex` (reference c_api/gamma_api.h:131,
    * gamma_engine.cc:996-1010). Keep the returned indexer and call
    * `refresh()` after writes (or let StreamingIngest do it); its
    * `search()` unions the index with the unindexed tail.
    */
  def buildIndex(
      vecField: String,
      params: graft.index.IndexParams = graft.index.IndexParams(),
      indexingSize: Long = 0L,
      persist: Boolean = false,
      retrievalType: String = "IVFFLAT"): graft.streaming.IncrementalIndexer = {
    require(meta0.vectorFields.exists(_.name == vecField) ||
      docs.columns.contains(vecField), s"unknown vector field $vecField")
    val ix = new graft.streaming.IncrementalIndexer(
      this, vecField, params, indexingSize, persist, retrievalType)
    ix.refresh()
    indexers.put((vecField, retrievalType.toUpperCase(java.util.Locale.ROOT)), ix)
    ix
  }

  /** Attached indexes keyed by (field, retrievalType) — V10: the reference
    * registers SEVERAL models per vector field and resolves by
    * `(name, retrieval_type)` (vector/vector_manager.cc:161-195, 447-459).
    * `search()` routes vector queries through these unless `bruteForce` is
    * set (V9 override).
    */
  private val indexers = scala.collection.concurrent.TrieMap
    .empty[(String, String), graft.streaming.IncrementalIndexer]

  /** The field's default index: the model declared on the field, else its
    * sole attached index (the reference defaults to the table's first
    * retrieval type when a query names none, vector_manager.cc:447-452).
    */
  def attachedIndex(field: String): Option[graft.streaming.IncrementalIndexer] = {
    val declared = meta0.vectorFields.find(_.name == field)
      .map(_.retrievalType.toUpperCase(java.util.Locale.ROOT))
    declared.flatMap(rt => indexers.get((field, rt))).orElse {
      val forField = indexers.collect { case ((f, _), ix) if f == field => ix }
      if (forField.size == 1) Some(forField.head) else None
    }
  }

  def attachedIndex(field: String, retrievalType: String): Option[graft.streaming.IncrementalIndexer] =
    indexers.get((field, retrievalType.toUpperCase(java.util.Locale.ROOT)))

  /** Logical delete by key set (R3, reference gamma_engine.cc:802-824).
    * The key frame stays distributed end-to-end — only the (bounded-by-
    * nBuckets) affected-bucket set ever reaches the driver.
    */
  def delete(keys: DataFrame): Unit = guarded {
    val key = meta0.keyField
    // cache: consumed by the bucket collect AND the mark join; an
    // arbitrary caller plan (e.g. deleteByQuery's filtered scan) would
    // otherwise run twice
    val k = keys.select(col(keys.columns.head).as(key)).distinct()
      .withColumn(BucketCol, bucketOf(col(key), meta0.nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE job (r15, guide §2 driver round-trips): materialize the cache
    // AND fold the distinct bucket set per partition — the old
    // select.distinct().collect() paid a second shuffle (plus its AQE
    // stage jobs) for a set bounded by nBuckets at any scale
    val affected = k.select(col(BucketCol)).rdd
      .mapPartitions { it =>
        val s = scala.collection.mutable.HashSet.empty[Long]
        it.foreach(r => s += r.getLong(0))
        Iterator(s.toArray)
      }.collect().flatten.distinct.sorted.toIndexedSeq
    // empty key set: currentPaths(Nil) means "all buckets", so an explicit
    // no-op guard is required — a full-table rewrite for zero deletes is
    // the worst possible outcome at scale
    if (affected.nonEmpty) readBuckets(affected).foreach { existing =>
      val v = meta0.version + 1
      val newlyDel = coalesce(col("__del"), lit(false)) && !col(DeletedCol)
      val marked = existing
        .join(k.select(key).withColumn("__del", lit(true)), Seq(key), "left")
        // newly-tombstoned rows are stamped with the delete's commit
        // version — the change feed ([[changes]]) reads delete events off
        // the same `_version` stamps upserts carry. Already-dead rows and
        // misses keep their stamp (idempotent re-delete is not a change).
        .withColumn(VersionCol, when(newlyDel, lit(v)).otherwise(col(VersionCol)))
        .withColumn(DeletedCol, col(DeletedCol) || coalesce(col("__del"), lit(false)))
        .drop("__del")
      val (written, stats) = writeVersion(marked, affected, v)
      commit(affected, written, v, 0L, stats)
    }
    k.unpersist(false)
  }

  /** Delete by predicate, returning the deleted keys AS A DATAFRAME (R4,
    * reference gamma_engine.cc:826-949 returns the deleted ids). The
    * matched keys never hit the driver — a broad predicate over a 100 TB
    * table deletes via a distributed distinct + bucket join; the returned
    * frame is bound to the pre-delete file versions, so it stays evaluable
    * (and stable) after the commit. Callers that want the ids materialize
    * it themselves.
    */
  def deleteByQuery(pred: Column): DataFrame = {
    val key = meta0.keyField
    // `docs` binds the CURRENT version paths eagerly; old versions remain
    // on disk after the commit swaps the manifest
    val matched = docs.filter(pred).select(col(key))
    delete(matched)
    matched
  }

  /** Point lookup by key (S3) — reads exactly one bucket's files; bucket
    * routing evaluates driver-side (no job).
    */
  /** The key column's type — fixed for the table's life, but deriving it
    * from allDocs.schema costs a driver-side parquet footer listing, so
    * it is cached on the handle (commit() invalidates, belt-and-braces).
    */
  private def keyType: Option[org.apache.spark.sql.types.DataType] =
    keyTypeCache.orElse {
      val t =
        if (meta0.bucketVersions.isEmpty) None
        else allDocs.schema.fields.find(_.name == meta0.keyField).map(_.dataType)
      keyTypeCache = t
      t
    }

  def get(keyValue: Any): DataFrame = {
    val key = meta0.keyField
    val b = bucketOfValue(keyValue, meta0.nBuckets, keyType)
    readBuckets(Seq(b)) match {
      case None     => docs.limit(0)
      case Some(df) =>
        decodeStored(df).filter(!col(DeletedCol) && col(key) === lit(keyValue))
    }
  }

  /** Physical compaction of tombstones (reference compacts buckets on
    * delete ratio, realtime/realtime_mem_data.cc:98-142). Attached indexes
    * are told to drop/exclude the purged keys FIRST — after the purge the
    * standing stale-entry scan can no longer see the tombstones.
    */
  def compact(): Unit = guarded {
    val buckets = meta0.bucketVersions.keys.map(_.toLong).toSeq
    val tombstones = rawAllDocs.filter(col(DeletedCol))
    if (indexers.nonEmpty)
      indexers.values.foreach(_.excludePurged(tombstones.select(col(meta0.keyField))))
    val v = meta0.version + 1
    // the purge log goes FIRST: once the rewrite lands the tombstones are
    // gone from the bucket files, and the change feed's completeness
    // contract needs their delete events replayable (see [[changes]])
    val logged = writePurgeLog(tombstones, v)
    // RAW read: a rewrite must carry the at-rest encoding through, not
    // materialize decoded floats
    val (written, stats) = writeVersion(rawAllDocs.filter(!col(DeletedCol)), buckets, v)
    if (logged) meta0 = meta0.copy(purgedVersions = meta0.purgedVersions :+ v)
    commit(buckets, written, v, 0L, stats)
  }

  /** Deleted-ratio-triggered compaction, per bucket — the reference's
    * `CompactIfNeed` policy (realtime/realtime_mem_data.cc:98-142 rewrites
    * a bucket when its deleted ratio crosses a threshold). One
    * column-pruned stat pass over (bucket, deleted) finds offending
    * buckets; ONLY those are rewritten — at scale churn is concentrated,
    * so this rewrites O(hot buckets), not O(table). Returns the compacted
    * bucket ids.
    */
  def compactIfNeeded(maxDeletedRatio: Double = 0.3): Seq[Long] = guarded {
    if (meta0.bucketVersions.isEmpty) return Nil
    val victims = allDocs.groupBy(col(BucketCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(DeletedCol), 1L).otherwise(0L)).as("d"))
      .filter(col("d") > col("n") * maxDeletedRatio)
      .select(BucketCol).collect().map(_.getLong(0)).toSeq.sorted
    if (victims.isEmpty) return Nil
    // index entries of the purged keys must go before the tombstones do
    // (same ordering contract as [[compact]])
    if (indexers.nonEmpty) readBuckets(victims).foreach { pre =>
      val purged = pre.filter(col(DeletedCol)).select(col(meta0.keyField))
      indexers.values.foreach(_.excludePurged(purged))
    }
    val v = meta0.version + 1
    // victim-bucket tombstones replay from the purge log (see [[changes]])
    val logged = readBuckets(victims)
      .exists(pre => writePurgeLog(pre.filter(col(DeletedCol)), v))
    val live = readBuckets(victims).map(_.filter(!col(DeletedCol)))
    val (written, stats) = live.map(writeVersion(_, victims, v))
      .getOrElse((Nil, Map.empty[String, Map[String, Seq[Double]]]))
    if (logged) meta0 = meta0.copy(purgedVersions = meta0.purgedVersions :+ v)
    commit(victims, written, v, 0L, stats)
    victims
  }

  /** Remove bucket version directories SUPERSEDED by the current manifest
    * (plus any crash-orphaned staging dirs) — the storage GC every
    * MVCC-style layout needs on a long-lived table: each upsert/delete
    * writes affected buckets at a new version and the old dirs otherwise
    * accumulate forever. Returns the number of directories removed.
    *
    * Contract (Delta-VACUUM-style): DataFrames bound to PRE-vacuum
    * versions (e.g. the frame `deleteByQuery` returned before a later
    * commit) must be materialized before vacuuming — their files are the
    * ones being removed. The PERSISTED manifest is re-read first and
    * adopted if ahead (a stale handle must not delete versions a newer
    * commit made current), its current files are never touched, and
    * version/staging dirs ABOVE the committed version are spared (they
    * belong to the single permitted in-flight writer). Same single-writer
    * contract as every other write path; concurrent readers of the
    * current version are safe.
    */
  def vacuum(): Int = vacuum(retainSnapshots = 0)

  /** Vacuum with snapshot retention: `retainSnapshots = k` keeps every
    * file any of the newest k RETAINED MANIFESTS (plus the current one)
    * still references, so `VERSION AS OF` works for those versions after
    * the purge — the Delta retention-window idea expressed in manifest
    * counts instead of wall-clock hours (deterministic, and commits are
    * the unit users reason about). k = 0 keeps only the current version
    * (time travel ends at the last vacuum, manifests themselves stay).
    */
  def vacuum(retainSnapshots: Int): Int = {
    val dataRoot = new org.apache.hadoop.fs.Path(s"$root/data")
    val fs = dataRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dataRoot)) return 0
    // authoritative manifest = the PERSISTED one (every commit writes it
    // synchronously): a stale in-memory handle must not delete versions a
    // newer commit made current. If disk is ahead, adopt it — this handle
    // was stale anyway and adopting is strictly fresher.
    val diskMeta = GammaTable.readMeta(spark, s"$root/meta")
    if (diskMeta.version > meta0.version) meta0 = diskMeta
    val cutoff = meta0.version
    // referenced: bucket -> version strings any retained manifest pins.
    // The current manifest always participates; older retained manifests
    // add their pins so their snapshots stay servable.
    val retainedMetas = meta0 +: (if (retainSnapshots <= 0) Nil
      else GammaTable.snapshotVersions(spark, root)
        .filter(_ < cutoff).sorted(Ordering[Long].reverse).take(retainSnapshots)
        .map(v => GammaTable.readMetaVersionFor(spark, root, v)))
    val referenced: Map[String, Set[String]] = retainedMetas
      .flatMap(_.bucketVersions.toSeq.map { case (b, v) => b -> s"v$v" })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var removed = 0
    fs.listStatus(dataRoot).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".staging_")) {
        // staging at a version AT OR BELOW the committed cutoff is a
        // crashed writeVersion's (or writePurgeLog's) scratch; a version
        // ABOVE it may be an IN-FLIGHT writer (single-writer contract:
        // version+1) — spare it
        val sv = name.stripPrefix(".staging_v").stripSuffix("_purged")
        val dead = scala.util.Try(sv.toLong).toOption.exists(_ <= cutoff)
        if (dead && fs.delete(st.getPath, true)) removed += 1
      } else if (name == "purged" && st.isDirectory) {
        // purge logs (change-feed tombstone replay) follow the same
        // retention rule as bucket versions: once the oldest retained
        // manifest is at or past compaction c, no retained window can
        // span c — changes() refuses vacuumed windows loudly either way
        val floor = retainedMetas.map(_.version).min
        fs.listStatus(st.getPath).foreach { pst =>
          val dead = scala.util.Try(
            pst.getPath.getName.stripPrefix("v").toLong).toOption
            .exists(_ <= floor)
          if (dead && fs.delete(pst.getPath, true)) removed += 1
        }
      } else if (name.startsWith("b") && st.isDirectory) {
        val keep = referenced.getOrElse(name.drop(1), Set.empty)
        fs.listStatus(st.getPath).foreach { vst =>
          val vn = vst.getPath.getName
          // an UNREFERENCED bucket version at or below the cutoff is dead
          // (fully-emptied buckets drop out of the manifest, so an
          // untracked bucket keeps nothing there). Versions ABOVE the
          // cutoff are never touched (in-flight rename targets).
          val vNum = scala.util.Try(vn.stripPrefix("v").toLong).toOption
          val dead = vn.startsWith("v") && !keep.contains(vn) &&
            vNum.exists(_ <= cutoff)
          if (dead && fs.delete(vst.getPath, true)) removed += 1
        }
      }
    }
    removed
  }

  // ---------------------------------------------------------------- search

  /** The reference's read path (search/gamma_engine.cc:299-464): scalar
    * filters first, then per-vector-field KNN, multi-field docid
    * intersection with boosted score fusion (vector_manager.cc:501-576),
    * projection of requested fields. Returns (qid, key, score, fields...).
    */
  def search(req: SearchRequest): DataFrame = {
    import spark.implicits._
    val key = meta0.keyField
    // a Union term filter on the primary key names exact keys, and keys
    // hash to known buckets — prune the scan to just those buckets' files
    // (the reference serves key-constrained requests through its cuckoo
    // key->docid map, table/table.h:185, instead of scanning). The
    // remaining predicate still applies on the pruned scan.
    val base = keyTermBuckets(req) match {
      case Some(bs) =>
        readBuckets(bs).map(b => decodeStored(b).filter(!col(DeletedCol))).getOrElse(docs.limit(0))
      case None => rangeStatBuckets(req) match {
        // manifest min/max pruning (S5/P2): only buckets whose recorded
        // column ranges can overlap every range filter are read at all —
        // the B-tree-filter analog (field_range_index.cc:616-759); an
        // empty survivor set short-circuits like the reference's
        // zero-match bitmap (gamma_engine.cc:368-371)
        case Some(bs) if bs.isEmpty => docs.limit(0)
        case Some(bs) =>
          readBuckets(bs).map(b => decodeStored(b).filter(!col(DeletedCol))).getOrElse(docs.limit(0))
        case None => docs
      }
    }
    val pred = Filters.predicate(base, req.termFilters, req.rangeFilters)

    if (req.vecQueries.isEmpty) {
      // filter-only path (reference gamma_engine.cc:405-457)
      val out = base.filter(pred).orderBy(col(DocidCol).asc).limit(req.topn)
      return project(out.withColumn("qid", lit(0)).withColumn("score", lit(0.0)), req, base)
    }

    val metric = req.metric
    val hasFilters = req.termFilters.nonEmpty || req.rangeFilters.nonEmpty
    // V10 routing, per field: an explicit retrievalType must resolve (and
    // serve the request's metric) — the reference rejects an unknown type
    // rather than silently answering with a different model
    // (vector_manager.cc:453-459); with no type named, the field's
    // declared/sole index answers
    val routes = req.vecQueries.map { vq =>
      vq -> (vq.retrievalType match {
        case Some(rt) =>
          val ix = indexers.getOrElse((vq.field, rt.toUpperCase(java.util.Locale.ROOT)),
            throw new IllegalArgumentException(
              s"no $rt index attached to field ${vq.field}; attached: " +
                indexers.keys.filter(_._1 == vq.field).map(_._2).mkString(",")))
          require(ix.params.metric == metric || req.bruteForce,
            s"$rt index on ${vq.field} serves ${ix.params.metric}, request wants $metric")
          Some(ix)
        case None => attachedIndex(vq.field)
      })
    }
    // a field is answered through its attached ANN index unless brute
    // force is forced (V9 override) or the index serves another metric
    def serves(ix: graft.streaming.IncrementalIndexer): Boolean =
      !req.bruteForce && ix.params.metric == metric
    // ONE narrow filtered scan, materialized ONCE the first time an index
    // route touches it, by the keys job: a single pass over the persisted
    // key scan in which each task returns its row count and, for a set
    // within `spark.graft.filter.broadcastMaxKeys`, its keys. The summed
    // count drives the indexer's filtered-ANN policy (exact fallback vs
    // broadcast pushdown + widened probes vs shuffle semi-join); the keys
    // are what the driver paths test inside their scans (IVF list scan,
    // exact fallback, HNSW walk), so no later job re-reads the set. The
    // plans of a set above the bound semi-join the same persisted blocks.
    // Lazy: the brute/filter-only paths never pay the
    // job. persist (lineage kept), NOT localCheckpoint (lineage cut): the
    // bounded release queue below can then unpersist older requests'
    // frames at any time — a late caller just recomputes — where freeing
    // a checkpointed frame would lose its only copy.
    lazy val allowed: Option[graft.index.AllowedKeys] =
      if (!hasFilters) None
      else {
        val df = base.filter(pred).select(key)
        holdAllowed(df)
        Some(graft.index.AllowedKeys.collect(df, graft.index.AllowedKeys.broadcastMax(spark)))
      }
    val kCand = math.max(req.topn * CandidateFactor, req.topn)
    // req_num batching (request.fbs:28): every field must carry the same
    // number of query vectors; qid identifies the batch position
    val reqNum = req.vecQueries.head.batch.size
    require(req.vecQueries.forall(_.batch.size == reqNum),
      "all vector fields in one request must carry the same req_num")
    // per field: its (qid, id, score) hits, held on the driver
    val perField = routes.map { case (vq, routed) =>
      val hits = routed match {
        case Some(ix) if serves(ix) =>
          // the score range is pushed INTO the index scan (filter before
          // the top-k heap, like flatSearch and the reference's
          // IsSimilarScoreValid) so out-of-range hits don't eat the
          // candidate budget; with l2Sqrt the user's bounds are in sqrt
          // space while the index scores L2² — square them (clamped: sqrt
          // scores are never negative)
          val wantSqrt = req.l2Sqrt && metric == Metric.L2 && req.vecQueries.size == 1
          val (pushLo, pushHi) =
            if (wantSqrt)
              (vq.minScore.map(x => { val c = math.max(x, 0.0); c * c }),
                vq.maxScore.map(x => if (x < 0) -1.0 else x * x))
            else (vq.minScore, vq.maxScore)
          // per-request knob override (reference per-request param JSON,
          // vector_manager.cc:482-483): nprobe for the IVF family,
          // efSearch for HNSW (the indexer interprets the probe budget by
          // model)
          val probeOverride =
            if (ix.retrievalType.equalsIgnoreCase("HNSW")) vq.efSearch else vq.nprobe
          val h0 = ix.searchHits(vq.batch, kCand, probeOverride, allowed, pushLo, pushHi,
            recallNum = vq.recallNum, hasRank = vq.hasRank)
          if (wantSqrt) h0.mapScores(math.sqrt) else h0
        case _ =>
          // Hamming requests target a BinaryType field: queries ride the
          // float surface as byte values (BinaryIvfIndex adapter) and must
          // land as bytes for the hamming kernel
          val q =
            if (metric == Metric.Hamming)
              vq.batch.map { case (qid, v) =>
                (qid, graft.index.BinaryIvfIndex.floatsToBytes(v))
              }.toDF("qid", "qvec")
            else vq.batch.map { case (qid, v) => (qid, v.toSeq) }.toDF("qid", "qvec")
          graft.index.LocalHits.collect(Knn.flatSearch(
            base.filter(pred), key, vq.field, q, "qid", "qvec",
            k = kCand,
            metric = metric, l2Sqrt = req.l2Sqrt && req.vecQueries.size == 1,
            minScore = vq.minScore, maxScore = vq.maxScore))
      }
      vq.boost.fold(hits)(b => hits.mapScores(_ * b))
    }

    val ranked = perField match {
      case Seq(local) =>
        // one field: the request's top-k cut runs on the driver, and the
        // result is a local relation (collects with no job); same columns
        // as the fused frame below
        local.topK(req.topn, Metric.ascending(metric)).toDF(spark, key)
          .select(col("qid"), col(key), col("score").as("score_0"), col("score"))
      case _ =>
        // several fields: the docid intersection and score fusion join the
        // fields' local relations
        val fieldHits = perField.zipWithIndex.map { case (h, i) =>
          h.toDF(spark).select(col("qid"), col("id").as(key), col("score").as(s"score_$i"))
        }
        // multi-field docid intersection is per batch position (qid, key)
        val joined = fieldHits.reduce((a, b) => a.join(b, Seq("qid", key)))
        val fused = joined.withColumn(
          "score", fieldHits.indices.map(i => col(s"score_$i")).reduce(_ + _))
        if (req.multiVectorRank)
          TopK.perGroup(fused, "qid", "score", Metric.ascending(metric), req.topn, Seq(key))
        else {
          // rank fusion off: the reference still returns the DOCID-ordered
          // merge of the per-field lists (vector_manager.cc:562-576 skips
          // only the score re-sort) — join the dense docid back and cut on
          // it (string keys would sort "10" < "2" and pick a different set);
          // the fused hit set is small and broadcasts, the table streams
          val withDocid = base.select(col(key), col(DocidCol))
            .join(broadcast(fused), Seq(key))
          TopK.perGroup(withDocid, "qid", DocidCol, ascending = true, req.topn, Nil)
            .drop(DocidCol)
        }
    }
    project(ranked, req, base)
  }

  /** Buckets whose manifest min/max stats can overlap EVERY range filter
    * of the request — `Some` only when that actually prunes (so the
    * common no-stat/no-overlap-structure case keeps the plain `docs`
    * path). Missing stats for a (bucket, field) keep the bucket:
    * pruning is only ever conservative. Hash-bucketing spreads
    * uncorrelated values across all buckets, so this bites when the
    * filter column correlates with the key or with churn locality —
    * the same regime where the reference's per-field B-tree beats a
    * scan (field_range_index.cc:616-759).
    */
  private def rangeStatBuckets(req: SearchRequest): Option[Seq[Long]] = {
    val stats = Option(meta0.bucketStats).getOrElse(Map.empty)
    if (stats.isEmpty || req.rangeFilters.isEmpty) return None
    val all = meta0.bucketVersions.keys.map(_.toLong).toSeq
    val keep = all.filter { b =>
      req.rangeFilters.forall { rf =>
        stats.get(b.toString).flatMap(_.get(rf.field)) match {
          case Some(s) if s.length == 2 =>
            val mn = s(0); val mx = s(1)
            rf.lower.forall(lo => if (rf.includeLower) mx >= lo else mx > lo) &&
              rf.upper.forall(hi => if (rf.includeUpper) mn <= hi else mn < hi)
          case _ => true
        }
      }
    }
    if (keep.size < all.size) Some(keep.sorted) else None
  }

  /** Buckets a key-equality term filter confines the request to, when one
    * exists: a Union term on a STRING primary key (string, so the filter
    * values hash exactly like the stored keys do in [[GammaTable.bucketOf]]).
    */
  private def keyTermBuckets(req: SearchRequest): Option[Seq[Long]] = {
    val key = meta0.keyField
    req.termFilters.find(t =>
      t.field == key && t.mode == graft.core.TermMode.Union &&
        t.values.nonEmpty && t.values.size <= 1024 &&
        meta0.bucketVersions.nonEmpty &&
        keyType.contains(StringType))
      .map { t =>
        // driver-side hash twin (same Catalyst XxHash64 as bucketOf) — a
        // ≤1024-value map, not a per-request Spark job on the serving path
        t.values.map(v =>
            GammaTable.bucketOfValue(v, meta0.nBuckets, Some(StringType)))
          .distinct.sorted
      }
  }

  /** `scan` is the (possibly bucket-pruned) live scan the hits were drawn
    * from: joining against it instead of the full `docs` keeps a pruned
    * request's projection I/O at the pruned size — hit keys are a subset
    * of its keys by construction, so the join result is identical.
    */
  private def project(hits: DataFrame, req: SearchRequest, scan: DataFrame): DataFrame = {
    val key = meta0.keyField
    if (req.fields.isEmpty) hits
    else {
      // hit keys come from the scan, so inner == left here; the inner
      // shape lets the topn-row hit set broadcast while the doc table
      // streams (broadcasting the PRESERVED side of an outer join is not
      // a thing, and shuffling the table for topn rows is wrong at scale)
      val proj = scan.select((key +: req.fields).distinct.map(col): _*)
      proj.join(broadcast(hits), Seq(key), "inner")
        .select((hits.columns.toIndexedSeq.map(col) ++ req.fields.filterNot(_ == key).map(col)): _*)
    }
  }

  /** Engine-status rollup (A5, reference `GetEngineStatus`,
    * search/gamma_engine.cc:1071-1099 + idl/fbs/engine_status.fbs):
    * doc counters from the manifest, live/deleted from one pushdown-count
    * pass, index FSM state.
    */
  def status: DataFrame = {
    import spark.implicits._
    val counts = allDocs
      .agg(count(lit(1)), sum(when(col(DeletedCol), 1L).otherwise(0L))).head()
    val total = counts.getLong(0)
    val deleted = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    Seq((meta0.name, meta0.maxDocid, meta0.version, total - deleted, deleted,
      meta0.bucketVersions.size.toLong, meta0.indexStatus))
      .toDF("name", "max_docid", "version", "live_docs", "deleted_docs",
        "buckets", "index_status")
  }

  // ------------------------------------------------------------- lifecycle

  /** Dump (S8): snapshot data+meta into `dir` + `dump.done` marker
    * (reference gamma_engine.cc:1101-1146).
    */
  def dump(dir: String): Unit = {
    // RAW rows: a dump is a write path — exporting the decoded float
    // surface would silently drop the INT8 at-rest encoding (4x size) and
    // leave the restored meta claiming a store the data no longer has
    rawAllDocs.write.mode(SaveMode.Overwrite).parquet(s"$dir/data")
    GammaTable.writeMetaTo(spark, s"$dir/meta", meta0)
    touchMarker(s"$dir/dump.done")
  }

  // metadata is a driver-side file op, not a Spark job (the reference
  // writes its .schema file directly too, search/gamma_engine.cc:607-612).
  // Every commit ALSO retains a versioned copy (`meta/v<N>.json`) — the
  // manifest history that makes snapshot reads (`VERSION AS OF`) possible:
  // the MVCC bucket layout already keeps superseded data files until
  // vacuum(), so a retained manifest is all a point-in-time read needs.
  /** Lost-update guard: the single-writer contract was documented but not
    * ENFORCED — a second handle on the same root would silently clobber a
    * newer commit's manifest AND (because writeVersion reuses
    * version-numbered dirs) could replace its data files for shared
    * buckets. Every write path calls this BEFORE any file moves; a
    * persisted version ahead of this handle means another writer committed
    * since it loaded — fail fast instead of losing their commit. Detection
    * on a read-check-write window, not a true CAS (the filesystems Spark
    * targets don't offer one), but it converts the common stale-handle
    * case from silent data loss into an error.
    */
  private def guardStale(): Unit = {
    // optional commit lease (spark.graft.table.lease=true): an exclusive
    // lock-file create BEFORE the version check shrinks the guard's
    // read-check-write window to the filesystem's create-atomicity.
    // Best-effort by design — local/HDFS creates are atomic, object
    // stores may not be — and TTL'd so a crashed writer cannot wedge the
    // table. The version guard below stays authoritative either way.
    acquireLease()
    GammaTable.persistedVersion(spark, root).foreach { diskV =>
      if (diskV > meta0.version) {
        releaseLease()
        throw new java.util.ConcurrentModificationException(
          s"table at $root is at v$diskV on disk but this handle loaded " +
            s"v${meta0.version} — another writer committed since; reload " +
            "the table and retry")
      }
    }
  }

  /** Runs a write body under [[guardStale]] and guarantees the commit
    * lease is released on EVERY non-commit exit — empty-delta no-ops,
    * early returns (incl. non-local returns from the by-name body) and
    * exceptions mid-write all used to leak the lock file until its TTL.
    * The commit path itself releases inside [[writeMeta]], making the
    * `finally` a no-op there (releaseLease is holder-idempotent).
    */
  private def guarded[A](body: => A): A = {
    guardStale()
    try body finally releaseLease()
  }

  private def leaseEnabled: Boolean =
    graft.core.GraftConfig.leaseEnabled(spark)

  @volatile private var leaseHeld = false
  private def leaseFile = new org.apache.hadoop.fs.Path(s"$root/meta/commit.lock")

  // re-entrant for THIS handle: a multi-step write (e.g. MERGE = upsert
  // batch + delete step) re-guards between steps; if the first step was a
  // no-op the lease is still held and a second create would self-deadlock
  private def acquireLease(): Unit = if (leaseEnabled && !leaseHeld) {
    val p = leaseFile
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    def tryCreate(): Boolean =
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val st = scala.util.Try(fs.getFileStatus(p)).toOption
      val stale = st.forall(s =>
        System.currentTimeMillis() - s.getModificationTime > GammaTable.LeaseTtlMs)
      if (!(stale && { fs.delete(p, false); tryCreate() }))
        throw new java.util.ConcurrentModificationException(
          s"table at $root: another writer holds the commit lease " +
            s"($p; expires ${GammaTable.LeaseTtlMs} ms after its mtime) — " +
            "retry after it commits or the lease expires")
    }
    leaseHeld = true
  }

  // only the holder releases — setIndexStatus's writeMeta (no guard) must
  // not delete a lease some OTHER writer is holding
  private def releaseLease(): Unit = if (leaseHeld) {
    leaseHeld = false
    val p = leaseFile
    scala.util.Try(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false))
  }

  private def writeMeta(): Unit = {
    // second line of the guard, at the manifest swap itself: the persisted
    // version must be the one this commit supersedes (v-1) or the same
    // version (idempotent rewrite: setIndexStatus, crash retry)
    GammaTable.persistedVersion(spark, root).foreach { diskV =>
      if (diskV != meta0.version && diskV != meta0.version - 1)
        throw new java.util.ConcurrentModificationException(
          s"table at $root is at v$diskV on disk but this handle is " +
            s"committing v${meta0.version} — another writer committed " +
            "since; reload the table and retry")
    }
    meta0 = meta0.copy(committedAtMs = Some(System.currentTimeMillis()))
    val json = GammaTable.metaJson(meta0)
    GammaTable.writeJsonAtomic(spark, s"$root/meta", "meta.json", json)
    GammaTable.writeJsonAtomic(spark, s"$root/meta", s"v${meta0.version}.json", json)
    val stale = takeStores()
    releaseLease()
    stale.foreach(_.release())
  }

  private def touchMarker(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(path, true).close()
  }
}

object GammaTable {
  val DocidCol = "_docid"
  val DeletedCol = "_deleted"
  val BucketCol = "_bucket"
  val VersionCol = "_version"
  // change-feed output columns (not stored; synthesized by [[changes]])
  val ChangeTypeCol = "_change_type"
  val ChangeVersionCol = "_change_version"

  /** Schema of a compaction purge log (see writePurgeLog): the key plus
    * internals, projected out of the table's decoded schema so the change
    * feed's union binds by name with matching types.
    */
  private[table] def purgeLogSchema(
      full: org.apache.spark.sql.types.StructType,
      key: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(full.fields.filter(f =>
      f.name == key || f.name == DocidCol || f.name == VersionCol ||
        f.name == DeletedCol))

  /** Extra exact candidates per vector field before multi-field
    * intersection (the reference over-fetches via `recall_num`,
    * index/impl/gamma_index_ivfpq.h:633).
    */
  val CandidateFactor = 4

  /** Commit-lease expiry: a crashed writer's lock file is overridable
    * this long after its mtime (see guardStale / acquireLease).
    */
  val LeaseTtlMs = 60000L

  private[graft] def bucketOf(keyCol: Column, n: Int): Column =
    pmod(xxhash64(keyCol), lit(n.toLong))

  /** Driver-side twin of [[bucketOf]] for point routing: evaluates the
    * SAME Catalyst XxHash64 expression on a literal, so a `get(key)` costs
    * zero Spark jobs (the previous shape ran a one-row job just to learn
    * the bucket — pure scheduler latency on a serving path).
    *
    * `keyType` (the key COLUMN's type, when known) casts the value first:
    * xxhash64 hashes by type, so `get(42L)` against a string-keyed table
    * must hash the string "42" — the same cast the equality filter
    * applies — or it would silently route to the wrong bucket.
    */
  private[graft] def bucketOfValue(
      keyValue: Any, n: Int,
      keyType: Option[org.apache.spark.sql.types.DataType] = None): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
    val lit0 = Literal.create(keyValue)
    val lit = keyType match {
      case Some(dt) if dt != lit0.dataType =>
        // Cast.eval yields the INTERNAL value (e.g. UTF8String) — wrap it
        // with the internal-form Literal constructor, not Literal.create
        Literal(Cast(lit0, dt, ansiEnabled = false).eval(null), dt)
      case _ => lit0
    }
    Pmod(new XxHash64(Seq(lit)), Literal(n.toLong))
      .eval(null).asInstanceOf[Long]
  }

  /** (bucket, column) -> (min, max) folded across write tasks. Min/max
    * merge is idempotent and monotone, so retried/speculative tasks
    * cannot corrupt the result — they only re-observe the same rows.
    */
  private[table] class BucketStatsAcc
      extends org.apache.spark.util.AccumulatorV2[
        Map[(Long, String), (Double, Double)],
        Map[(Long, String), (Double, Double)]] {
    private var m = Map.empty[(Long, String), (Double, Double)]
    override def isZero: Boolean = m.isEmpty
    override def copy(): BucketStatsAcc = {
      val a = new BucketStatsAcc; a.m = m; a
    }
    override def reset(): Unit = m = Map.empty
    override def add(v: Map[(Long, String), (Double, Double)]): Unit =
      m = (m.keySet ++ v.keySet).iterator.map { k =>
        (m.get(k), v.get(k)) match {
          case (Some((a, z)), Some((lo, hi))) =>
            k -> (math.min(a, lo), math.max(z, hi))
          case (got, other) => k -> got.orElse(other).get
        }
      }.toMap
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[
          Map[(Long, String), (Double, Double)],
          Map[(Long, String), (Double, Double)]]): Unit = add(o.value)
    override def value: Map[(Long, String), (Double, Double)] = m
  }

  /** Create a table from an initial document batch (S2 + first add). */
  def create(
      spark: SparkSession,
      root: String,
      name: String,
      keyField: String,
      initial: DataFrame,
      vectorFields: Seq[VectorFieldDef] = Nil,
      nBuckets: Int = 16): GammaTable = {
    // a misspelled store type must fail here, not silently fall back to
    // uncompressed FLOAT storage
    vectorFields.foreach { f =>
      val s = Option(f.store).getOrElse("FLOAT").toUpperCase(java.util.Locale.ROOT)
      require(Set("FLOAT", "BINARY", "INT8")(s),
        s"unknown vector store type '${f.store}' for field ${f.name} " +
          "(expected FLOAT | BINARY | INT8)")
    }
    val t = new GammaTable(spark, root,
      TableMeta(name, keyField, nBuckets, 0L, 0L, Map.empty, vectorFields, "UNINDEXED"))
    t.addOrUpdate(initial)
    // an EMPTY initial batch commits nothing (the empty-delta guard), but
    // a created table must still be loadable — persist the v0 manifest
    if (t.meta0.version == 0L) t.writeMeta()
    t
  }

  /** Create an EMPTY table from a declared schema — the SQL-DDL path (a
    * catalog `CREATE TABLE` carries columns but no rows; the reference's
    * CreateTable is likewise schema-only, c_api/gamma_api.h:35 — documents
    * arrive through AddOrUpdateDoc afterwards). Writes only the manifest:
    * the first INSERT writes v1 data and re-captures the at-rest schema
    * from the actual files, so the synthesized `dataSchema` here only has
    * to carry the empty→populated window. It mirrors what addOrUpdate's
    * fresh-batch path writes — user columns in declared order (INT8
    * vector fields at their encoded struct type), then the storage
    * internals — so the EXPOSED schema is stable across that transition.
    */
  def createEmpty(
      spark: SparkSession,
      root: String,
      name: String,
      keyField: String,
      userSchema: StructType,
      vectorFields: Seq[VectorFieldDef] = Nil,
      nBuckets: Int = 16): GammaTable = {
    import org.apache.spark.sql.types._
    require(userSchema.fieldNames.contains(keyField),
      s"key field '$keyField' is not a column of the declared schema")
    val internals = Set(DocidCol, DeletedCol, BucketCol, VersionCol)
    require(!userSchema.fieldNames.exists(internals),
      s"declared schema may not name storage internals (${internals.mkString(", ")})")
    vectorFields.foreach { f =>
      val s = Option(f.store).getOrElse("FLOAT").toUpperCase(java.util.Locale.ROOT)
      require(Set("FLOAT", "BINARY", "INT8")(s),
        s"unknown vector store type '${f.store}' for field ${f.name} " +
          "(expected FLOAT | BINARY | INT8)")
      require(userSchema.fieldNames.contains(f.name),
        s"vector field '${f.name}' is not a column of the declared schema")
    }
    val i8 = vectorFields.collect {
      case f if f.store != null && f.store.equalsIgnoreCase("INT8") => f.name
    }.toSet
    val int8Struct = StructType(Seq(
      StructField("scale", DoubleType, nullable = false),
      StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false)))
    val atRest = StructType(
      userSchema.fields.toIndexedSeq.map { f =>
        if (i8(f.name)) f.copy(dataType = int8Struct) else f
      } ++ Seq(
        StructField(BucketCol, LongType),
        StructField(DocidCol, LongType),
        StructField(DeletedCol, BooleanType),
        StructField(VersionCol, LongType)))
    val meta = TableMeta(name, keyField, nBuckets, 0L, 0L, Map.empty,
      vectorFields, "UNINDEXED", Map.empty,
      graft.core.ManifestIO.asNullable(atRest).json,
      committedAtMs = Some(System.currentTimeMillis()))
    val json = metaJson(meta)
    writeJsonAtomic(spark, s"$root/meta", "meta.json", json)
    writeJsonAtomic(spark, s"$root/meta", "v0.json", json)
    new GammaTable(spark, root, meta)
  }

  /** Restore a table from its root (S9, reference gamma_engine.cc:1175-1262),
    * re-attaching any persisted ANN indexes found under `root/index/<field>`
    * (the reference replays its newest `dump.done` index dirs on Load).
    */
  /** Run `f` against a fresh handle, reloading and retrying when another
    * writer's commit races it (the sanctioned recovery path for
    * `ConcurrentModificationException` from the single-writer guard):
    * {{{
    * GammaTable.withRetryReload(spark, root) { t => t.addOrUpdate(delta) }
    * }}}
    * Retrying re-runs `f` on the RELOADED state — `f` must be an
    * idempotent-by-key write (every engine verb is: upserts re-apply,
    * deletes re-mark). Bounded attempts; the last failure propagates.
    */
  def withRetryReload[A](spark: SparkSession, root: String, maxAttempts: Int = 3)
      (f: GammaTable => A): A = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var last: java.util.ConcurrentModificationException = null
    var i = 0
    while (i < maxAttempts) {
      try return f(load(spark, root))
      catch { case e: java.util.ConcurrentModificationException => last = e; i += 1 }
    }
    throw last
  }

  def load(spark: SparkSession, root: String): GammaTable = {
    val t = new GammaTable(spark, root, readMeta(spark, s"$root/meta"))
    val ixRoot = new org.apache.hadoop.fs.Path(s"$root/index")
    val fs = ixRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(ixRoot)) {
      fs.listStatus(ixRoot).filter(_.isDirectory).foreach { st =>
        val dir = st.getPath.getName // `<field>` or `<field>@<TYPE>` (V10)
        val ix = graft.streaming.IncrementalIndexer.load(t, dir)
        t.indexers.put((dir.split('@')(0), ix.retrievalType.toUpperCase(java.util.Locale.ROOT)), ix)
      }
    }
    t
  }

  /** json-infer would read the bucket map as a struct; force the encoder
    * schema.
    */
  /** Manifest-only read for external readers (the `gamma` DSv2 source):
    * schema + bucket map + stats without constructing the table handle or
    * re-attaching indexes. Zero Spark jobs (driver-side file read).
    */
  private[graft] def readMetaFor(spark: SparkSession, root: String): TableMeta =
    readMeta(spark, s"$root/meta")

  /** Point-in-time manifest for snapshot reads (`VERSION AS OF v`): every
    * commit retains `meta/v<N>.json`, and the MVCC layout keeps superseded
    * bucket version dirs until [[GammaTable.vacuum]] — so a historical
    * manifest still points at readable files. Fails with a clear message
    * when the version predates history (pre-snapshot-support tables) or
    * was never committed.
    */
  private[graft] def readMetaVersionFor(
      spark: SparkSession, root: String, v: Long): TableMeta = {
    import spark.implicits._
    val enc = implicitly[org.apache.spark.sql.Encoder[TableMeta]]
    graft.core.ManifestIO.readString(spark, s"$root/meta/v$v.json") match {
      case Some(json) => normalizeMeta(
        graft.core.ManifestIO.parseDF(spark, json, enc.schema).as[TableMeta].head())
      case None =>
        // the CURRENT version is always servable even when its history
        // copy is missing (crash window between the meta.json swap and
        // the v<N>.json write, or a pre-snapshot-support table asked for
        // its own current version)
        val cur = readMeta(spark, s"$root/meta")
        if (cur.version == v) cur
        else throw new NoSuchElementException(
          s"no snapshot v$v at $root — manifest history begins at the table's " +
            "first commit with snapshot support, and vacuum() retires " +
            "superseded versions")
    }
  }

  /** Versions with a retained manifest, ascending (the snapshot surface). */
  private[graft] def snapshotVersions(spark: SparkSession, root: String): Seq[Long] =
    manifestVersions(spark, s"$root/meta")

  /** Versions of the `v<N>.json` manifests in `metaDir`, ascending. */
  private def manifestVersions(spark: SparkSession, metaDir: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(metaDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.endsWith(".json"))
        scala.util.Try(n.stripPrefix("v").stripSuffix(".json").toLong).toOption
      else None
    }.sorted
  }

  /** The committed version on disk, without a full manifest parse (the
    * commit guard reads this on EVERY write): our own writer emits
    * `"version":N` in a fixed position, so a regex is exact. None = no
    * manifest yet (first write of a fresh root). While a commit swaps
    * meta.json, the newest `v<N>.json` is the committed version (see
    * [[readMeta]]).
    */
  private[graft] def persistedVersion(spark: SparkSession, root: String): Option[Long] =
    graft.core.ManifestIO.readString(spark, s"$root/meta/meta.json") match {
      case Some(json) =>
        "\"version\":(\\d+)".r.findFirstMatchIn(json) match {
          case Some(m) => Some(m.group(1).toLong)
          case None => throw new java.io.IOException(
            s"malformed manifest at $root/meta/meta.json (no version field)")
        }
      case None => snapshotVersions(spark, root).lastOption
    }

  /** Commit history, newest first — the DESCRIBE-HISTORY analog: one row
    * per retained manifest version (driver-side file reads; history is
    * bounded by commit count, and vacuum'd tables keep their manifests —
    * only data files are retired).
    */
  def history(spark: SparkSession, root: String): DataFrame =
    history(spark, root, Int.MaxValue)

  /** Newest-first commit history, reading at most `limit` retained
    * manifests — the cap binds BEFORE the driver-side manifest reads, so
    * a capped DESCRIBE HISTORY pays O(limit) reads, not O(retained).
    */
  def history(spark: SparkSession, root: String, limit: Int): DataFrame = {
    import spark.implicits._
    snapshotVersions(spark, root).sorted(Ordering[Long].reverse).take(limit).map { v =>
      val m = readMetaVersionFor(spark, root, v)
      (m.version, m.committedAtMs, m.maxDocid,
        m.bucketVersions.size.toLong, m.indexStatus)
    }.toDF("version", "committed_at_ms", "max_docid", "buckets", "index_status")
  }

  private def readMeta(spark: SparkSession, path: String): TableMeta = {
    import spark.implicits._
    val enc = implicitly[org.apache.spark.sql.Encoder[TableMeta]]
    // read the exact file, not the dir: a crash between create(tmp) and
    // rename strands meta.json.tmp next to a valid meta.json, and a
    // dir-wide read would load both (two rows, arbitrary head). Legacy
    // dirs without a meta.json fall back to the dir read.
    // driver-side read + local-relation from_json: ZERO Spark jobs on the
    // load path (was one head() job per manifest read)
    def parse(json: String) =
      graft.core.ManifestIO.parseDF(spark, json, enc.schema).as[TableMeta].head()
    def read(file: String) = graft.core.ManifestIO.readString(spark, s"$path/$file")
    val m0 = read("meta.json").orElse {
      // a commit swaps meta.json by delete + rename (writeJsonAtomic) and
      // writes its v<N>.json only after it: while meta.json is missing, the
      // newest v<N>.json is the last committed manifest (a dir read would
      // take an arbitrary older one, or the in-flight meta.json.tmp)
      manifestVersions(spark, path).lastOption.flatMap(v => read(s"v$v.json"))
    } match {
      case Some(json) => parse(json)
      case None => // legacy dirs without a meta.json fall back to the dir read
        spark.read.schema(enc.schema).json(path).as[TableMeta].head()
    }
    normalizeMeta(m0)
  }

  private def normalizeMeta(m0: TableMeta): TableMeta = {
    // metas written before bucketStats existed read the field as null
    val m1 = if (m0.bucketStats == null) m0.copy(bucketStats = Map.empty) else m0
    // metas written before the purge log existed read the field as null
    val m = if (m1.purgedVersions == null) m1.copy(purgedVersions = Nil) else m1
    // metas written before the store field read it as null -> FLOAT
    if (m.vectorFields.exists(_.store == null))
      m.copy(vectorFields = m.vectorFields.map(f =>
        if (f.store == null) f.copy(store = "FLOAT") else f))
    else m
  }

  /** Driver-side single-file JSON write (readable by `spark.read.json`). */
  private[table] def writeMetaTo(spark: SparkSession, dir: String, m: TableMeta): Unit =
    writeJsonAtomic(spark, dir, "meta.json", metaJson(m))

  private[table] def metaJson(m: TableMeta): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val bv = m.bucketVersions.toSeq.sortBy(_._1.toLong)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val vf = m.vectorFields.map(f =>
      s"""{"name":${q(f.name)},"dim":${f.dim},"metric":${q(f.metric)},""" +
        s""""retrievalType":${q(f.retrievalType)},""" +
        s""""store":${q(Option(f.store).getOrElse("FLOAT"))}}""").mkString("[", ",", "]")
    // stats bounds are always finite (writeVersion drops NaN/Inf), so
    // plain JSON numbers round-trip
    val bs = Option(m.bucketStats).getOrElse(Map.empty)
      .toSeq.sortBy(_._1.toLong).map { case (b, cols) =>
        s"${q(b)}:" + cols.toSeq.sortBy(_._1).map { case (c, mm) =>
          s"${q(c)}:[${mm.mkString(",")}]"
        }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    val ds = Option(m.dataSchema).map(s => s""","dataSchema":${q(s)}""").getOrElse("")
    val ct = m.committedAtMs.map(t => s""","committedAtMs":$t""").getOrElse("")
    val pv = Option(m.purgedVersions).filter(_.nonEmpty)
      .map(vs => s""","purgedVersions":[${vs.mkString(",")}]""").getOrElse("")
    s"""{"name":${q(m.name)},"keyField":${q(m.keyField)},"nBuckets":${m.nBuckets},""" +
      s""""maxDocid":${m.maxDocid},"version":${m.version},"bucketVersions":$bv,""" +
      s""""vectorFields":$vf,"indexStatus":${q(m.indexStatus)},""" +
      s""""bucketStats":$bs$ds$ct$pv}"""
  }

  /** Driver-side atomic single-file write. Write-temp-then-rename:
    * delete-dir-then-create left a window (every commit!) where a crash
    * stranded the table with NO manifest while its data files were
    * intact — and a concurrent load() in that window failed the same way.
    */
  private[table] def writeJsonAtomic(
      spark: SparkSession, dir: String, fileName: String, json: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    val tmp = new org.apache.hadoop.fs.Path(dirPath, s"$fileName.tmp")
    val out = fs.create(tmp, true)
    out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val dest = new org.apache.hadoop.fs.Path(dirPath, fileName)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"rename $tmp -> $dest failed")
  }

  /** Restore from a dump produced by [[GammaTable.dump]] into `newRoot`. */
  def restore(spark: SparkSession, dumpDir: String, newRoot: String): GammaTable = {
    val fs = new org.apache.hadoop.fs.Path(dumpDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dumpDir/dump.done")),
      s"no completed dump at $dumpDir (missing dump.done)")
    val meta = readMeta(spark, s"$dumpDir/meta")
    val data = spark.read.parquet(s"$dumpDir/data")
    val t = new GammaTable(spark, newRoot, meta.copy(bucketVersions = Map.empty, version = 0L))
    val buckets = meta.bucketVersions.keys.map(_.toLong).toSeq
    val (written, stats) = t.writeVersion(data, buckets, 1L)
    t.commit(buckets, written, 1L, 0L, stats)
    t
  }

  /** Dense docid assignment (reference `max_docid_` counter,
    * gamma_engine.cc:651-657) with PRE-COMPUTED per-partition offsets: the
    * caller already knows each partition's row count (from the combined
    * stats pass), so assignment is a single narrow pass — unlike
    * zipWithIndex, which runs its own extra count job per commit.
    * `df` must be a narrow derivation of the frame the offsets were
    * computed from (same cached partitions, same indices).
    */
  private[table] def assignDocids(df: DataFrame, offsets: Array[Long]): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(DocidCol, LongType, nullable = false))
    val rdd = df.rdd.mapPartitionsWithIndex { (pi, it) =>
      var next = offsets(pi)
      it.map { r => val out = Row.fromSeq(r.toSeq :+ next); next += 1; out }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
