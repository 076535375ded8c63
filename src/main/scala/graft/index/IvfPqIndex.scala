package graft.index

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.core.Metric
import graft.functions.{QueryHeaps, SpecializedRowOrdering, TopKBuffer}

/** IVFPQ (reference V2, index/impl/gamma_index_ivfpq.cc): coarse quantize,
  * product-quantize the residuals, scan probed lists with the ADC LUT, then
  * exact re-rank of the top `recall_num` candidates from raw vectors
  * (reference two-stage rank, gamma_index_ivfpq.cc:642-697).
  *
  * Faithful to faiss conventions the reference relies on: residual encoding
  * (x - coarse_centroid), per-subspace k-means codebooks of 2^nbits entries,
  * asymmetric distance = Σ_j ||r_j - cb_j[code_j]||².
  *
  * Serving design: like gamma, which keeps each doc's codes and raw vector
  * in memory and ranks in two stages inside one pass, a request reads the
  * resident [[VectorStore]] over `rawDocs` (the table's own store when the
  * index serves a table), whose blocks hold each row's raw vector, coarse
  * centroid and PQ codes, grouped by centroid. One Spark job scans the
  * probed lists of every block with the ADC LUT (nprobe x m x ksub doubles
  * per query, built scan-side from the quantizers broadcast once for every
  * copy of the index) and re-ranks each block's candidates exactly from the
  * same block. `codes` (the lists as built or persisted) feed the per-list
  * stats and the one request the store cannot serve: an allowed set held
  * only as a frame.
  *
  * One search ([[searchHits]]) serves the table API, the SQL rewrite and
  * direct callers. Ids are Long, Int or String (the reference's
  * `id_type_`, table/table.cc:123-126) and vectors float or double arrays.
  * A store row is an index row iff its version is at most
  * `indexedThrough` (the owning indexer's build version; a standalone
  * index's store has no versions, so every row is one).
  */
class IvfPqIndex(
    val spark: SparkSession,
    val codes: DataFrame, // idCol, centroid_id, pq_codes array<int>
    val rawDocs: DataFrame, // idCol, vecCol, ... — the store's rows (UNrotated)
    val idCol: String,
    val vecCol: String,
    val centers: Array[Array[Double]], // in rotated space when OPQ is on
    val codebooks: Array[Array[Array[Double]]], // [m][ksub][dsub]
    val params: IndexParams,
    val rotation: Option[Array[Array[Double]]] = None,
    // per-list code counts (index position = centroid_id), a build-time
    // upper bound feeding adaptive probe widening; None = fixed nprobe
    val listSizes: Option[Array[Long]] = None,
    // shared with the index this one copies: the quantizer broadcast and
    // the store (None: made here, the store over `rawDocs`)
    sharedCodec: Option[PqCodec] = None,
    store: Option[VectorStore] = None,
    val indexedThrough: Long = Long.MaxValue) extends AnnIndex {

  override def retrievalType: String = "IVFPQ"

  /** The quantizers as scan and encode tasks read them: broadcast once,
    * then handed to every copy (the request path copies the index per
    * search) and to the store that encodes with them.
    */
  private[graft] lazy val codec: PqCodec = sharedCodec.getOrElse(
    PqCodec(spark, centers, codebooks, rotation, params.metric))

  /** The store every search reads: `rawDocs`' (key, vector) rows with
    * their codes, cached for this index's lifetime unless the owning table
    * handed its own store in.
    */
  private[graft] lazy val vectors: VectorStore = store.getOrElse(
    new VectorStore(rawDocs.select(col(idCol), col(vecCol)), Some(codec)))

  private def copy(
      codes: DataFrame = codes,
      params: IndexParams = params,
      listSizes: Option[Array[Long]] = listSizes,
      indexedThrough: Long = indexedThrough): IvfPqIndex =
    new IvfPqIndex(spark, codes, rawDocs, idCol, vecCol, centers, codebooks, params, rotation,
      listSizes, Some(codec), Some(vectors), indexedThrough)

  /** Index rows the LAST search's ADC scan read, over all its chunks (-1
    * before any search), summed from the counts its scan tasks returned
    * with their heaps. Feedback surface for the indexer's probe-cost
    * bound: the uniform-volume row prediction is calibrated against this
    * (IncrementalIndexer.rowCalibration).
    */
  @volatile private var scannedRows = -1L
  def lastScannedRows: Long = scannedRows

  /** Same index, fresher per-list stats. */
  def withListSizes(s: Option[Array[Long]]): IvfPqIndex = copy(listSizes = s)

  /** Same index, serving the store rows of version ≤ `v`. */
  private[graft] def through(v: Long): IvfPqIndex = copy(indexedThrough = v)

  /** Same index and store, the frame path reading `lists` as its codes. */
  private[graft] def withCodes(lists: DataFrame): IvfPqIndex = copy(codes = lists)

  // The ADC LUT is exact for L2 and InnerProduct; the reference's kernels
  // implement exactly those two (index/retrieval_model.h:20 declares Cosine
  // but e.g. gamma_index_ivfpq.cc:744-750 dispatches IP|L2 only). Cosine
  // callers normalize vectors upstream and use InnerProduct.
  require(params.metric == Metric.L2 || params.metric == Metric.InnerProduct,
    s"IVFPQ supports L2 and InnerProduct (got ${params.metric}); " +
      "normalize vectors and use InnerProduct for cosine")

  private val keyType = codes.schema(idCol).dataType
  IvfPqIndex.requireTypes(keyType, rawDocs.schema(vecCol).dataType)
  require(rawDocs.schema(idCol).dataType == keyType,
    s"IVFPQ re-rank source ids are ${rawDocs.schema(idCol).dataType.simpleString}, " +
      s"code ids ${keyType.simpleString}")

  /** [[searchHits]], run now, its hits as a local relation. */
  override def search(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      allowedIds: Option[DataFrame],
      minScore: Option[Double],
      maxScore: Option[Double]): DataFrame =
    searchHits(queries, k, nprobe, allowedIds.map(AllowedKeys(_, -1L, None)), minScore, maxScore)
      .toDF(spark)

  /** Whether [[searchHits]] serves `allowed` from the store: no allowed
    * set, or its keys on the driver with this index's key type. Otherwise
    * the allowed set is only a frame, and the search scans `codes`.
    */
  private[graft] def scansStore(allowed: Option[AllowedKeys]): Boolean =
    allowed.forall(a => a.keyType == keyType && a.packed.isDefined)

  /** The IVFPQ search, merged on the driver with no shuffle, the shape of
    * Spark's `TakeOrderedAndProject` (the reference's per-thread heaps
    * merged once, gamma_index_ivfpq.cc:570-593, then the `recall_num`
    * re-rank, :642-697). Served from the store ([[scansStore]]), one Spark
    * job over its blocks, in which each task
    *  - scans the probed lists' index rows with ADC, testing allowed keys
    *    on the driver (broadcast) on each row, into a heap of
    *    max(recall_num, k) candidates per query;
    *  - scores each distinct (qid, key) it kept exactly, the key's rows in
    *    the block with the `l2_sq` / `inner_product` double arithmetic,
    *    against every query position of the qid;
    *  - returns its heaps, those exact scores and its scanned-row count.
    * The driver merges each task's result as it arrives into the global
    * top max(recall_num, k) by ADC, the two-job path's candidate set,
    * keeping the exact scores of the (qid, key) pairs it admits and
    * dropping evicted pairs' scores as it goes. Each copy
    * of a pair in that set then offers the pair's exact scores, in range,
    * to a top k per qid, as the two-job path's candidate list does.
    * Without `hasRank`, the tasks apply the range to the ADC value and
    * keep k, and there is no exact score. A key's rows are scored in the
    * blocks whose task kept it: keys are unique among a table's live rows,
    * so there that is every row of the key, but a standalone index whose
    * `rawDocs` repeat a key in several blocks can re-rank fewer of its
    * rows than the two-job path.
    *
    * An allowed set held only as a frame is semi-joined into the probed
    * lists of `codes` instead, in two jobs: the list scan (heaps merged on
    * the driver) and the candidates' exact scores looked up in the store.
    * A batch over [[IvfPqIndex.MaxBroadcastCandidates]] candidates runs
    * once per [[IvfPqIndex.qidChunks]] chunk.
    */
  private[graft] def searchHits(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      allowed: Option[AllowedKeys],
      minScore: Option[Double],
      maxScore: Option[Double]): LocalHits = {
    val nCand = if (params.hasRank) math.max(params.recallNum, k) else k
    val fromStore = scansStore(allowed)
    val keySet =
      if (fromStore) allowed.flatMap(_.keySet).map(spark.sparkContext.broadcast(_)) else None
    val range = (minScore, maxScore)
    try {
      val chunks = IvfPqIndex.qidChunks(queries, nCand, IvfPqIndex.MaxBroadcastCandidates).map { qs =>
        if (fromStore) storeChunk(qs, k, nprobe, nCand, keySet, range)
        else frameChunk(qs, k, nprobe, nCand, allowed.get.frame, range)
      }
      scannedRows = chunks.map(_._2).sum
      chunks.map(_._1).reduce(_ ++ _)
    } finally keySet.foreach(_.destroy())
  }

  /** One chunk's probe plan: the ADC scan of its queries (their probed
    * centroids in the code space, heaps per distinct qid) and the probed
    * centroids.
    */
  private def probePlan(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      heapSize: Int,
      range: (Option[Double], Option[Double])): (AdcScan, Array[Long], Seq[Int]) = {
    val np = math.min(nprobe.getOrElse(params.nprobe), centers.length)
    val sizes = if (Ivf.adaptiveEnabled(spark)) listSizes else None
    val target = Ivf.probeTarget(k, params.recallNum, np, params.nprobe)
    // probes + ADC happen in the (possibly OPQ-rotated) code space; the
    // exact re-rank stays in the original space, so rotation never
    // touches final scores
    val qProbes = queries.zipWithIndex.map { case ((_, qv0), pos) =>
      val qv = rotation.map(Opq.rotate(_, qv0)).getOrElse(qv0)
      (pos, qv,
        Ivf.extendByTarget(
          Ivf.rankedCentroids(centers, qv, params.metric), sizes, np, target).toArray)
    }
    // scan-side ADC: broadcast only the queries by centroid (the
    // quantizers are the codec's) and build each (query, centroid) LUT
    // lazily WHERE THE CODES LIVE, one centroid at a time — the
    // reference's per-query sim_table precompute inside the scan
    // (gamma_index_ivfpq.h:561-601)
    val byCentroid: Map[Int, Array[(Int, Array[Float])]] = qProbes
      .flatMap { case (pos, qv, ps) => ps.map(c => (c, (pos, qv))) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toArray }
    // one heap per distinct qid, as the per-qid top-k the heaps stand for
    val qids = queries.map(_._1).distinct.sorted.toArray
    val group = qids.zipWithIndex.toMap
    val scan = new AdcScan(
      spark.sparkContext.broadcast(byCentroid), codec,
      queries.map(q => group(q._1)).toArray, qids.length, heapSize, keyType,
      Metric.ascending(params.metric), params.metric == Metric.InnerProduct,
      // the ADC value is the returned score only without the re-rank
      if (params.hasRank) (None, None) else range)
    (scan, qids, qProbes.flatMap(_._3).distinct.sorted)
  }

  /** One chunk from the store, in one job; (hits, rows scanned). */
  private def storeChunk(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      heapSize: Int,
      keySet: Option[Broadcast[KeySet]],
      range: (Option[Double], Option[Double])): (LocalHits, Long) = {
    val store = vectors
    require(store.codec.exists(_ eq codec), "the IVFPQ store must hold this index's codes")
    val (scan, qids, _) = probePlan(queries, k, nprobe, heapSize, range)
    val rank = params.hasRank
    // each qid's query positions, and the raw (unrotated) query vectors
    // the exact scores read
    val positions = Array.fill(qids.length)(Array.newBuilder[Int])
    queries.indices.foreach(p => positions(scan.groupOf(p)) += p)
    val byGroup = positions.map(_.result())
    val qvecs = if (rank) Some(spark.sparkContext.broadcast(queries.map(_._2).toArray)) else None
    val (keys, through) = (keySet, indexedThrough) // the task closure must not capture the index
    // task results merge as they arrive. A task ships each group's rows
    // best first, so once the global heap rejects one, the group's later
    // rows are rejected too and are skipped; the exact scores of a pair
    // are kept when the task's first (best) row of it is kept. Pairs
    // evicted since are dropped whenever the map outgrows twice what the
    // heaps can hold, so the driver never keeps every task's scores.
    val stage1 = scan.heaps()
    // per group: key -> its exact scores (several blocks' concatenated)
    val exact = Array.fill(qids.length)(new java.util.HashMap[Any, Array[Double]]())
    val pruneAt = 2L * qids.length * heapSize
    var held = 0L
    var scanned = 0L
    def merge(t: StoreHits): Unit = {
      scanned += t.scanned
      var full = -1 // the group whose heap rejected this task's last row
      TopKBuffer.unpack(t.heaps, QueryHeaps.NumFields).zipWithIndex.foreach { case (r, i) =>
        val g = r.getInt(3)
        if (g != full) {
          if (!stage1.addOwned(r)) full = g
          else if (rank && t.from(i) < t.from(i + 1)) {
            val s = java.util.Arrays.copyOfRange(t.exact, t.from(i), t.from(i + 1))
            exact(g).merge(r.get(1, keyType), s, (a, b) => a ++ b)
            held += 1
          }
        }
      }
      if (held > pruneAt) {
        val kept = Array.fill(qids.length)(new java.util.HashSet[Any]())
        stage1.rows.foreach(r => kept(r.getInt(3)).add(r.get(1, keyType)))
        exact.indices.foreach(g => exact(g).keySet.retainAll(kept(g)))
        held = exact.map(_.size.toLong).sum
      }
    }
    try store.foreach(b => scan.scanBlock(b, keys.map(_.value).orNull, through,
        qvecs.map(_.value).orNull, byGroup))(merge)
    finally { scan.destroyRequest(); qvecs.foreach(_.destroy()) }

    if (!rank) return (LocalHits.fromHeaps(stage1, qids, keyType), scanned)
    // each copy of a (group, key) in the global heaps offers its exact
    // scores once, as the candidate list of the two-job path does
    val out = new QueryHeaps(qids.length, k, keyType, Metric.ascending(params.metric))
    qids.indices.foreach { g =>
      stage1.sorted(g).foreach { r =>
        val id = r.get(1, keyType)
        exact(g).get(id).foreach { s =>
          if (IvfPqIndex.inRange(s, range)) out.offer(g, s, id)
        }
      }
    }
    (LocalHits.fromHeaps(out, qids, keyType), scanned)
  }

  /** One chunk whose allowed set is only a frame, in two jobs: the probed
    * lists of `codes` semi-joined with `allowedIds` and scanned with
    * per-task heaps, then, with `hasRank`, the exact re-rank of the merged
    * candidates looked up in the store; (hits, rows scanned).
    */
  private def frameChunk(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      heapSize: Int,
      allowedIds: DataFrame,
      range: (Option[Double], Option[Double])): (LocalHits, Long) = {
    val (scan, qids, probed) = probePlan(queries, k, nprobe, heapSize, range)
    // broadcast decision is the caller's (selectivity-aware) hint, not ours;
    // the sort by centroid bounds each task's LUT cache to one centroid's
    // queries (persisted lists arrive centroid-partitioned already)
    val in = codes.filter(col("centroid_id").isin(probed: _*))
      .join(allowedIds.toDF(idCol), Seq(idCol), "left_semi")
      .select(col("centroid_id"), col(idCol), col("pq_codes"))
      .sortWithinPartitions(col("centroid_id"))
    val stage1 = scan.heaps()
    var scanned = 0L
    val idType = keyType // the task closure must not capture the index
    try in.queryExecution.toRdd.mapPartitions { rows =>
        val task = scan.task()
        rows.foreach(r => task.add(r.getInt(0), r.get(1, idType), r.getArray(2)))
        Iterator((task.heaps.packed, task.scanned))
      }.collect().foreach { case (h, n) => stage1.addPacked(h); scanned += n }
    finally scan.destroyRequest()
    if (!params.hasRank) return (LocalHits.fromHeaps(stage1, qids, keyType), scanned)

    // candidate -> the query positions that score it: every position
    // sharing the candidate's qid
    val positions = queries.indices.groupBy(scan.groupOf(_))
    val cand = new java.util.HashMap[Any, Array[Int]]()
    qids.indices.foreach { g =>
      stage1.sorted(g).foreach { r =>
        val id = r.get(1, keyType)
        val prev = cand.get(id)
        cand.put(id, if (prev == null) positions(g).toArray else prev ++ positions(g))
      }
    }
    import scala.jdk.CollectionConverters._
    (ExactRerank.hits(vectors, cand.asScala.toSeq, queries, k, params.metric, range), scanned)
  }

  /** Encode a delta batch with the ALREADY-TRAINED quantizers — the
    * reference's incremental re-encode of new/updated vectors through the
    * existing index (R5/R6, vector/vector_manager.cc:355-380): rotate (if
    * OPQ), assign to the nearest coarse centroid, PQ-encode the residual.
    * One kernel pass, no retraining. `keepCols` are carried through
    * (e.g. a version stamp).
    */
  def encodeDelta(delta: DataFrame, keepCols: Seq[String] = Nil): DataFrame =
    IvfPqIndex.encodeAll(delta, idCol, vecCol, codec, keepCols)

  /** Same quantizers over the rows of `ids` removed: from `codes` and from
    * `rawDocs`, so the copy reads its own store over the remaining rows.
    */
  override def excluding(ids: DataFrame): AnnIndex = {
    val gone = ids.toDF(idCol)
    new IvfPqIndex(spark, codes.join(gone, Seq(idCol), "left_anti"),
      rawDocs.join(gone, Seq(idCol), "left_anti"), idCol, vecCol, centers, codebooks, params,
      rotation, listSizes, Some(codec), None, indexedThrough)
  }

  override def withParams(p: IndexParams): AnnIndex = copy(params = p)

  def save(path: String): Unit = {
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$path/codes")
    saveQuantizers(path)
  }

  /** Persist the trained quantizers only (coarse centroids, PQ codebooks,
    * OPQ rotation) — for callers that manage the code lists themselves
    * (the persisted incremental indexer).
    */
  def saveQuantizers(path: String): Unit = {
    import spark.implicits._
    Ivf.saveCenters(spark, s"$path/centroids", centers)
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
    }.toSeq.toDF("subspace", "code", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    rotation.foreach { r =>
      r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq.toDF("i", "r")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    }
  }
}

object IvfPqIndex {

  /** The most candidate rows (queries x per-query candidates) one search
    * chunk brings to the driver ([[qidChunks]]).
    */
  val MaxBroadcastCandidates = 4000000L

  /** `queries` in chunks of consecutive whole qids (ascending, a qid's
    * positions together and in batch order) whose positions x `perQuery`
    * stay within `bound` (a qid over it alone is one chunk); a batch within
    * it is one chunk, `queries` itself. A qid's hits depend on its own
    * positions only, so the chunks' hits, concatenated, are the batch's.
    */
  private[index] def qidChunks(queries: Seq[(Long, Array[Float])], perQuery: Int, bound: Long)
      : Seq[Seq[(Long, Array[Float])]] =
    if (queries.size.toLong * perQuery <= bound) Seq(queries)
    else queries.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
      .foldLeft(Vector.empty[Seq[(Long, Array[Float])]]) { (chunks, qs) =>
        if (chunks.nonEmpty && (chunks.last.size + qs.size).toLong * perQuery <= bound)
          chunks.init :+ (chunks.last ++ qs)
        else chunks :+ qs
      }

  /** Ids Long, Int or String and vectors float or double arrays: the types
    * the driver merge holds by value and the [[VectorStore]] serves.
    */
  private def requireTypes(idType: DataType, vecType: DataType): Unit =
    require(AllowedKeys.KeyTypes(idType) && VectorStore.isVectorType(vecType),
      s"IVFPQ needs Long, Int or String ids over float or double vectors " +
        s"(got ${idType.simpleString} ids over ${vecType.simpleString})")

  /** Spark SQL's `score >= minScore AND score <= maxScore` (-0.0 equals
    * 0.0, NaN is the largest value).
    */
  private[index] def inRange(s: Double, range: (Option[Double], Option[Double])): Boolean =
    range._1.forall(lo => SpecializedRowOrdering.cmpD(s, lo) >= 0) &&
      range._2.forall(hi => SpecializedRowOrdering.cmpD(s, hi) <= 0)

  /** Restore a saved index. `rawDocs` re-supplies the exact re-rank source
    * (the reference reloads raw vectors alongside dumped codes,
    * gamma_engine.cc:1175-1262); the codes read stays lazy, so probe
    * filters prune the partitioned parquet at rest (T4).
    */
  def load(
      spark: SparkSession,
      path: String,
      rawDocs: DataFrame,
      idCol: String,
      vecCol: String,
      params: IndexParams): IvfPqIndex = {
    val codes = spark.read.parquet(s"$path/codes")
    val (centers, codebooks, rotation) = loadQuantizers(spark, path)
    new IvfPqIndex(spark, codes, rawDocs, idCol, vecCol, centers, codebooks, params, rotation)
  }

  /** Counterpart of [[IvfPqIndex.saveQuantizers]]. */
  def loadQuantizers(spark: SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Option[Array[Array[Double]]]) = {
    import org.apache.spark.sql.types._
    val centers = Ivf.loadCenters(spark, s"$path/centroids")
    // explicit schemas: footer inference costs a Spark job per load
    val cbSchema = StructType(Seq(StructField("subspace", IntegerType),
      StructField("code", IntegerType), StructField("center", ArrayType(DoubleType))))
    // driver-side sorts below: orderBy on these tiny frames costs an AQE
    // shuffle job each
    val cbRows = spark.read.schema(cbSchema).parquet(s"$path/codebooks")
      .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
    val codebooks = cbRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rows) =>
      rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }.toArray
    val rotPath = new org.apache.hadoop.fs.Path(s"$path/rotation")
    val fs = rotPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rotation =
      if (fs.exists(rotPath)) {
        val rotSchema = StructType(Seq(StructField("i", IntegerType),
          StructField("r", ArrayType(DoubleType))))
        Some(spark.read.schema(rotSchema).parquet(rotPath.toString).collect()
          .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray))
      } else None
    (centers, codebooks, rotation)
  }

  def build(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      params: IndexParams): IvfPqIndex = {
    requireTypes(docs.schema(idCol).dataType, docs.schema(vecCol).dataType)
    // auto centroid sizing needs the FULL count; with explicit ncentroids
    // a BOUNDED count (first 2^nbits+1 rows) answers the remaining use —
    // the tiny-table ksub guard — without scanning the table. ONE count
    // job either way. (Long math: a plain n.toInt would overflow past
    // 2^31 rows and silently collapse every codebook.)
    val ksubCap = 1L << params.nbits
    val counted =
      if (params.ncentroids > 0)
        docs.limit(math.min(ksubCap + 1, Int.MaxValue.toLong).toInt).count()
      else docs.count()
    val ncent =
      if (params.ncentroids > 0) params.ncentroids
      else Ivf.autoNcentroids(counted, -1)
    val m = params.nsubvector
    val ksub = math.min(ksubCap, math.max(2L, counted)).toInt

    // ONE bounded driver-side sample feeds OPQ, coarse, and PQ training —
    // the reference's faiss train() likewise sees a single sampled x and
    // trains every quantizer in memory (gamma_index_ivfpq.cc:272-330);
    // the cluster only runs the encode pass below. Clamps: 256 points per
    // coarse centroid / per PQ codebook entry (retrieval_model.h:303).
    val coarseCap = math.max(39 * ncent, math.min(params.trainSampleRows, 256 * ncent))
    val pqCap = math.min(params.trainSampleRows, 256 * ksub)
    val sampleRaw = LocalKMeans.sampleVecs(docs, vecCol, math.max(coarseCap, pqCap))
    require(sampleRaw.nonEmpty, "cannot build IVFPQ on an empty table")
    val dim = sampleRaw(0).length
    require(dim % m == 0, s"dim $dim not divisible by nsubvector $m")
    val dsub = dim / m

    // OPQ: learn an orthonormal rotation and build the whole code space
    // (coarse + PQ) in rotated coordinates; L2 is rotation-invariant so
    // probes stay geometrically correct and the exact re-rank uses the
    // untouched originals
    // rotation training is driver-side (per-subspace k-means + dim x dim
    // SVD per iteration), so cap the sample — but scale it with
    // trainSampleRows instead of a hardcoded 1024, which for large
    // dim/ksub under-determined the fit badly enough to make OPQ-on
    // worse than OPQ-off (e.g. 4 samples per codebook entry at ksub=256)
    val opqCap = math.min(params.trainSampleRows, 16384)
    val rotation =
      if (!params.opq) None
      else Some(Opq.trainRotation(
        sampleRaw.take(opqCap).map(_.map(_.toDouble)), m, ksub,
        params.opqIters, params.seed))
    val sample = rotation.map(r => sampleRaw.map(Opq.rotate(r, _))).getOrElse(sampleRaw)

    val centers = LocalKMeans.fit(
      sample.take(coarseCap), ncent, maxIter = 12, seed = params.seed, tol = 1e-3)

    // PQ trains on residual = vec - coarse_centroid (faiss by_residual
    // convention), assigned under the quantizer metric — the SAME kernel
    // the encode pass uses, so codes and codebooks agree
    val residuals = sample.take(pqCap).map { v =>
      val c = centers(Ivf.bestCenter(params.metric, centers, v))
      Array.tabulate(dim)(i => (v(i) - c(i)).toFloat)
    }
    // m independent sub-trainings, concurrent on driver cores (reference
    // PQ training via faiss ProductQuantizer, gamma_index_ivfpq.cc:272-330)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val codebooks = (0 until m).map { j =>
      Future {
        val sub = residuals.map(r => java.util.Arrays.copyOfRange(r, j * dsub, (j + 1) * dsub))
        LocalKMeans.fit(sub, ksub, maxIter = 10, seed = params.seed + j, tol = 1e-4)
      }
    }.map(Await.result(_, Duration.Inf)).toArray

    // single distributed pass: rotate + assign + residual-encode per row
    val codec = PqCodec(spark, centers, codebooks, rotation, params.metric)
    val codesDf = encodeAll(docs, idCol, vecCol, codec, Nil).localCheckpoint(true)
    new IvfPqIndex(spark, codesDf, docs.select(col(idCol), col(vecCol)),
      idCol, vecCol, centers, codebooks, params, rotation, sharedCodec = Some(codec))
  }

  /** Query LUT for one probed centroid, flattened m x ksub
    * (reference sim_table precompute, gamma_index_ivfpq.h:561-601):
    *  - L2: squared sub-distance of the query residual to each codebook
    *    entry, so Σ_j lut[code_j] = ||q - (centroid + code)||² (ascending);
    *  - InnerProduct: dot(q_j, cb_j[c]) + dot(q, centroid)/m, so the sum
    *    telescopes to dot(q, centroid + code) ≈ IP(q, x) (descending).
    * Static (executor-callable): the search kernel builds these scan-side.
    */
  private[index] def lutFor(
      q: Array[Float], centroid: Array[Double],
      codebooks: Array[Array[Array[Double]]], ksub: Int, ip: Boolean): Array[Double] = {
    val m = codebooks.length
    val dsub = centroid.length / m
    val qDotCentroidShare = if (ip) {
      var s = 0.0; var i = 0
      val n = math.min(q.length, centroid.length)
      while (i < n) { s += q(i) * centroid(i); i += 1 }
      s / m
    } else 0.0
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      val base = j * dsub
      var c = 0
      val kj = codebooks(j).length
      while (c < kj) {
        val cb = codebooks(j)(c)
        var s = 0.0; var i = 0
        if (ip) {
          while (i < dsub) { s += q(base + i) * cb(i); i += 1 }
          s += qDotCentroidShare
        } else {
          while (i < dsub) {
            val r = q(base + i) - centroid(base + i) // query residual component
            val t = r - cb(i)
            s += t * t; i += 1
          }
        }
        out(j * ksub + c) = s
        c += 1
      }
      j += 1
    }
    out
  }

  /** Single-pass encode of (id, vec, keep...) rows into
    * (id, centroid_id, pq_codes, keep...) with the codec's broadcast
    * quantizers ([[encodeRow]] per row).
    */
  private[index] def encodeAll(
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      codec: PqCodec,
      keepCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val in = docs.select((col(idCol) +: col(vecCol) +: keepCols.map(col)): _*)
    val schema = StructType(
      in.schema(idCol) +:
        StructField("centroid_id", IntegerType, nullable = false) +:
        StructField("pq_codes", ArrayType(IntegerType, containsNull = false)) +:
        keepCols.map(in.schema(_)))
    in.mapPartitions { rows =>
      rows.map { r =>
        val (best, codes) = codec.encode(r.getSeq[Float](1).toArray)
        Row.fromSeq(r.get(0) +: best +: codes.toSeq +: (2 until r.length).map(r.get))
      }
    }(Encoders.row(schema))
  }

  /** One vector's (centroid, PQ codes): optional OPQ rotation,
    * best-centroid assignment under the index's quantizer metric
    * (strict-< tie break, same as MLlib predict), then per subspace the
    * codebook entry nearest the residual (first of equals).
    */
  private[index] def encodeRow(
      raw: Array[Float],
      cs: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]],
      rot: Option[Array[Array[Double]]],
      metric: Metric.Value): (Int, Array[Int]) = {
    val m = cbs.length
    val dsub = cs.head.length / m
    val v = rot.map(Opq.rotate(_, raw)).getOrElse(raw)
    val best = Ivf.bestCenter(metric, cs, v)
    val cen = cs(best)
    val res = Array.tabulate(cen.length)(i => v(i) - cen(i))
    val codes = Array.tabulate(m) { j =>
      val cb = cbs(j); val base = j * dsub
      var bc = 0; var bd = Double.MaxValue; var cc = 0
      while (cc < cb.length) {
        val e = cb(cc)
        var s = 0.0; var i = 0
        while (i < dsub) {
          val t = res(base + i) - e(i)
          s += t * t; i += 1
        }
        if (s < bd) { bd = s; bc = cc }
        cc += 1
      }
      bc
    }
    (best, codes)
  }
}

/** An IVFPQ index's trained quantizers (coarse centers and PQ codebooks in
  * the code space, the OPQ rotation) and quantizer metric, broadcast once:
  * what its scan tasks build LUTs from and what encodes a row, in the
  * encode pass ([[IvfPqIndex.encodeAll]]) and in the [[VectorStore]] that
  * holds the index's codes. `ksub` is the largest codebook (the LUT
  * stride; k-means may return fewer than 2^nbits entries).
  */
private[graft] final class PqCodec private (
    val quantizers: Broadcast[
      (Array[Array[Double]], Array[Array[Array[Double]]], Option[Array[Array[Double]]])],
    metric: Metric.Value,
    val ncent: Int,
    val m: Int,
    val ksub: Int) extends Serializable {

  /** `v`'s (centroid, PQ codes), see [[IvfPqIndex.encodeRow]]. */
  def encode(v: Array[Float]): (Int, Array[Int]) = {
    val (cs, cbs, rot) = quantizers.value
    IvfPqIndex.encodeRow(v, cs, cbs, rot, metric)
  }
}

private[graft] object PqCodec {
  def apply(
      spark: SparkSession,
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      rotation: Option[Array[Array[Double]]],
      metric: Metric.Value): PqCodec = {
    val ksub = codebooks.map(_.length).max
    // the store holds each code in 16 bits
    require(ksub <= (1 << 16), s"IVFPQ codebooks hold at most 2^16 entries (nbits <= 16), got $ksub")
    new PqCodec(spark.sparkContext.broadcast((centers, codebooks, rotation)), metric,
      centers.length, codebooks.length, ksub)
  }
}

/** ADC scan kernel of one request. A task scores index rows against every
  * query probing their centroid through LUTs built where the codes live,
  * cached for one centroid at a time, keeps `heapSize` candidates per
  * query group and counts the rows it scanned.
  */
private[index] final class AdcScan(
    byCentroid: Broadcast[Map[Int, Array[(Int, Array[Float])]]], // centroid -> (query position, code-space vector)
    codec: PqCodec,
    val groupOf: Array[Int], // query position -> heap group
    groups: Int,
    heapSize: Int,
    idType: DataType,
    ascending: Boolean,
    ip: Boolean,
    range: (Option[Double], Option[Double])) extends Serializable {

  def heaps(): QueryHeaps = new QueryHeaps(groups, heapSize, idType, ascending)

  def task(): Task = new Task

  /** Frees the request's own broadcast (the quantizers are the index's). */
  def destroyRequest(): Unit = byCentroid.destroy()

  final class Task {
    val heaps: QueryHeaps = AdcScan.this.heaps()
    /** Index rows read (once per row, not per query). */
    var scanned = 0L
    private val probes = byCentroid.value
    private val (cs, cbs, _) = codec.quantizers.value
    private val ksub = codec.ksub
    private val luts = mutable.HashMap.empty[Int, Array[Double]]
    private var curCid = Integer.MIN_VALUE

    private def lut(cid: Int, pos: Int, qv: Array[Float]): Array[Double] = {
      if (cid != curCid) { luts.clear(); curCid = cid }
      luts.getOrElseUpdate(pos, IvfPqIndex.lutFor(qv, cs(cid), cbs, ksub, ip))
    }

    /** One code row of a probed list: `id` is its key's Catalyst value,
      * `codes` its PQ codes (rows arrive sorted by centroid).
      */
    def add(cid: Int, id: Any, codes: ArrayData): Unit = {
      scanned += 1
      val qs = probes.getOrElse(cid, null)
      if (qs != null) {
        var i = 0
        while (i < qs.length) {
          val (pos, qv) = qs(i)
          val t = lut(cid, pos, qv)
          var j = 0; var s = 0.0
          while (j < codec.m) { s += t(j * ksub + codes.getInt(j)); j += 1 }
          if (IvfPqIndex.inRange(s, range)) heaps.offer(groupOf(pos), s, id)
          i += 1
        }
      }
    }

    /** Every index row of `block` in a probed list: version ≤ `through`
      * and, with `keys`, an allowed key.
      */
    def scan(block: VectorStore.Block, keys: KeySet, through: Long): Unit =
      probes.foreach { case (cid, qs) =>
        block.list(cid).foreach { p =>
          val row = block.listRow(p)
          val id = block.key(row)
          if (block.indexed(row, through) && (keys == null || keys.contains(id))) {
            scanned += 1
            var i = 0
            while (i < qs.length) {
              val (pos, qv) = qs(i)
              val s = block.adc(p, lut(cid, pos, qv), ksub)
              if (IvfPqIndex.inRange(s, range)) heaps.offer(groupOf(pos), s, id)
              i += 1
            }
          }
        }
      }
  }

  /** One store block's share of a request: [[Task.scan]], its rows per
    * group best first, then, with `queries` (raw vectors by position),
    * each distinct (group, key) scored exactly at its first row: the key's
    * rows in the block against every position of the group (`positions`),
    * rows outer, positions inner.
    */
  def scanBlock(
      block: VectorStore.Block,
      keys: KeySet,
      through: Long,
      queries: Array[Array[Float]],
      positions: Array[Array[Int]]): StoreHits = {
    val t = task()
    t.scan(block, keys, through)
    val rows = (0 until groups).flatMap(t.heaps.sorted).map(_.asInstanceOf[UnsafeRow]).toArray
    if (queries == null) return StoreHits(TopKBuffer.pack(rows), null, null, t.scanned)
    val from = new Array[Int](rows.length + 1)
    val exact = Array.newBuilder[Double]
    val seen = mutable.HashSet.empty[(Int, Any)]
    var n = 0
    rows.indices.foreach { i =>
      val (g, id) = (rows(i).getInt(3), rows(i).get(1, idType))
      if (seen.add((g, id))) block.rowsOf(id).foreach { row =>
        positions(g).foreach { p => exact += block.score(row, queries(p), ip); n += 1 }
      }
      from(i + 1) = n
    }
    StoreHits(TopKBuffer.pack(rows), from, exact.result(), t.scanned)
  }
}

/** A store task's result: its candidate rows ([[TopKBuffer.pack]]ed, each
  * group's best first), row `i`'s exact scores at `from(i) until
  * from(i + 1)` of `exact` (the scores of its (group, key) at the first
  * row holding it, none at the others; both null without the re-rank),
  * and the index rows it scanned.
  */
private[index] final case class StoreHits(
    heaps: Array[Byte], from: Array[Int], exact: Array[Double], scanned: Long)

/** Exact scoring kernel of the driver request paths: scores a stored row
  * of a [[VectorStore.Block]] against the query positions its key maps to
  * (see [[VectorStore.Block.score]] for the arithmetic) and keeps the `k`
  * best in-range scores per query group.
  */
private[index] final class ExactRerank(
    queries: Broadcast[Array[Array[Float]]],
    groupOf: Array[Int],
    groups: Int,
    k: Int,
    idType: DataType,
    ascending: Boolean,
    ip: Boolean,
    range: (Option[Double], Option[Double])) extends Serializable {

  def heaps(): QueryHeaps = new QueryHeaps(groups, k, idType, ascending)

  /** Every stored row of key `id`, against query positions `ps`. */
  def add(heaps: QueryHeaps, block: VectorStore.Block, id: Any, ps: Array[Int]): Unit = {
    val qs = queries.value
    block.rowsOf(id).foreach { row =>
      var i = 0
      while (i < ps.length) {
        val p = ps(i)
        val s = block.score(row, qs(p), ip)
        if (IvfPqIndex.inRange(s, range)) heaps.offer(groupOf(p), s, id)
        i += 1
      }
    }
  }
}

private[graft] object ExactRerank {

  /** One job over the store's blocks: scores each candidate key's stored
    * rows against the query positions it maps to, keeps k per qid in each
    * task, and merges the task heaps on the driver. Rows come back per
    * qid in the (score, id) order of the `topk_rows` heap.
    */
  private[index] def hits(
      store: VectorStore,
      cand: Iterable[(Any, Array[Int])],
      queries: Seq[(Long, Array[Float])],
      k: Int,
      metric: Metric.Value,
      range: (Option[Double], Option[Double])): LocalHits = {
    val qids = queries.map(_._1).distinct.sorted.toArray
    val group = qids.zipWithIndex.toMap
    val qvecs = store.sparkContext.broadcast(queries.map(_._2).toArray)
    val exact = new ExactRerank(qvecs, queries.map(q => group(q._1)).toArray, qids.length, k,
      store.keyType, Metric.ascending(metric), metric == Metric.InnerProduct, range)
    val merged = exact.heaps()
    try store.lookup(cand) { (block, keys) =>
        val heaps = exact.heaps()
        keys.foreach { case (id, ps) => exact.add(heaps, block, id, ps) }
        heaps.packed
      }.foreach(merged.addPacked)
    finally qvecs.destroy()
    LocalHits.fromHeaps(merged, qids, store.keyType)
  }

  /** The exact fallback over a small allowed set, in one Spark job per
    * chunk ([[IvfPqIndex.qidChunks]] of nq x k rows) and no shuffle: every
    * allowed key maps to every query position and is looked up in `store`
    * (the live table's). Equals `Knn.flatSearch` over the semi-joined rows
    * cut to k per qid (same heaps, same arithmetic, score range applied
    * before the heap).
    *
    * None unless the allowed keys are on the driver and match the store's
    * key type (Long, Int or String), the metric is L2 or InnerProduct and
    * the vectors are float or double arrays; the caller then runs the lazy
    * plan.
    */
  private[graft] def allowedOnly(
      store: VectorStore,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      metric: Metric.Value,
      allowed: AllowedKeys,
      range: (Option[Double], Option[Double])): Option[LocalHits] = {
    val applies = (metric == Metric.L2 || metric == Metric.InnerProduct) && store.serves &&
      allowed.keyType == store.keyType
    if (!applies) None
    else allowed.keys.map { keys =>
      val distinct = keys.distinct
      IvfPqIndex.qidChunks(queries, k, IvfPqIndex.MaxBroadcastCandidates).map { qs =>
        val all = qs.indices.toArray
        hits(store, distinct.map(_ -> all), qs, k, metric, range)
      }.reduce(_ ++ _)
    }
  }
}
