package graft.index

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.core.Metric
import graft.functions.{QueryHeaps, SpecializedRowOrdering, TopKBuffer}

/** The IVF models, IVFFLAT, IVFPQ and BINARYIVF: inverted lists over one
  * coarse quantizer, scanned by one list scan ([[ListScan]]) with a
  * per-model row score — faiss's `InvertedLists` plus a per-codec
  * `InvertedListScanner`, and gamma's shape (gamma_index_ivfflat.cc:380-470,
  * gamma_index_ivfpq.cc:547-697, gamma_index_binary_ivf.cc:57-487).
  *
  * A request reads the resident [[VectorStore]] over `rawDocs` (the
  * table's own store when the index serves a table), whose blocks hold
  * each row's raw vector and centroid, grouped by centroid, and for IVFPQ
  * its PQ codes. `lists` (as built or persisted) feed the per-list stats
  * and the one request the store cannot serve: an allowed set held only
  * as a frame. One search ([[searchHits]]) serves the table API, the SQL
  * rewrite and direct callers. Ids are Long, Int or String (the
  * reference's `id_type_`, table/table.cc:123-126) and vectors float or
  * double arrays, or for BINARYIVF packed binary codes, which ride the
  * float request surface as one byte value per float. A store row is an
  * index row iff its version is at most
  * `indexedThrough` (the owning indexer's build version; a standalone
  * index's store has no versions, so every row is one).
  */
abstract class IvfIndex(
    val spark: SparkSession,
    val lists: DataFrame, // idCol, centroid_id, and pq_codes (IVFPQ) or vecCol
    val rawDocs: DataFrame, // idCol, vecCol, ... — the store's rows (UNrotated)
    val idCol: String,
    val vecCol: String,
    val centers: Array[Array[Double]], // in rotated space when OPQ is on; byte values for BINARYIVF
    val codebooks: Array[Array[Array[Double]]], // [m][ksub][dsub]; none for IVFFLAT, BINARYIVF
    val rotation: Option[Array[Array[Double]]], // IVFPQ's OPQ rotation
    val params: IndexParams,
    // per-list row counts (index position = centroid_id), a build-time
    // upper bound feeding adaptive probe widening; None = fixed nprobe
    val listSizes: Option[Array[Long]],
    // shared with the index this one copies: the quantizer broadcast and
    // the store (None: made here, the store over `rawDocs`)
    sharedCodec: Option[IvfCodec],
    store: Option[VectorStore],
    val indexedThrough: Long) extends AnnIndex {

  /** This model over other lists, docs, params, stats, store or version,
    * sharing this index's codec.
    */
  protected def make(
      lists: DataFrame, rawDocs: DataFrame, params: IndexParams, listSizes: Option[Array[Long]],
      store: Option[VectorStore], indexedThrough: Long): IvfIndex

  /** The quantizers, broadcast once and handed to every copy (the request
    * path copies the index per search) and to the store.
    */
  private[graft] lazy val codec: IvfCodec =
    sharedCodec.getOrElse(IvfCodec(spark, centers, codebooks, rotation, params.metric))

  /** The store every search reads: `rawDocs`' rows with their lists, or
    * the owning table's store.
    */
  private[graft] lazy val vectors: VectorStore = store.getOrElse(
    new VectorStore(rawDocs.select(col(idCol), col(vecCol)), Some(codec)))

  private def copy(
      lists: DataFrame = lists,
      params: IndexParams = params,
      listSizes: Option[Array[Long]] = listSizes,
      indexedThrough: Long = indexedThrough): IvfIndex =
    make(lists, rawDocs, params, listSizes, Some(vectors), indexedThrough)

  /** Index rows the LAST search's list scan read (-1 before any search):
    * the indexer's probe-cost feedback (IncrementalIndexer.rowCalibration).
    */
  @volatile private var scannedRows = -1L
  def lastScannedRows: Long = scannedRows

  /** Same index, fresher per-list stats. */
  def withListSizes(s: Option[Array[Long]]): IvfIndex = copy(listSizes = s)

  /** Same index, serving the store rows of version ≤ `v`. */
  private[graft] def through(v: Long): IvfIndex = copy(indexedThrough = v)

  /** Same index and store, the frame path reading `l` as its lists. */
  private[graft] def withLists(l: DataFrame): IvfIndex = copy(lists = l)

  /** Same quantizers over a table: `lists` for the frame path, `docs` and
    * its `store` for everything else.
    */
  private[graft] def onTable(lists: DataFrame, docs: DataFrame, store: VectorStore): IvfIndex =
    make(lists, docs, params, None, Some(store), Long.MaxValue)

  override def withParams(p: IndexParams): AnnIndex = copy(params = p)

  /** Same quantizers over the rows of `ids` removed: from `lists` and from
    * `rawDocs`, so the copy reads its own store over the remaining rows.
    */
  override def excluding(ids: DataFrame): AnnIndex = {
    val gone = ids.toDF(idCol)
    make(lists.join(gone, Seq(idCol), "left_anti"), rawDocs.join(gone, Seq(idCol), "left_anti"),
      params, listSizes, None, indexedThrough)
  }

  private val keyType = lists.schema(idCol).dataType
  IvfIndex.requireTypes(retrievalType, keyType, rawDocs.schema(vecCol).dataType)
  require(rawDocs.schema(idCol).dataType == keyType,
    s"$retrievalType store ids are ${rawDocs.schema(idCol).dataType.simpleString}, " +
      s"list ids ${keyType.simpleString}")

  /** Candidates are re-ranked exactly: IVFPQ with `hasRank`. */
  private def reranks: Boolean = codec.m > 0 && params.hasRank

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
    * the allowed set is only a frame, and the search scans `lists`.
    */
  private[graft] def scansStore(allowed: Option[AllowedKeys]): Boolean =
    allowed.forall(a => a.keyType == keyType && a.packed.isDefined)

  /** The IVF search, merged on the driver with no shuffle, the shape of
    * Spark's `TakeOrderedAndProject` (the reference's per-thread heaps
    * merged once, gamma_index_ivfpq.cc:570-593, then the `recall_num`
    * re-rank, :642-697). Served from the store ([[scansStore]]), one Spark
    * job over its blocks, in which each task
    *  - scans the probed lists' index rows, testing the allowed keys
    *    (broadcast) on each row, into a heap per query: IVFPQ by ADC,
    *    max(recall_num, k) candidates; IVFFLAT, BINARYIVF (and IVFPQ without
    *    `hasRank`) k, in range;
    *  - with the re-rank, scores each distinct (qid, key) it kept exactly
    *    from the key's rows in the block, against every position of the qid;
    *  - returns its heaps, those exact scores and its scanned-row count.
    * The driver merges task results as they arrive into the global top per
    * qid, keeping the exact scores of the pairs it admits; with the
    * re-rank, each copy of a pair in that set then offers its exact
    * scores, in range, to a top k per qid. Keys are unique among a table's
    * live rows; a standalone index whose `rawDocs` repeat a key across
    * blocks re-ranks only the rows in the blocks that kept it.
    *
    * An allowed set held only as a frame is semi-joined into the probed
    * `lists` instead and scanned by the same kernel in one job (IVFPQ
    * re-ranks in a second, over the store). A batch over
    * [[IvfIndex.MaxBroadcastCandidates]] candidates runs once per
    * [[IvfIndex.qidChunks]] chunk.
    */
  private[graft] def searchHits(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      allowed: Option[AllowedKeys],
      minScore: Option[Double],
      maxScore: Option[Double]): LocalHits = {
    val nCand = if (reranks) math.max(params.recallNum, k) else k
    val fromStore = scansStore(allowed)
    val keySet =
      if (fromStore) allowed.flatMap(_.keySet).map(spark.sparkContext.broadcast(_)) else None
    val range = (minScore, maxScore)
    try {
      val chunks = IvfIndex.qidChunks(queries, nCand, IvfIndex.MaxBroadcastCandidates).map { qs =>
        if (fromStore) storeChunk(qs, k, nprobe, nCand, keySet, range)
        else frameChunk(qs, k, nprobe, nCand, allowed.get.frame, range)
      }
      scannedRows = chunks.map(_._2).sum
      chunks.map(_._1).reduce(_ ++ _)
    } finally keySet.foreach(_.destroy())
  }

  /** One chunk's probe plan: the list scan of its queries (their probed
    * centroids in the code space, heaps per distinct qid) and the probed
    * centroids.
    */
  private def probePlan(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      heapSize: Int,
      range: (Option[Double], Option[Double])): (ListScan, Array[Long], Seq[Int]) = {
    val np = math.min(nprobe.getOrElse(params.nprobe), centers.length)
    val sizes = if (Ivf.adaptiveEnabled(spark)) listSizes else None
    val target = Ivf.probeTarget(k, params.recallNum, np, params.nprobe)
    // probes + ADC happen in the (possibly OPQ-rotated) code space; exact
    // scores stay in the original space, so rotation never touches them
    val qProbes = queries.zipWithIndex.map { case ((_, qv0), pos) =>
      val qv = rotation.map(Opq.rotate(_, qv0)).getOrElse(qv0)
      (pos, qv,
        Ivf.extendByTarget(
          Ivf.rankedCentroids(centers, qv, params.metric), sizes, np, target).toArray)
    }
    // broadcast only the queries by centroid (the quantizers are the
    // codec's); an IVFPQ task builds each (query, centroid) LUT lazily
    // WHERE THE CODES LIVE, one centroid at a time — the reference's
    // per-query sim_table precompute inside the scan
    // (gamma_index_ivfpq.h:561-601)
    val byCentroid: Map[Int, Array[(Int, Array[Float])]] = qProbes
      .flatMap { case (pos, qv, ps) => ps.map(c => (c, (pos, qv))) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toArray }
    // one heap per distinct qid, as the per-qid top-k the heaps stand for
    val qids = queries.map(_._1).distinct.sorted.toArray
    val group = qids.zipWithIndex.toMap
    val scan = new ListScan(
      spark.sparkContext.broadcast(byCentroid), codec,
      queries.map(q => group(q._1)).toArray, qids.length, heapSize, keyType, params.metric,
      // the scan's value is the returned score only without the re-rank
      if (reranks) (None, None) else range)
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
    require(store.codec.exists(_ eq codec), "the IVF store must hold this index's lists")
    val (scan, qids, _) = probePlan(queries, k, nprobe, heapSize, range)
    val rank = reranks
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
          if (IvfIndex.inRange(s, range)) out.offer(g, s, id)
        }
      }
    }
    (LocalHits.fromHeaps(out, qids, keyType), scanned)
  }

  /** One chunk whose allowed set is only a frame: the probed lists of
    * `lists` semi-joined with `allowedIds` and scanned with per-task heaps
    * in one job, then, with the re-rank, the exact scores of the merged
    * candidates looked up in the store in a second; (hits, rows scanned).
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
    val in = lists.filter(col("centroid_id").isin(probed: _*))
      .join(allowedIds.toDF(idCol), Seq(idCol), "left_semi")
      .select(col("centroid_id"), col(idCol), col(if (codec.m > 0) "pq_codes" else vecCol))
      .sortWithinPartitions(col("centroid_id"))
    val stage1 = scan.heaps()
    var scanned = 0L
    val idType = keyType // the task closure must not capture the index
    // one SQL execution, so listeners see the plan the job runs
    try SQLExecution.withNewExecutionId(in.queryExecution, Some("collect")) {
        in.queryExecution.toRdd.mapPartitions { rows =>
          val task = scan.task()
          rows.foreach(r => task.add(r.getInt(0), r.get(1, idType), r))
          Iterator((task.heaps.packed, task.scanned))
        }.collect()
      }.foreach { case (h, n) => stage1.addPacked(h); scanned += n }
    finally scan.destroyRequest()
    if (!reranks) return (LocalHits.fromHeaps(stage1, qids, keyType), scanned)

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
}

object IvfIndex {

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

  /** Ids Long, Int or String and vectors float or double arrays, binary
    * codes for BINARYIVF: the types the driver merge holds by value and the
    * [[VectorStore]] serves.
    */
  private[index] def requireTypes(model: String, idType: DataType, vecType: DataType): Unit = {
    val binary = model == "BINARYIVF"
    require(AllowedKeys.KeyTypes(idType) && VectorStore.isVectorType(vecType) &&
        (vecType == BinaryType) == binary,
      s"$model needs Long, Int or String ids over " +
        (if (binary) "binary codes " else "float or double vectors ") +
        s"(got ${idType.simpleString} ids over ${vecType.simpleString})")
  }

  /** Spark SQL's `score >= minScore AND score <= maxScore` (-0.0 equals
    * 0.0, NaN is the largest value).
    */
  private[index] def inRange(s: Double, range: (Option[Double], Option[Double])): Boolean =
    range._1.forall(lo => SpecializedRowOrdering.cmpD(s, lo) >= 0) &&
      range._2.forall(hi => SpecializedRowOrdering.cmpD(s, hi) <= 0)
}

/** An IVF index's trained quantizers, broadcast once: the coarse centers
  * (in the code space), for IVFPQ the PQ codebooks and OPQ rotation, and
  * the quantizer metric (Hamming for BINARYIVF). Scan tasks build LUTs
  * from it, and it assigns rows to lists (the IVFPQ encode pass, the
  * [[VectorStore]]). `m` is 0 without codebooks (IVFFLAT, BINARYIVF);
  * `ksub` is the largest codebook (the LUT stride).
  */
private[graft] final class IvfCodec private (
    val quantizers: Broadcast[
      (Array[Array[Double]], Array[Array[Array[Double]]], Option[Array[Array[Double]]])],
    metric: Metric.Value,
    val ncent: Int,
    val m: Int,
    val ksub: Int) extends Serializable {

  /** `v`'s (centroid, PQ codes): the centroid by [[Ivf.bestCenter]], the
    * function the lists were built with, and the codes by
    * [[IvfPqIndex.encodeRow]] (none without codebooks).
    */
  def encode(v: Array[Float]): (Int, Array[Int]) = {
    val (cs, cbs, rot) = quantizers.value
    if (m == 0) (Ivf.bestCenter(metric, cs, v), Array.emptyIntArray)
    else IvfPqIndex.encodeRow(v, cs, cbs, rot, metric)
  }
}

private[graft] object IvfCodec {
  def apply(
      spark: SparkSession,
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      rotation: Option[Array[Array[Double]]],
      metric: Metric.Value): IvfCodec = {
    val ksub = if (codebooks.isEmpty) 0 else codebooks.map(_.length).max
    // the store holds each code in 16 bits
    require(ksub <= (1 << 16), s"IVFPQ codebooks hold at most 2^16 entries (nbits <= 16), got $ksub")
    new IvfCodec(spark.sparkContext.broadcast((centers, codebooks, rotation)), metric,
      centers.length, codebooks.length, ksub)
  }
}

/** List scan kernel of one request. A task scores the index rows of its
  * probed lists against every query probing their centroid, keeps
  * `heapSize` candidates per query group and counts the rows it scanned.
  * A row's score is the ADC sum of its PQ codes, through LUTs built where
  * the codes live and cached for one centroid at a time, when the codec
  * has codebooks, and otherwise the exact score of its raw vector or
  * binary code ([[VectorStore.score]]).
  */
private[index] final class ListScan(
    byCentroid: Broadcast[Map[Int, Array[(Int, Array[Float])]]], // centroid -> (query position, code-space vector)
    codec: IvfCodec,
    val groupOf: Array[Int], // query position -> heap group
    groups: Int,
    heapSize: Int,
    idType: DataType,
    metric: Metric.Value,
    range: (Option[Double], Option[Double])) extends Serializable {

  def heaps(): QueryHeaps = new QueryHeaps(groups, heapSize, idType, Metric.ascending(metric))

  def task(): Task = new Task

  /** Frees the request's own broadcast (the quantizers are the index's). */
  def destroyRequest(): Unit = byCentroid.destroy()

  final class Task {
    val heaps: QueryHeaps = ListScan.this.heaps()
    /** Index rows read (once per row, not per query). */
    var scanned = 0L
    private val probes = byCentroid.value
    private val (cs, cbs, _) = codec.quantizers.value
    private val (pq, m, ksub) = (codec.m > 0, codec.m, codec.ksub)
    private val ip = metric == Metric.InnerProduct
    private val binary = metric == Metric.Hamming
    private val luts = mutable.HashMap.empty[Int, Array[Double]]
    private var curCid = Integer.MIN_VALUE

    private def lut(cid: Int, pos: Int, qv: Array[Float]): Array[Double] = {
      if (cid != curCid) { luts.clear(); curCid = cid }
      luts.getOrElseUpdate(pos, IvfPqIndex.lutFor(qv, cs(cid), cbs, ksub, ip))
    }

    @inline private def offer(pos: Int, s: Double, id: Any): Unit =
      if (IvfIndex.inRange(s, range)) heaps.offer(groupOf(pos), s, id)

    /** One row of a probed list as a lists frame holds it: `id` is its
      * key's Catalyst value and field 2 of `r` its PQ codes, or, without
      * codebooks, its binary code (Hamming) or float vector (IVFFLAT lists
      * are built from float vectors, [[Ivf.assignWithCenters]]); rows
      * arrive sorted by centroid.
      */
    def add(cid: Int, id: Any, r: InternalRow): Unit = {
      scanned += 1
      val qs = probes.getOrElse(cid, null)
      if (qs != null) {
        val v = if (pq) r.getArray(2) else null
        val bs = if (binary) r.getBinary(2) else null
        val fs = if (pq || binary) null else r.getArray(2).toFloatArray()
        val len = if (binary) bs.length else if (pq) 0 else fs.length
        var i = 0
        while (i < qs.length) {
          val (pos, qv) = qs(i)
          if (pq) {
            val t = lut(cid, pos, qv)
            var j = 0; var s = 0.0
            while (j < m) { s += t(j * ksub + v.getInt(j)); j += 1 }
            offer(pos, s, id)
          } else offer(pos, VectorStore.score(fs, null, bs, 0, len, qv, metric), id)
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
              val s = if (pq) block.adc(p, lut(cid, pos, qv), ksub) else block.score(row, qv, metric)
              offer(pos, s, id)
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
        positions(g).foreach { p => exact += block.score(row, queries(p), metric); n += 1 }
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

private[graft] object ExactRerank {

  /** One job over the store's blocks: scores each candidate key's stored
    * rows against the query positions it maps to ([[VectorStore.score]]),
    * keeps the k best in-range scores per qid in each task, and merges the
    * task heaps on the driver. Rows come back per qid in the (score, id)
    * order of the `topk_rows` heap.
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
    val groupOf = queries.map(q => group(q._1)).toArray
    val qvecs = store.sparkContext.broadcast(queries.map(_._2).toArray)
    val (groups, keyType, asc) = (qids.length, store.keyType, Metric.ascending(metric))
    val merged = new QueryHeaps(groups, k, keyType, asc)
    try store.lookup(cand) { (block, keys) =>
        val (heaps, qs) = (new QueryHeaps(groups, k, keyType, asc), qvecs.value)
        keys.foreach { case (id, ps) =>
          block.rowsOf(id).foreach { row =>
            ps.foreach { p =>
              val s = block.score(row, qs(p), metric)
              if (IvfIndex.inRange(s, range)) heaps.offer(groupOf(p), s, id)
            }
          }
        }
        heaps.packed
      }.foreach(merged.addPacked)
    finally qvecs.destroy()
    LocalHits.fromHeaps(merged, qids, keyType)
  }

  /** The exact fallback over a small allowed set, in one Spark job per
    * chunk ([[IvfIndex.qidChunks]] of nq x k rows) and no shuffle: every
    * allowed key maps to every query position and is looked up in `store`
    * (the live table's). Equals `Knn.flatSearch` over the semi-joined rows
    * cut to k per qid (same heaps, same arithmetic, score range applied
    * before the heap).
    *
    * None unless the allowed keys are on the driver and match the store's
    * key type (Long, Int or String) and the vectors are float or double
    * arrays; the caller then runs the lazy plan.
    */
  private[graft] def allowedOnly(
      store: VectorStore,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      metric: Metric.Value,
      allowed: AllowedKeys,
      range: (Option[Double], Option[Double])): Option[LocalHits] =
    if (!store.serves || allowed.keyType != store.keyType) None
    else allowed.keys.map { keys =>
      val distinct = keys.distinct
      IvfIndex.qidChunks(queries, k, IvfIndex.MaxBroadcastCandidates).map { qs =>
        val all = qs.indices.toArray
        hits(store, distinct.map(_ -> all), qs, k, metric, range)
      }.reduce(_ ++ _)
    }
}
