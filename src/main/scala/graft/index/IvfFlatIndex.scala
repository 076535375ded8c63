package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Knn

/** FLAT = exact brute force (reference index/impl/gamma_index_flat.cc) —
  * the trivial AnnIndex so the registry covers the brute-force override
  * path (V9).
  */
case class FlatIndex(
    spark: SparkSession,
    docs: DataFrame,
    idCol: String,
    vecCol: String,
    params: IndexParams) extends AnnIndex {
  override def retrievalType: String = "FLAT"

  override def search(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      allowedIds: Option[DataFrame],
      minScore: Option[Double],
      maxScore: Option[Double]): DataFrame = {
    import spark.implicits._
    val q = queries.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
    // no forced broadcast: the CALLER knows the allowed set's selectivity
    // and attaches a broadcast() hint when it is small (an unconditional
    // hint would defeat Spark's size guard for weakly selective filters)
    val base = allowedIds match {
      case Some(ids) => docs.join(ids.toDF(idCol), Seq(idCol), "left_semi")
      case None      => docs
    }
    Knn.flatSearch(base, idCol, vecCol, q, "qid", "qvec", k, params.metric,
      minScore = minScore, maxScore = maxScore)
  }

  override def excluding(ids: DataFrame): AnnIndex =
    copy(docs = docs.join(ids.toDF(idCol), Seq(idCol), "left_anti"))

  override def withParams(p: IndexParams): AnnIndex = copy(params = p)
}

/** Shared coarse-quantizer machinery for the IVF family — the Spark
  * re-expression of the reference's faiss coarse k-means + inverted lists
  * (reference index/impl/gamma_index_ivfflat.cc:380-470,
  * gamma_index_ivfpq.cc:272-330).
  *
  * Scale design: the index "inverted lists" are a DataFrame keyed by
  * `centroid_id`. Persisted with `partitionBy(centroid_id)`, a query that
  * probes `nprobe` of `ncentroids` lists prunes the parquet scan to
  * nprobe/ncentroids of the data (T4 — the reference's probe pruning).
  * Centroids are tiny (ncentroids x dim) and live driver-side, exactly like
  * the reference keeps the coarse quantizer in memory.
  */
object Ivf {

  /** Auto centroid count: ~sqrt(n), clamped — mirrors the reference's
    * sample clamp spirit (39*nlist..256*nlist, retrieval_model.h:303).
    */
  def autoNcentroids(n: Long, requested: Int): Int =
    if (requested > 0) requested
    else math.max(4, math.min(2048, math.sqrt(n.toDouble).toInt))

  /** Train coarse centroids on a bounded sample, clamped to 256 points per
    * centroid like the reference's faiss training
    * (gamma_index_ivfpq.cc:280-296 clamps to [39·nlist, 256·nlist]) —
    * training on more buys no list quality and multiplies k-means cost.
    * One collect job + driver-side Lloyd ([[LocalKMeans]]); the cluster
    * only ever runs assignment/encoding, mirroring faiss.
    */
  def trainCoarse(
      docs: DataFrame, vecCol: String, ncentroids: Int,
      sampleRows: Int, seed: Long): Array[Array[Double]] = {
    // at most 256 points per centroid; if the caller's sample budget is
    // smaller than the 39/centroid floor, the floor wins (when the data
    // has that many rows at all — limit() just takes what exists)
    val cap = math.max(39 * ncentroids, math.min(sampleRows, 256 * ncentroids))
    val sample = LocalKMeans.sampleVecs(docs, vecCol, cap)
    // the coarse quantizer only partitions the space (list ASSIGNMENT is
    // exact, list quality is recovered by nprobe), so convergence beyond
    // ~12 iterations buys no recall — the reference's faiss training makes
    // the same tradeoff via bounded sample clamps (retrieval_model.h:303)
    LocalKMeans.fit(sample, ncentroids, maxIter = 12, seed = seed, tol = 1e-3)
  }

  /** Quantizer distance (smaller = better) of one vector to one center
    * under the index metric — the ONE coarse metric shared by add-time
    * list assignment ([[assign]]/[[assignWithCenters]]/PQ encode) and
    * query-time probe ranking ([[rankedCentroids]]), the way faiss gives an IVF
    * index a single quantizer with a single metric. Mixing L2 assignment
    * with IP probe ranking can systematically rank the list that actually
    * holds the best doc low at partial nprobe. Hamming (BINARYIVF) reads
    * both as byte values and counts the differing bits over the shorter
    * length, as [[BinaryIvfIndex.trainCoarse]] and
    * [[BinaryIvfIndex.assignWithCenters]] do.
    */
  def quantizerDist(
      metric: graft.core.Metric.Value, c: Array[Double], v: Array[Float]): Double = {
    import graft.core.Metric
    val n = math.min(c.length, v.length)
    metric match {
      case Metric.InnerProduct =>
        var s = 0.0; var i = 0
        while (i < n) { s += c(i) * v(i); i += 1 }
        -s
      case Metric.Cosine =>
        var s = 0.0; var nc = 0.0; var nv = 0.0; var i = 0
        while (i < n) {
          s += c(i) * v(i); nc += c(i) * c(i); nv += v(i).toDouble * v(i); i += 1
        }
        if (nc == 0 || nv == 0) 0.0 else -(s / (math.sqrt(nc) * math.sqrt(nv)))
      case Metric.Hamming =>
        var s = 0; var i = 0
        while (i < n) { s += Integer.bitCount((c(i).toInt ^ v(i).toInt) & 0xff); i += 1 }
        s
      case _ =>
        var s = 0.0; var i = 0
        while (i < n) { val t = c(i) - v(i); s += t * t; i += 1 }
        s
    }
  }

  /** Best center for `v` under the quantizer metric (strict-< tie break,
    * same as MLlib predict).
    */
  def bestCenter(
      metric: graft.core.Metric.Value,
      cs: Array[Array[Double]], v: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val d = quantizerDist(metric, cs(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Nearest-centroid assignment against FIXED driver-side centroids (no
    * model object) — used by incremental index appends, where the reference
    * likewise feeds new vectors to the already-trained quantizer without
    * retraining (gamma_engine.cc:996-1043).
    */
  def assignWithCenters(
      df: DataFrame, vecCol: String, centers: Array[Array[Double]],
      metric: graft.core.Metric.Value = graft.core.Metric.L2): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val schema = df.schema.add("centroid_id", org.apache.spark.sql.types.IntegerType)
    val bc = df.sparkSession.sparkContext.broadcast(centers)
    val vecIdx = df.schema.fieldIndex(vecCol)
    df.mapPartitions { rows =>
      val cs = bc.value
      rows.map { r =>
        val v = r.getSeq[Float](vecIdx).toArray
        Row.fromSeq(r.toSeq :+ bestCenter(metric, cs, v))
      }
    }(Encoders.row(schema))
  }

  /** Shared centroid persistence — ONE layout for every IVF-family index
    * and the incremental indexer (a drifting copy would make persisted
    * indexes mutually unreadable).
    */
  def saveCenters(
      spark: SparkSession, path: String, centers: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "center")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadCenters(spark: SparkSession, path: String): Array[Array[Double]] = {
    // explicit schema: footer inference costs a Spark job per load
    import org.apache.spark.sql.types._
    val s = StructType(Seq(StructField("centroid_id", IntegerType),
      StructField("center", ArrayType(DoubleType))))
    // driver-side sort: orderBy on the k-row frame costs an AQE shuffle job
    spark.read.schema(s).parquet(path)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
  }

  /** ALL centroids ranked nearest-first under the quantizer metric (the
    * reference's coarse quantizer search runs under the index's own
    * metric, gamma_index_ivfpq.cc:547-561), strict-(dist, id) tie break.
    */
  def rankedCentroids(
      centers: Array[Array[Double]],
      q: Array[Float],
      metric: graft.core.Metric.Value = graft.core.Metric.L2): IndexedSeq[Int] = {
    val d = centers.map(quantizerDist(metric, _, q))
    d.zipWithIndex.sortBy { case (dist, i) => (dist, i) }.map(_._2).toIndexedSeq
  }

  /** Adaptive probe widening: probe AT LEAST `nprobe` nearest lists, then
    * keep probing nearest-first until the probed lists together hold
    * `targetRows` candidate rows (per-list sizes from the index's own
    * stats). A fixed nprobe over SKEWED lists can scan almost nothing —
    * the nearest lists may be nearly empty — and silently starve the
    * candidate heap; the reference instead keeps scanning until it has
    * collected `recall_num` candidates (the `nscan`/`recall_num` loop in
    * gamma_index_ivfpq.h:633-690), which this re-expresses as a probe-time
    * decision so the Spark scan still prunes partitions up front.
    *
    * `sizes = None` or `targetRows <= 0` is exactly the fixed-nprobe
    * behavior. Sizes may be a stale upper bound (deletes/exclusions only
    * shrink lists): the widening then under-probes toward the floor, never
    * below it — recall degrades toward the fixed-nprobe baseline, not
    * below it.
    */
  def extendByTarget(
      ranked: IndexedSeq[Int],
      sizes: Option[Array[Long]],
      nprobe: Int,
      targetRows: Long): Seq[Int] = sizes match {
    case Some(sz) if targetRows > 0L =>
      val out = Seq.newBuilder[Int]
      var cum = 0L
      var i = 0
      while (i < ranked.length && (i < nprobe || cum < targetRows)) {
        val c = ranked(i)
        out += c
        cum += (if (c >= 0 && c < sz.length) sz(c) else 0L)
        i += 1
      }
      out.result()
    case _ => ranked.take(nprobe).toSeq
  }

  /** Probe-volume target for one query: `max(k, recallNum)` scaled by the
    * caller's nprobe widening (a filtered search widens the floor by
    * inverse selectivity; the row target must widen with it, since only
    * ~selectivity of each probed list survives the filter).
    */
  def probeTarget(k: Int, recallNum: Int, effNprobe: Int, baseNprobe: Int): Long = {
    val widen = math.max(1L, effNprobe.toLong / math.max(baseNprobe, 1).toLong)
    math.max(k.toLong, recallNum.toLong) * widen
  }

  /** Whether adaptive probe widening is on (default: yes — it only ever
    * probes MORE than the fixed floor, bounded by ncentroids).
    */
  def adaptiveEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.ivf.adaptiveProbe").forall(_.toBoolean)
}

/** IVFFLAT (reference V3, index/impl/gamma_index_ivfflat.cc): coarse
  * quantize, then exact distances within the probed lists. Served like
  * IVFPQ ([[IvfIndex]]): the table's store blocks hold each row's
  * centroid next to its raw vector, and one Spark job scans the probed
  * lists, scoring each row exactly (the `l2_sq` / `inner_product` /
  * `cosine_sim` arithmetic, [[VectorStore.score]]) into k per query.
  */
class IvfFlatIndex(
    spark: SparkSession,
    data: DataFrame, // idCol, vecCol, centroid_id
    rawDocs: DataFrame, // idCol, vecCol, ... — the store's rows
    idCol: String,
    vecCol: String,
    centers: Array[Array[Double]],
    params: IndexParams,
    listSizes: Option[Array[Long]] = None,
    sharedCodec: Option[IvfCodec] = None,
    store: Option[VectorStore] = None,
    indexedThrough: Long = Long.MaxValue)
    extends IvfIndex(spark, data, rawDocs, idCol, vecCol, centers, Array.empty, None, params,
      listSizes, sharedCodec, store, indexedThrough) {

  override def retrievalType: String = "IVFFLAT"

  protected def make(
      lists: DataFrame, rawDocs: DataFrame, params: IndexParams, listSizes: Option[Array[Long]],
      store: Option[VectorStore], indexedThrough: Long): IvfIndex =
    new IvfFlatIndex(spark, lists, rawDocs, idCol, vecCol, centers, params, listSizes, Some(codec),
      store, indexedThrough)

  /** Persist inverted lists partitioned by centroid_id so probe filters
    * prune files (T4).
    */
  def save(path: String): Unit = {
    lists.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$path/lists")
    Ivf.saveCenters(spark, s"$path/centroids", centers)
  }
}

object IvfFlatIndex {
  def build(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      params: IndexParams): IvfFlatIndex = {
    // explicit ncentroids skips the full-table count (it only feeds auto
    // sizing — a wasted scan per build otherwise)
    val k =
      if (params.ncentroids > 0) params.ncentroids
      else Ivf.autoNcentroids(docs.count(), -1)
    val centers = Ivf.trainCoarse(docs, vecCol, k, params.trainSampleRows, params.seed)
    // materialize the assignment ONCE (like the PQ/BINARY/HNSW builders):
    // left lazy, every search re-ran the O(n·ncentroids·dim) nearest-
    // centroid pass over the whole table before its list filter could
    // prune anything
    val data = Ivf.assignWithCenters(
      docs.select(col(idCol), col(vecCol)), vecCol, centers, params.metric)
      .localCheckpoint(true)
    // a standalone index's store holds its lists' own (key, vector) rows
    new IvfFlatIndex(spark, data, data.select(col(idCol), col(vecCol)), idCol, vecCol, centers,
      params)
  }

  def load(spark: SparkSession, path: String, idCol: String, vecCol: String,
      params: IndexParams): IvfFlatIndex = {
    val data = spark.read.parquet(s"$path/lists")
    new IvfFlatIndex(spark, data, data.select(col(idCol), col(vecCol)), idCol, vecCol,
      Ivf.loadCenters(spark, s"$path/centroids"), params)
  }
}
