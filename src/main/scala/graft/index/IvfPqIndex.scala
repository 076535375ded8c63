package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Metric

/** IVFPQ (reference V2, index/impl/gamma_index_ivfpq.cc): coarse quantize,
  * product-quantize the residuals, scan probed lists with the ADC LUT, then
  * exact re-rank of the top `recall_num` candidates from raw vectors
  * (reference two-stage rank, gamma_index_ivfpq.cc:642-697).
  *
  * Faithful to faiss conventions the reference relies on: residual encoding
  * (x - coarse_centroid), per-subspace k-means codebooks of 2^nbits entries,
  * asymmetric distance = Σ_j ||r_j - cb_j[code_j]||².
  *
  * Serving ([[IvfIndex]]): like gamma, which keeps each doc's codes and
  * raw vector in memory and ranks in two stages inside one pass, the
  * table's store blocks hold each row's PQ codes next to its vector, and
  * one Spark job scans the probed lists with the ADC LUT (nprobe x m x
  * ksub doubles per query, built scan-side from the quantizers broadcast
  * once for every copy of the index) and re-ranks each block's candidates
  * exactly from the same block.
  */
class IvfPqIndex(
    spark: SparkSession,
    codes: DataFrame, // idCol, centroid_id, pq_codes array<int>
    rawDocs: DataFrame, // idCol, vecCol, ... — the store's rows (UNrotated)
    idCol: String,
    vecCol: String,
    centers: Array[Array[Double]], // in rotated space when OPQ is on
    codebooks: Array[Array[Array[Double]]], // [m][ksub][dsub]
    params: IndexParams,
    rotation: Option[Array[Array[Double]]] = None,
    listSizes: Option[Array[Long]] = None,
    sharedCodec: Option[IvfCodec] = None,
    store: Option[VectorStore] = None,
    indexedThrough: Long = Long.MaxValue)
    extends IvfIndex(spark, codes, rawDocs, idCol, vecCol, centers, codebooks, rotation, params,
      listSizes, sharedCodec, store, indexedThrough) {

  override def retrievalType: String = "IVFPQ"

  // The ADC LUT is exact for L2 and InnerProduct; the reference's kernels
  // implement exactly those two (index/retrieval_model.h:20 declares Cosine
  // but e.g. gamma_index_ivfpq.cc:744-750 dispatches IP|L2 only). Cosine
  // callers normalize vectors upstream and use InnerProduct.
  require(params.metric == Metric.L2 || params.metric == Metric.InnerProduct,
    s"IVFPQ supports L2 and InnerProduct (got ${params.metric}); " +
      "normalize vectors and use InnerProduct for cosine")

  protected def make(
      lists: DataFrame, rawDocs: DataFrame, params: IndexParams, listSizes: Option[Array[Long]],
      store: Option[VectorStore], indexedThrough: Long): IvfIndex =
    new IvfPqIndex(spark, lists, rawDocs, idCol, vecCol, centers, codebooks, params, rotation,
      listSizes, Some(codec), store, indexedThrough)

  /** Encode a delta batch with the ALREADY-TRAINED quantizers — the
    * reference's incremental re-encode of new/updated vectors through the
    * existing index (R5/R6, vector/vector_manager.cc:355-380): rotate (if
    * OPQ), assign to the nearest coarse centroid, PQ-encode the residual.
    * One kernel pass, no retraining. `keepCols` are carried through
    * (e.g. a version stamp).
    */
  def encodeDelta(delta: DataFrame, keepCols: Seq[String] = Nil): DataFrame =
    IvfPqIndex.encodeAll(delta, idCol, vecCol, codec, keepCols)

  def save(path: String): Unit = {
    lists.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$path/codes")
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
    IvfIndex.requireTypes("IVFPQ", docs.schema(idCol).dataType, docs.schema(vecCol).dataType)
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
    val codec = IvfCodec(spark, centers, codebooks, rotation, params.metric)
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
      codec: IvfCodec,
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
