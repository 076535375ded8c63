package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.core.Metric

/** BINARYIVF (reference V6, index/impl/gamma_index_binary_ivf.cc:57-487):
  * inverted lists over packed binary codes with Hamming distance — a PEER
  * of IVFFLAT and IVFPQ, registered and served like them (the reference
  * registers it through the same model reflector,
  * gamma_index_binary_ivf.cc:57).
  *
  * The coarse quantizer is a TRAINED binary k-means ([[BinaryIvfIndex
  * .trainCoarse]]): Lloyd iterations where assignment is by Hamming and
  * each centroid bit is the MAJORITY vote of its members' bits (the
  * classic k-majority scheme faiss uses for binary clustering — per-bit
  * majority minimizes the summed Hamming distance of a cluster). Docs go
  * to their nearest-centroid list. Served like IVFFLAT ([[IvfIndex]]):
  * the store blocks hold each row's packed code next to its centroid
  * (assigned by [[Ivf.quantizerDist]]'s Hamming, the function the lists
  * were built with), and one Spark job scans the probed lists, scoring
  * each code in place with the `hamming` kernel's arithmetic
  * ([[VectorStore.score]]) into k per query.
  *
  * Float-surface adapter: the engine's request surface carries
  * `Array[Float]` query vectors (core.VecQuery), while binary fields
  * store packed bytes. A binary query rides the float surface as ONE BYTE
  * VALUE (0..255) PER FLOAT ([[BinaryIvfIndex.bytesToFloats]]), and so do
  * the centroids the quantizer holds.
  */
class BinaryIvfIndex(
    spark: SparkSession,
    data: DataFrame, // idCol, codeCol, centroid_id (+ passenger cols)
    rawDocs: DataFrame, // idCol, codeCol, ... — the store's rows
    idCol: String,
    codeCol: String,
    val centroids: Array[Array[Byte]],
    params: IndexParams,
    listSizes: Option[Array[Long]] = None,
    sharedCodec: Option[IvfCodec] = None,
    store: Option[VectorStore] = None,
    indexedThrough: Long = Long.MaxValue)
    extends IvfIndex(spark, data, rawDocs, idCol, codeCol,
      centroids.map(_.map(b => (b & 0xff).toDouble)), Array.empty, None,
      params, listSizes, sharedCodec, store, indexedThrough) {

  override def retrievalType: String = "BINARYIVF"

  protected def make(
      lists: DataFrame, rawDocs: DataFrame, params: IndexParams, listSizes: Option[Array[Long]],
      store: Option[VectorStore], indexedThrough: Long): IvfIndex =
    new BinaryIvfIndex(spark, lists, rawDocs, idCol, vecCol, centroids, params, listSizes,
      Some(codec), store, indexedThrough)

  /** [[search]] over byte queries. */
  def searchBytes(queries: Seq[(Long, Array[Byte])], k: Int, nprobe: Option[Int] = None): DataFrame =
    search(queries.map { case (q, b) => (q, BinaryIvfIndex.bytesToFloats(b)) }, k, nprobe, None, None, None)
}

object BinaryIvfIndex {

  private[index] def hammingOf(a: Array[Byte], b: Array[Byte]): Int = {
    var s = 0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += Integer.bitCount((a(i) ^ b(i)) & 0xff); i += 1 }
    s
  }

  /** Float-surface packing: one byte value (0..255) per float. */
  def floatsToBytes(v: Array[Float]): Array[Byte] = v.map(f => f.toInt.toByte)
  def bytesToFloats(b: Array[Byte]): Array[Float] = b.map(x => (x & 0xff).toFloat)

  private def splitmix(x0: Long): Long = Mix.splitmix64(x0)

  /** Trained binary coarse quantizer — k-majority Lloyd on a bounded
    * driver-side sample (the reference trains its binary IVF quantizer,
    * gamma_index_binary_ivf.cc:57-487; sample clamps mirror
    * [[Ivf.trainCoarse]]). Deterministic given (sample order, seed):
    * init picks k spread codes from a seed-shuffled sample; each round
    * assigns by Hamming (lowest-index tie break) and recomputes every
    * centroid bit as the members' majority (exact ties keep the previous
    * bit); an emptied cluster steals the farthest member of the largest
    * one (faiss-style split).
    */
  def trainCoarse(
      docs: DataFrame, codeCol: String, ncentroids: Int,
      sampleRows: Int, seed: Long): Array[Array[Byte]] = {
    val cap = math.max(39 * ncentroids, math.min(sampleRows, 256 * ncentroids))
    val sample = docs.select(col(codeCol)).limit(cap)
      .collect().map(_.getAs[Array[Byte]](0))
    require(sample.nonEmpty, "no rows to train the binary quantizer on")
    val k = math.min(ncentroids, sample.length)
    val nbytes = sample.map(_.length).max
    val order = sample.indices.sortBy(i => splitmix(seed + i)).toArray
    val centers = Array.tabulate(k)(i =>
      java.util.Arrays.copyOf(sample(order((i.toLong * sample.length / k).toInt)), nbytes))
    val assign = new Array[Int](sample.length)
    var iter = 0; var moved = true
    while (iter < 10 && moved) {
      var i = 0
      while (i < sample.length) {
        var best = 0; var bestD = Int.MaxValue; var c = 0
        while (c < k) {
          val d = hammingOf(centers(c), sample(i))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      // per-bit majority per cluster
      val counts = Array.ofDim[Int](k, nbytes * 8)
      val members = new Array[Int](k)
      i = 0
      while (i < sample.length) {
        val c = assign(i); members(c) += 1
        val code = sample(i)
        var b = 0
        while (b < code.length) {
          val v = code(b) & 0xff
          var bit = 0
          while (bit < 8) {
            if (((v >> bit) & 1) == 1) counts(c)(b * 8 + bit) += 1
            bit += 1
          }
          b += 1
        }
        i += 1
      }
      moved = false
      var c = 0
      while (c < k) {
        if (members(c) == 0) {
          // steal the farthest member of the largest cluster — and MOVE it
          // (update assign/members), so a second cluster emptied in the
          // same round picks a different donor/member instead of
          // duplicating this centroid
          val big = members.indexOf(members.max)
          var far = -1; var farD = -1
          var j = 0
          while (j < sample.length) {
            if (assign(j) == big) {
              val d = hammingOf(centers(big), sample(j))
              if (d > farD) { farD = d; far = j }
            }
            j += 1
          }
          if (far >= 0 && members(big) > 1) {
            centers(c) = java.util.Arrays.copyOf(sample(far), nbytes)
            assign(far) = c
            members(big) -= 1
            members(c) += 1
            moved = true
          }
        } else {
          var b = 0
          while (b < nbytes) {
            var nv = 0
            var bit = 0
            while (bit < 8) {
              val ones = counts(c)(b * 8 + bit)
              val set =
                if (2 * ones > members(c)) 1
                else if (2 * ones < members(c)) 0
                else (centers(c)(b) >> bit) & 1 // exact tie: keep previous
              nv |= set << bit
              bit += 1
            }
            if (centers(c)(b) != nv.toByte) { centers(c)(b) = nv.toByte; moved = true }
            b += 1
          }
        }
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** Nearest-centroid Hamming assignment against FIXED centroids,
    * preserving passenger columns (the incremental indexer's version
    * stamps ride through, like [[Ivf.assignWithCenters]]).
    */
  def assignWithCenters(
      df: DataFrame, codeCol: String, centers: Array[Array[Byte]]): DataFrame = {
    val schema = df.schema.add("centroid_id", IntegerType)
    val bc = df.sparkSession.sparkContext.broadcast(centers)
    val ci = df.schema.fieldIndex(codeCol)
    df.mapPartitions { rows =>
      val cs = bc.value
      rows.map { r =>
        val code = r.getAs[Array[Byte]](ci)
        var best = 0; var bestD = Int.MaxValue; var c = 0
        while (c < cs.length) {
          val d = hammingOf(cs(c), code)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        Row.fromSeq(r.toSeq :+ best)
      }
    }(Encoders.row(schema))
  }

  /** Binary-centroid persistence (the byte-code analog of
    * [[Ivf.saveCenters]]).
    */
  def saveCenters(
      spark: SparkSession, path: String, centers: Array[Array[Byte]]): Unit = {
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("centroid_id", "code")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadCenters(spark: SparkSession, path: String): Array[Array[Byte]] = {
    // explicit schema: footer inference costs a Spark job per load
    import org.apache.spark.sql.types._
    val s = StructType(Seq(StructField("centroid_id", IntegerType),
      StructField("code", BinaryType)))
    // driver-side sort: orderBy on the k-row frame costs an AQE shuffle job
    spark.read.schema(s).parquet(path)
      .collect().sortBy(_.getInt(0)).map(_.getAs[Array[Byte]](1))
  }

  /** Build: train the k-majority quantizer, then one assignment pass. */
  def build(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      codeCol: String,
      params: IndexParams): BinaryIvfIndex = {
    // explicit ncentroids skips the full-table count (auto sizing only)
    val k =
      if (params.ncentroids > 0) params.ncentroids
      else Ivf.autoNcentroids(docs.count(), -1)
    val centroids =
      trainCoarse(docs, codeCol, k, params.trainSampleRows, params.seed)
    val assigned =
      assignWithCenters(docs.select(col(idCol), col(codeCol)), codeCol, centroids)
        .localCheckpoint(true)
    // a standalone index's store holds its lists' own (key, code) rows
    new BinaryIvfIndex(spark, assigned, assigned.select(col(idCol), col(codeCol)), idCol,
      codeCol, centroids, params.copy(metric = Metric.Hamming))
  }
}
