package graft.index

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Metric

/** A resident store over the (key, vector) rows of `docs`: the reference's
  * `MemoryRawVector` / `MmapRawVector` (vector/memory_raw_vector.h,
  * vector/mmap_raw_vector.h), from which the IVF scans, the IVFPQ re-rank
  * and the exact fallback read their rows by docid
  * (gamma_index_ivfflat.cc:380-470, gamma_index_ivfpq.cc:642-697) instead
  * of reading the table.
  *
  * With an [[IvfCodec]], the store also holds the IVF index over the
  * same rows, as gamma keeps each doc's list entry next to its raw vector:
  * every row's coarse centroid, assigned with the index's quantizers while
  * the block is built, the rows grouped by centroid, and for IVFPQ each
  * row's PQ codes. An IVF request then scans its probed lists (and IVFPQ
  * re-ranks its candidates) inside one task per block ([[foreach]]).
  *
  * Blocks are the partitions of `docs`'s scan, one [[VectorStore.Block]]
  * each (keys sorted, vectors packed), cached in Spark's block manager
  * (`persist(MEMORY_AND_DISK)`, lineage kept: a lost block is recomputed,
  * codes included, from the scan on its next read). The first job over
  * the store builds them inside that job, with no shuffle; every job runs
  * one task per block.
  *
  * `docs` holds (key, vector) columns and, optionally, a third Long column:
  * the row's version (the table's `_version`), which a scan compares with
  * the version its index is built through. Keys must be of a
  * [[AllowedKeys.KeyTypes]] type and vectors float or double arrays or
  * packed binary codes ([[serves]]); rows with a null key or vector are
  * not stored. A store
  * nothing [[release]]s is unpersisted by Spark's ContextCleaner once it
  * is unreachable.
  */
private[graft] final class VectorStore(docs: DataFrame, val codec: Option[IvfCodec] = None) {
  import VectorStore.Block

  val keyType: DataType = docs.schema.head.dataType

  def sparkContext: org.apache.spark.SparkContext = docs.sparkSession.sparkContext

  /** Whether the rows of `docs` can be stored and looked up. */
  val serves: Boolean =
    AllowedKeys.KeyTypes(keyType) && VectorStore.isVectorType(docs.schema(1).dataType)

  // both guarded by `this`; no job runs under the lock
  private var built: RDD[Block] = _
  private var released = false

  private def blocks: RDD[Block] = synchronized {
    if (built == null) {
      val (kt, vt, versioned, pq) = (keyType, docs.schema(1).dataType, docs.schema.length > 2, codec.orNull)
      built = docs.queryExecution.toRdd
        .mapPartitions(rows => Iterator(Block(rows, kt, vt, versioned, pq)))
        .setName(s"graft.VectorStore(${docs.columns.take(2).mkString(", ")})")
      // a store released before its first job still answers, uncached
      if (!released) built.persist(StorageLevel.MEMORY_AND_DISK)
    }
    built
  }

  /** Drops the cached blocks without waiting for a job in flight; a later
    * job recomputes what it reads, uncached.
    */
  def release(): Unit = {
    val rdd = synchronized { released = true; built }
    if (rdd != null) rdd.unpersist(blocking = false)
  }

  /** One Spark job, one task per block: each task computes `f` of its
    * block (never null), and the calling thread hands each result to
    * `each` as its task ends (in no fixed order), so the driver holds the
    * results `each` keeps plus those not yet handed over, not every
    * task's at once.
    */
  def foreach[R: ClassTag](f: Block => R)(each: R => Unit): Unit = {
    val rdd = blocks
    val done = new LinkedBlockingQueue[R]()
    try {
      val job = sparkContext.submitJob(rdd, (it: Iterator[Block]) => f(it.next()),
        rdd.partitions.indices, (_: Int, r: R) => done.put(r), ())
      try {
        var left = rdd.partitions.length
        while (left > 0) {
          val r = done.poll(50, TimeUnit.MILLISECONDS)
          if (r != null) { each(r); left -= 1 }
          // a failed job rethrows here; a finished one has queued every result
          else if (job.isCompleted) Await.result(job, Duration.Inf)
        }
      } catch { case e: Throwable => job.cancel(); throw e }
    }
    // blocks a task cached after a release() that ran during this job
    finally if (synchronized(released)) rdd.unpersist(blocking = false)
  }

  /** [[foreach]]'s results, in block order. */
  def run[R: ClassTag](f: Block => R): Seq[R] = {
    val out = mutable.ArrayBuffer.empty[(Int, R)]
    foreach((b: Block) => (TaskContext.getPartitionId(), f(b)))(out += _)
    out.sortBy(_._1).map(_._2).toSeq
  }

  /** [[run]] with `keys` (Catalyst values with a payload each, in `keys`
    * order) in one broadcast: each task gets its block and all of `keys`.
    * Empty `keys` run no job.
    */
  def lookup[P, R: ClassTag](keys: Iterable[(Any, P)])(
      f: (Block, Array[(Any, P)]) => R): Seq[R] = {
    if (keys.isEmpty) return Nil
    val all = sparkContext.broadcast(keys.toArray)
    try run(block => f(block, all.value))
    finally all.destroy()
  }
}

private[graft] object VectorStore {

  /** The vector column types a store holds: float or double arrays and
    * packed binary codes.
    */
  def isVectorType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) | BinaryType => true
    case _                                                 => false
  }

  /** The `len` elements from `from` of `floats` (or, null, `doubles`)
    * scored against `q` with the arithmetic of `l2_sq`, `inner_product` or
    * `cosine_sim`: doc element first, widened to double, summed in index
    * order over the shorter length. With `bytes`, the `len` bytes from
    * `from` of `bytes` against `q`'s byte values (one per float, the
    * float request surface of binary codes) by the `hamming` kernel's
    * arithmetic: the differing bits over the shorter length plus the set
    * bits of the longer one's extra bytes.
    */
  def score(
      floats: Array[Float], doubles: Array[Double], bytes: Array[Byte], from: Int, len: Int,
      q: Array[Float], metric: Metric.Value): Double = {
    if (bytes != null) {
      val n = math.min(len, q.length)
      var s = 0; var j = 0
      while (j < n) { s += Integer.bitCount((bytes(from + j) ^ q(j).toInt) & 0xff); j += 1 }
      while (j < len) { s += Integer.bitCount(bytes(from + j) & 0xff); j += 1 }
      while (j < q.length) { s += Integer.bitCount(q(j).toInt & 0xff); j += 1 }
      return s.toDouble
    }
    @inline def elem(j: Int): Double =
      if (floats != null) floats(from + j).toDouble else doubles(from + j)
    val n = math.min(len, q.length)
    var j = 0
    metric match {
      case Metric.L2 =>
        var s = 0.0
        while (j < n) { val d = elem(j) - q(j).toDouble; s += d * d; j += 1 }
        s
      case Metric.InnerProduct =>
        var s = 0.0
        while (j < n) { s += elem(j) * q(j).toDouble; j += 1 }
        s
      case Metric.Cosine =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        while (j < n) {
          val x = elem(j); val y = q(j).toDouble
          dot += x * y; na += x * x; nb += y * y; j += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  private val keyOrder: java.util.Comparator[AnyRef] =
    (a: AnyRef, b: AnyRef) => a.asInstanceOf[Comparable[AnyRef]].compareTo(b)

  /** One partition's rows: keys sorted (so a key's rows are adjacent and
    * found by binary search), row `i`'s vector at
    * `offsets(i) until offsets(i + 1)` of `floats` (float vectors),
    * `doubles` (double vectors) or `bytes` (binary codes), its version at
    * `versions(i)` (null: no versions, every row is an index row).
    *
    * With a codec, the index part: list `c`'s entries are positions
    * `lists(c) until lists(c + 1)`, entry `p` is row `listRows(p)` (rows in
    * key order within a list) and its PQ codes (IVFPQ; `m` = 0 otherwise)
    * are `m` values from `p * m` of `codes`, read as unsigned 16-bit
    * (ksub ≤ 2^16, see [[IvfCodec]]).
    */
  final class Block(
      keys: Array[AnyRef],
      offsets: Array[Int],
      floats: Array[Float],
      doubles: Array[Double],
      bytes: Array[Byte],
      versions: Array[Long],
      lists: Array[Int],
      listRows: Array[Int],
      codes: Array[Short],
      m: Int) extends Serializable {

    def key(row: Int): AnyRef = keys(row)

    /** Whether row `row` belongs to an index built through version `through`. */
    def indexed(row: Int, through: Long): Boolean = versions == null || versions(row) <= through

    /** The rows whose key equals `key`. */
    def rowsOf(key: Any): Range = {
      val k = key.asInstanceOf[AnyRef]
      val i = java.util.Arrays.binarySearch(keys, k, keyOrder)
      if (i < 0) Range(0, 0)
      else {
        var lo = i; var hi = i + 1
        while (lo > 0 && keyOrder.compare(keys(lo - 1), k) == 0) lo -= 1
        while (hi < keys.length && keyOrder.compare(keys(hi), k) == 0) hi += 1
        Range(lo, hi)
      }
    }

    /** Row `i` scored against `q` under `metric` ([[VectorStore.score]]). */
    def score(i: Int, q: Array[Float], metric: Metric.Value): Double =
      VectorStore.score(floats, doubles, bytes, offsets(i), offsets(i + 1) - offsets(i), q, metric)

    /** The entry positions of list `c` (empty without a codec). */
    def list(c: Int): Range =
      if (lists == null || c < 0 || c + 1 >= lists.length) Range(0, 0)
      else Range(lists(c), lists(c + 1))

    /** The row of entry `p`. */
    def listRow(p: Int): Int = listRows(p)

    /** Entry `p`'s code in subspace `j`. */
    def code(p: Int, j: Int): Int = codes(p * m + j) & 0xffff

    /** Σ_j lut(j * ksub + code_j) of entry `p`, summed in subspace order. */
    def adc(p: Int, lut: Array[Double], ksub: Int): Double = {
      val base = p * m
      var s = 0.0; var j = 0
      while (j < m) { s += lut(j * ksub + (codes(base + j) & 0xffff)); j += 1 }
      s
    }
  }

  private[index] object Block {
    /** Packs one partition of (key, vector[, version]) rows and, with a
      * codec, encodes each row into its list.
      */
    def apply(
        rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
        keyType: DataType, vecType: DataType, versioned: Boolean, codec: IvfCodec): Block = {
      val keys = mutable.ArrayBuffer.empty[AnyRef]
      val vecs = mutable.ArrayBuffer.empty[AnyRef]
      val vers = mutable.ArrayBuilder.make[Long]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          keys += (r.get(0, keyType) match {
            case s: UTF8String => s.copy() // points into the reused scan row
            case k             => k.asInstanceOf[AnyRef]
          })
          vecs += (vecType match {
            case BinaryType              => r.getBinary(1)
            case ArrayType(FloatType, _) => r.getArray(1).toFloatArray()
            case _                       => r.getArray(1).toDoubleArray()
          })
          if (versioned) vers += r.getLong(2)
        }
      }
      val order = Array.range(0, keys.length).sortWith((a, b) => keyOrder.compare(keys(a), keys(b)) < 0)
      val sorted = order.map(vecs).toIndexedSeq
      val offsets = sorted.map(java.lang.reflect.Array.getLength).scanLeft(0)(_ + _).toArray
      def packed[T: ClassTag] = Array.concat(sorted.map(_.asInstanceOf[Array[T]]): _*)
      val (floats, doubles, bytes) = vecType match {
        case BinaryType              => (null, null, packed[Byte])
        case ArrayType(FloatType, _) => (packed[Float], null, null)
        case _                       => (null, packed[Double], null)
      }
      val versions = if (versioned) { val v = vers.result(); order.map(v) } else null
      if (codec == null)
        new Block(order.map(keys), offsets, floats, doubles, bytes, versions, null, null, null, 0)
      else {
        val encoded = sorted.map {
          case v: Array[Float]  => codec.encode(v)
          case v: Array[Double] => codec.encode(v.map(_.toFloat))
          case v: Array[Byte]   => codec.encode(BinaryIvfIndex.bytesToFloats(v))
        }
        // counting sort of the rows by centroid, key order kept per list
        val lists = new Array[Int](codec.ncent + 1)
        encoded.foreach { case (c, _) => lists(c + 1) += 1 }
        var c = 0
        while (c < codec.ncent) { lists(c + 1) += lists(c); c += 1 }
        val next = lists.clone()
        val listRows = new Array[Int](encoded.length)
        val m = codec.m
        val codes = new Array[Short](encoded.length * m)
        encoded.indices.foreach { row =>
          val (cid, cs) = encoded(row)
          val p = next(cid); next(cid) += 1
          listRows(p) = row
          var j = 0
          while (j < m) { codes(p * m + j) = cs(j).toShort; j += 1 }
        }
        new Block(order.map(keys), offsets, floats, doubles, bytes, versions, lists, listRows, codes, m)
      }
    }
  }
}
