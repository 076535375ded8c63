package graft.index

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** A resident raw-vector store over the (key, vector) rows of `docs`: the
  * reference's `MemoryRawVector` / `MmapRawVector`
  * (vector/memory_raw_vector.h, vector/mmap_raw_vector.h), from which the
  * IVFPQ re-rank fetches only its candidates' vectors by docid
  * (gamma_index_ivfpq.cc:642-697) instead of reading the table.
  *
  * Blocks are the partitions of `docs`'s scan, one [[VectorStore.Block]]
  * each (keys sorted, vectors packed), cached in Spark's block manager
  * (`persist(MEMORY_AND_DISK)`, lineage kept: a lost block is recomputed
  * from the scan on its next read). The first [[lookup]] builds them inside
  * its own job, with no shuffle; every lookup probes every block with one
  * broadcast of its keys.
  *
  * `docs` holds (key, vector) columns. Keys must be of a
  * [[AllowedKeys.KeyTypes]] type and vectors float or double arrays
  * ([[serves]]); rows with a null key or vector are not stored. A store
  * made with `cache = false` (one with no owner to [[release]] it) packs
  * the blocks again on every lookup.
  */
private[graft] final class VectorStore(docs: DataFrame, cache: Boolean = true) {
  import VectorStore.Block

  val keyType: DataType = docs.schema.head.dataType

  def sparkContext: org.apache.spark.SparkContext = docs.sparkSession.sparkContext

  private val vecIsFloat = docs.schema(1).dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  /** Whether the rows of `docs` can be stored and looked up. */
  val serves: Boolean =
    AllowedKeys.KeyTypes(keyType) && VectorStore.isVectorType(docs.schema(1).dataType)

  // both guarded by `this`; no job runs under the lock
  private var built: RDD[Block] = _
  private var released = !cache

  private def blocks: RDD[Block] = synchronized {
    if (built == null) {
      val (kt, float) = (keyType, vecIsFloat)
      built = docs.queryExecution.toRdd
        .mapPartitions(rows => Iterator(Block(rows, kt, float)))
        .setName(s"graft.VectorStore(${docs.columns.take(2).mkString(", ")})")
      // a store released before its first lookup still answers, uncached
      if (!released) built.persist(StorageLevel.MEMORY_AND_DISK)
    }
    built
  }

  /** Drops the cached blocks without waiting for a lookup in flight; a
    * later lookup recomputes what it reads, uncached.
    */
  def release(): Unit = {
    val rdd = synchronized { released = true; built }
    if (rdd != null) rdd.unpersist(blocking = false)
  }

  /** One Spark job over every block: each task gets its block and all of
    * `keys` (Catalyst values with a payload each, in `keys` order, one
    * broadcast) and returns `f`'s result. Empty `keys` run no job.
    */
  def lookup[P, R: scala.reflect.ClassTag](keys: Iterable[(Any, P)])(
      f: (Block, Array[(Any, P)]) => R): Seq[R] = {
    if (keys.isEmpty) return Nil
    val rdd = blocks
    val all = sparkContext.broadcast(keys.toArray)
    try sparkContext.runJob(rdd, (it: Iterator[Block]) => f(it.next(), all.value)).toSeq
    finally {
      all.destroy()
      // blocks a task cached after a release() that ran during this job
      if (cache && synchronized(released)) rdd.unpersist(blocking = false)
    }
  }
}

private[graft] object VectorStore {

  /** The vector column types a store holds: float or double arrays. */
  def isVectorType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _                                    => false
  }

  private val keyOrder: java.util.Comparator[AnyRef] =
    (a: AnyRef, b: AnyRef) => a.asInstanceOf[Comparable[AnyRef]].compareTo(b)

  /** One partition's rows: keys sorted (so a key's rows are adjacent and
    * found by binary search), row `i`'s vector at
    * `offsets(i) until offsets(i + 1)` of `floats` (float vectors) or
    * `doubles` (double vectors).
    */
  final class Block(
      keys: Array[AnyRef],
      offsets: Array[Int],
      floats: Array[Float],
      doubles: Array[Double]) extends Serializable {

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

    /** Row `i` scored against `q` with the double arithmetic of `l2_sq` /
      * `inner_product`: doc element first, each element widened to double,
      * summed in index order over the shorter length.
      */
    def score(i: Int, q: Array[Float], ip: Boolean): Double = {
      val from = offsets(i)
      val n = math.min(offsets(i + 1) - from, q.length)
      var s = 0.0; var j = 0
      if (ip) while (j < n) { s += elem(from + j) * q(j).toDouble; j += 1 }
      else while (j < n) { val d = elem(from + j) - q(j).toDouble; s += d * d; j += 1 }
      s
    }

    @inline private def elem(j: Int): Double = if (floats != null) floats(j).toDouble else doubles(j)
  }

  private[index] object Block {
    /** Packs one partition of (key, vector) rows. */
    def apply(
        rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
        keyType: DataType, float: Boolean): Block = {
      val keys = mutable.ArrayBuffer.empty[AnyRef]
      val vecs = mutable.ArrayBuffer.empty[AnyRef]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          keys += (r.get(0, keyType) match {
            case s: UTF8String => s.copy() // points into the reused scan row
            case k             => k.asInstanceOf[AnyRef]
          })
          vecs += (if (float) r.getArray(1).toFloatArray() else r.getArray(1).toDoubleArray())
        }
      }
      val order = Array.range(0, keys.length).sortWith((a, b) => keyOrder.compare(keys(a), keys(b)) < 0)
      val sorted = order.map(vecs).toIndexedSeq
      val offsets = sorted.map(java.lang.reflect.Array.getLength).scanLeft(0)(_ + _).toArray
      val (floats, doubles) =
        if (float) (Array.concat(sorted.map(_.asInstanceOf[Array[Float]]): _*), null)
        else (null, Array.concat(sorted.map(_.asInstanceOf[Array[Double]]): _*))
      new Block(order.map(keys), offsets, floats, doubles)
    }
  }
}
