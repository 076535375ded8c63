package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._

import graft.functions.TopKBuffer

/** A request's scalar-filter survivors, counted by one Spark job: the key
  * frame the lazy plans semi-join, its row count, and, for a set within
  * `spark.graft.filter.broadcastMaxKeys` whose model can use them, the keys
  * themselves, as the packed one-field rows the job's tasks returned (see
  * [[collect]], [[TopKBuffer.pack]]). The driver request paths test those
  * keys inside their scans (the reference's `IsValid` check,
  * index/retrieval_model.h:77-103), so no later job reads the frame again.
  * Null keys, which no semi-join matches, are counted but not kept.
  */
private[graft] final case class AllowedKeys(
    frame: DataFrame, count: Long, packed: Option[Array[Array[Byte]]]) {
  def keyType: DataType = frame.schema.head.dataType

  /** The keys as Catalyst values (UTF8String for strings). */
  def keys: Option[Array[Any]] =
    packed.map(_.flatMap(p => TopKBuffer.unpack(p, 1).map(_.get(0, keyType))))

  /** The keys as a scan task tests them. */
  def keySet: Option[KeySet] = packed.map(new KeySet(_, keyType))
}

/** Allowed keys as shipped to scan tasks: the packed rows, which serialize
  * as a few byte arrays; each JVM unpacks them into a hash set of Catalyst
  * values once, on first use.
  */
private[index] final class KeySet(packed: Array[Array[Byte]], keyType: DataType)
    extends Serializable {
  @transient private lazy val set: java.util.HashSet[Any] = {
    val s = new java.util.HashSet[Any]()
    packed.foreach(TopKBuffer.unpack(_, 1).foreach(r => s.add(r.get(0, keyType))))
    s
  }

  def contains(id: Any): Boolean = set.contains(id)
}

private[graft] object AllowedKeys {

  /** Key types with by-value equality on their Catalyst values: the only
    * ones [[collect]] keeps keys for.
    */
  val KeyTypes: Set[DataType] = Set(LongType, IntegerType, StringType)

  /** `spark.graft.filter.broadcastMaxKeys`: the largest allowed set whose
    * keys the keys job brings to the driver (see [[collect]]) and that is
    * broadcast into the index scan rather than joined shuffle-side.
    */
  def broadcastMax(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.filter.broadcastMaxKeys").map(_.toLong).getOrElse(1000000L)

  /** One job over `frame` (a single key column; persist it first if other
    * plans will read it) that counts its rows and, for a set of at most
    * `maxKeys` rows, brings the keys to the driver. Each task packs its
    * keys only while its own count is within its share of the bound,
    * `maxKeys / partitions`, so the job returns at most `maxKeys` keys
    * however large the set is; a task over its share returns its count
    * alone, and the request then semi-joins the frame. A negative
    * `maxKeys` only counts (for a model that cannot use the keys).
    */
  def collect(frame: DataFrame, maxKeys: Long): AllowedKeys = {
    val field = frame.schema.head
    val rdd = frame.queryExecution.toRdd
    val share =
      if (KeyTypes(field.dataType) && maxKeys >= 0L) maxKeys / math.max(rdd.getNumPartitions, 1)
      else -1L
    val parts = rdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(StructType(Seq(field)))
      val kept = ArrayBuffer.empty[UnsafeRow]
      var n = 0L
      rows.foreach { r =>
        n += 1
        if (n <= share) { if (!r.isNullAt(0)) kept += proj(r).copy() }
        else if (kept.nonEmpty) kept.clear()
      }
      Iterator((n, if (n <= share) TopKBuffer.pack(kept.toArray) else null))
    }.collect()
    val count = parts.map(_._1).sum
    val whole = share >= 0L && parts.forall(_._1 <= share)
    AllowedKeys(frame, count, if (whole) Some(parts.map(_._2)) else None)
  }
}
