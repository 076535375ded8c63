package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{QueryHeaps, SpecializedRowOrdering}

/** The specialized TopKRows comparator must be sign-equal to Spark's
  * InterpretedOrdering on every field shape it claims, including the
  * traps: nulls (first), -0.0 == 0.0, NaN largest, NaN == NaN, string
  * binary order, and multi-field tie-breaks.
  */
class TopKOrderingSpec extends AnyFunSuite {

  private val schema = Array(
    StructField("l", LongType, nullable = true),
    StructField("d", DoubleType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("i", IntegerType, nullable = false),
    StructField("f", FloatType, nullable = true),
    StructField("b", BooleanType, nullable = false))

  private def mkRow(
      l: java.lang.Long, d: java.lang.Double, s: String,
      i: Int, f: java.lang.Float, b: Boolean): InternalRow =
    InternalRow(
      l, d, if (s == null) null else UTF8String.fromString(s), i, f, b)

  test("sign-equal to InterpretedOrdering across traps and random rows") {
    val fast = SpecializedRowOrdering.forFields(schema)
    assert(fast != null)
    val ref = InterpretedOrdering.forSchema(schema.map(_.dataType).toIndexedSeq)

    val doubles: Seq[java.lang.Double] = Seq(
      null, Double.NegativeInfinity, -1.5, -0.0, 0.0, 1.5,
      Double.PositiveInfinity, Double.NaN).map(v =>
      if (v == null) null else java.lang.Double.valueOf(v.asInstanceOf[Double]))
    val floats: Seq[java.lang.Float] = Seq[java.lang.Float](
      null, java.lang.Float.valueOf(-0.0f), java.lang.Float.valueOf(0.0f),
      java.lang.Float.valueOf(Float.NaN), java.lang.Float.valueOf(2.5f))
    val longs: Seq[java.lang.Long] = Seq[java.lang.Long](
      null, java.lang.Long.valueOf(Long.MinValue), java.lang.Long.valueOf(-1L),
      java.lang.Long.valueOf(0L), java.lang.Long.valueOf(7L),
      java.lang.Long.valueOf(Long.MaxValue))
    val strs = Seq(null, "", "a", "ab", "b", "é", "Z")

    val rnd = new scala.util.Random(42)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    val rows = (0 until 400).map { _ =>
      mkRow(pick(longs), pick(doubles), pick(strs),
        rnd.nextInt(5) - 2, pick(floats), rnd.nextBoolean())
    } ++ Seq(
      // forced tie-break shapes
      mkRow(1L, -0.0, "x", 0, 0.0f, b = false),
      mkRow(1L, 0.0, "x", 0, -0.0f, b = false),
      mkRow(1L, Double.NaN, "x", 0, Float.NaN, b = true),
      mkRow(1L, Double.NaN, "x", 0, Float.NaN, b = true),
      mkRow(null, null, null, -2, null, b = false))

    for (a <- rows; b <- rows) {
      val want = Integer.signum(ref.compare(a, b))
      val got = Integer.signum(fast.compare(a, b))
      assert(got === want, s"rows $a vs $b: fast=$got ref=$want")
    }
  }

  test("falls back to null on unspecialized field types") {
    assert(SpecializedRowOrdering.forFields(
      Array(StructField("x", ArrayType(LongType)))) == null)
    assert(SpecializedRowOrdering.forFields(
      Array(StructField("x", DecimalType(10, 2)))) == null)
  }

  test("a heap for a large k allocates no k-slot array up front") {
    // four query groups at recall_num 2^20: k slots each would be ~16 MB
    val bytes = org.apache.spark.util.SizeEstimator.estimate(
      new QueryHeaps(4, 1 << 20, LongType, true))
    assert(bytes < (1L << 20), s"$bytes bytes")
  }

  test("a heap that grows past its initial size keeps exactly the k best") {
    // 5,000 hits, scores with ties (broken by id), offered in random order
    val hits = (0L until 5000L).map(id => (id, (id * 7919 % 1000).toDouble))
    val rnd = new scala.util.Random(7)
    for (k <- Seq(10, 2000); ascending <- Seq(true, false)) {
      val heaps = new QueryHeaps(1, k, LongType, ascending)
      rnd.shuffle(hits).foreach { case (id, s) => heaps.offer(0, s, id) }
      val want = hits.sortBy { case (id, s) => (if (ascending) s else -s, id) }.take(k)
      val got = heaps.sorted(0).toSeq.map(r => (r.getLong(1), r.getDouble(2)))
      assert(got === want, s"k=$k ascending=$ascending")
    }
  }
}
