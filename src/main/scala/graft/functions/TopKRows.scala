package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, InterpretedOrdering, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k heap buffer over struct rows, ordered lexicographically by
  * the struct's fields (put the sort key(s) first). Keeps the k SMALLEST.
  */
final class TopKBuffer(val k: Int, ord: Ordering[InternalRow]) {
  // max-heap: head = worst of the kept rows, evicted first. Sized for at
  // most 1,024 rows up front and grown on demand: a large k (recall_num
  // 10^6) must not allocate k slots per query group before any row arrives
  val heap = new java.util.PriorityQueue[InternalRow](math.max(1, math.min(k, 1024)), ord.reverse)

  /** Probe path (hot): `r` may be a transient row the caller reuses —
    * it is copied ONLY when it actually enters the heap, so the common
    * full-heap rejection costs one comparison and zero allocation.
    */
  def addProbe(r: UnsafeRow): Unit =
    if (heap.size < k) heap.add(r.copy())
    else if (ord.lt(r, heap.peek())) { heap.poll(); heap.add(r.copy()) }

  /** Owned path: `r` is already private to this buffer (deserialized or
    * handed over from another buffer) — inserted without copying. Whether
    * it was kept.
    */
  def addOwned(r: InternalRow): Boolean =
    if (heap.size < k) heap.add(r)
    else if (ord.lt(r, heap.peek())) { heap.poll(); heap.add(r) }
    else false

  def mergeFrom(other: TopKBuffer): Unit = {
    val it = other.heap.iterator()
    while (it.hasNext) addOwned(it.next())
  }

  def sorted(o: Ordering[InternalRow]): Array[InternalRow] = {
    val arr = heap.toArray(new Array[InternalRow](heap.size))
    java.util.Arrays.sort(arr, o)
    arr
  }
}

private[graft] object TopKBuffer {
  /** Rows as one byte array: count, then each row's length and bytes. */
  def pack(rows: Array[UnsafeRow]): Array[Byte] = {
    var total = 4
    rows.foreach(r => total += 4 + r.getSizeInBytes)
    val bb = ByteBuffer.allocate(total)
    bb.putInt(rows.length)
    rows.foreach { r => bb.putInt(r.getSizeInBytes); bb.put(r.getBytes) }
    bb.array()
  }

  /** Inverse of [[pack]]: rows of `numFields` fields, each owning its bytes. */
  def unpack(bytes: Array[Byte], numFields: Int): Iterator[UnsafeRow] = {
    val bb = ByteBuffer.wrap(bytes)
    Iterator.fill(bb.getInt) {
      val arr = new Array[Byte](bb.getInt)
      bb.get(arr)
      val row = new UnsafeRow(numFields)
      row.pointTo(arr, arr.length)
      row
    }
  }
}

/** One bounded heap per query group over (sort key, id, score, group) rows:
  * the `topk_rows` heap of [[graft.operators.TopK.perGroup]] run outside an
  * aggregate. It uses the same [[TopKBuffer]] and the same ordering (sort
  * key, then id, via [[SpecializedRowOrdering]]), so ties and -0.0/NaN
  * scores order exactly as the aggregate orders them. The sort key is the
  * score, negated for descending metrics, as in `TopK.perGroup`.
  *
  * Scan tasks keep one instance each and ship [[packed]] rows; the driver
  * merges them with [[addPacked]].
  */
private[graft] final class QueryHeaps(
    groups: Int, k: Int, idType: DataType, ascending: Boolean) {
  import QueryHeaps._
  private val ord = ordering(idType)
  private val heaps = Array.fill(groups)(new TopKBuffer(k, ord))
  private val probe = new SpecificInternalRow(Seq(DoubleType, idType, DoubleType, IntegerType))
  private val proj = UnsafeProjection.create(schema(idType))

  /** Offers a hit to group `g`'s heap. `id` is the Catalyst value and may
    * point into a reused input row: it is copied only if the hit is kept.
    */
  def offer(g: Int, score: Double, id: Any): Unit = {
    val sk = if (ascending) score else -score
    val h = heaps(g)
    // a strictly worse sort key can never enter a full heap
    if (h.heap.size < k || SpecializedRowOrdering.cmpD(sk, h.heap.peek().getDouble(0)) <= 0) {
      probe.setDouble(0, sk)
      probe.update(1, id)
      probe.setDouble(2, score)
      probe.setInt(3, g)
      h.addProbe(proj(probe))
    }
  }

  /** Every kept (sort key, id, score, group) row, in [[packed]] order. */
  def rows: Array[UnsafeRow] =
    heaps.flatMap(_.heap.toArray(new Array[InternalRow](0))).map(_.asInstanceOf[UnsafeRow])

  /** Every kept row, as one byte array (see [[TopKBuffer.pack]]). */
  def packed: Array[Byte] = TopKBuffer.pack(rows)

  /** Merges one row another instance kept, owned by this one from now on;
    * whether it was kept.
    */
  def addOwned(r: UnsafeRow): Boolean = heaps(r.getInt(3)).addOwned(r)

  /** Merges rows another instance [[packed]]. */
  def addPacked(bytes: Array[Byte]): Unit = TopKBuffer.unpack(bytes, NumFields).foreach(addOwned)

  /** Group `g`'s kept rows, best first. */
  def sorted(g: Int): Array[InternalRow] = heaps(g).sorted(ord)
}

private[graft] object QueryHeaps {
  val NumFields = 4

  def schema(idType: DataType): StructType = StructType(Seq(
    StructField("sk", DoubleType, nullable = false), StructField("id", idType),
    StructField("score", DoubleType, nullable = false),
    StructField("group", IntegerType, nullable = false)))

  /** (sort key, id) order, as `topk_rows` orders `struct(sk, id, ...)` with
    * two sort fields.
    */
  def ordering(idType: DataType): Ordering[InternalRow] =
    SpecializedRowOrdering.orInterpreted(schema(idType).fields.take(2))
}

/** Field-specialized lexicographic row ordering: resolves each sort
  * field's accessor/comparator ONCE instead of InterpretedOrdering's
  * per-comparison type dispatch. Semantics are identical (ascending,
  * nulls first, Spark's -0.0 == 0.0 / NaN-largest double ordering) —
  * property-tested sign-equal against InterpretedOrdering. Falls back to
  * null (caller uses InterpretedOrdering) for field types outside the
  * specialized set.
  */
private[graft] object SpecializedRowOrdering {
  // Spark SQL double/float total order: -0.0 == 0.0, NaN == NaN, NaN largest
  def cmpD(x: Double, y: Double): Int =
    if (x < y) -1
    else if (x > y) 1
    else {
      val xn = java.lang.Double.isNaN(x); val yn = java.lang.Double.isNaN(y)
      if (xn == yn) 0 else if (xn) 1 else -1
    }
  private def cmpF(x: Float, y: Float): Int =
    if (x < y) -1
    else if (x > y) 1
    else {
      val xn = java.lang.Float.isNaN(x); val yn = java.lang.Float.isNaN(y)
      if (xn == yn) 0 else if (xn) 1 else -1
    }

  def forFields(fields: Array[StructField]): Ordering[InternalRow] = {
    val cmps: Array[(InternalRow, InternalRow) => Int] =
      fields.zipWithIndex.map { case (f, i) =>
        val base: (InternalRow, InternalRow) => Int = f.dataType match {
          case LongType      => (a, b) => java.lang.Long.compare(a.getLong(i), b.getLong(i))
          case IntegerType   => (a, b) => Integer.compare(a.getInt(i), b.getInt(i))
          case ShortType     => (a, b) => java.lang.Short.compare(a.getShort(i), b.getShort(i))
          case ByteType      => (a, b) => java.lang.Byte.compare(a.getByte(i), b.getByte(i))
          case BooleanType   => (a, b) => java.lang.Boolean.compare(a.getBoolean(i), b.getBoolean(i))
          case DoubleType    => (a, b) => cmpD(a.getDouble(i), b.getDouble(i))
          case FloatType     => (a, b) => cmpF(a.getFloat(i), b.getFloat(i))
          case StringType    => (a, b) => a.getUTF8String(i).compareTo(b.getUTF8String(i))
          case _             => null
        }
        if (base == null) null
        else if (!f.nullable) base
        else (a: InternalRow, b: InternalRow) => {
          val an = a.isNullAt(i); val bn = b.isNullAt(i)
          if (an && bn) 0 else if (an) -1 else if (bn) 1 else base(a, b)
        }
      }
    if (cmps.contains(null)) null
    else new Ordering[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        var i = 0
        while (i < cmps.length) {
          val c = cmps(i)(a, b)
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
  }

  /** [[forFields]], or InterpretedOrdering where it has no specialization. */
  def orInterpreted(fields: Array[StructField]): Ordering[InternalRow] =
    Option(forFields(fields))
      .getOrElse(InterpretedOrdering.forSchema(fields.map(_.dataType).toIndexedSeq))
}

/** The reference's per-query result heap (faiss `CMin/CMax` heaps,
  * reference index/impl/gamma_index_flat.cc:154-233,
  * gamma_index_ivfpq.cc:570-593) as a Catalyst typed aggregate:
  * `groupBy(qid).agg(topk_rows(struct(sortKeys..., payload...), k))`.
  *
  * Scale property: partial aggregation keeps at most k rows per group on
  * the MAP side, so the shuffle moves k-bounded serialized heaps instead
  * of every scored candidate — the distributed equivalent of gamma's
  * per-thread heap + merge, and strictly less traffic than a
  * window/row_number plan, which shuffles all N x Q candidate rows.
  *
  * Hot-path shape (the r6 1000×-probe lesson — 250M postings through
  * update()): the struct child is NOT interpreted-eval'd per row; when it
  * is a CreateNamedStruct its field expressions feed one codegen'd
  * UnsafeProjection straight from the input row, the projected row is
  * only COPIED when it survives the heap probe, and the probe comparison
  * runs a field-specialized comparator instead of InterpretedOrdering's
  * per-call type dispatch.
  */
case class TopKRows(
    child: Expression,
    k: Int,
    numSortFields: Int = 0, // 0 = all fields; else compare leading prefix only
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def prettyName: String = "topk_rows"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  private lazy val ordering: Ordering[InternalRow] = SpecializedRowOrdering.orInterpreted(
    structType.fields.take(if (numSortFields > 0) numSortFields else structType.length))
  @transient private lazy val proj = UnsafeProjection.create(structType)
  // One projection from the INPUT row to the struct's UnsafeRow: for the
  // CreateNamedStruct shape every caller uses, this replaces interpreted
  // named_struct eval + re-projection with a single codegen'd projection.
  @transient private lazy val inputProj: InternalRow => UnsafeRow = child match {
    case cns: CreateNamedStruct =>
      val p = UnsafeProjection.create(cns.valExprs)
      (input: InternalRow) => p(input)
    case _ =>
      (input: InternalRow) => {
        val v = child.eval(input)
        if (v == null) null else proj(v.asInstanceOf[InternalRow])
      }
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType if k > 0 => TypeCheckResult.TypeCheckSuccess
    case _: StructType => TypeCheckResult.TypeCheckFailure(s"k must be positive, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"topk_rows requires a struct child, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(structType, containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, ordering)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val r = inputProj(input)
    if (r != null) buf.addProbe(r)
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(buf.sorted(ordering).asInstanceOf[Array[Any]])

  override def serialize(buf: TopKBuffer): Array[Byte] =
    TopKBuffer.pack(buf.sorted(ordering).map(_.asInstanceOf[UnsafeRow]))

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buf = new TopKBuffer(k, ordering)
    TopKBuffer.unpack(bytes, structType.length).foreach(buf.addOwned)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKRows =
    copy(child = newChildren.head)
}
