package graft.index

import java.util.{PriorityQueue => JPriorityQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.core.Metric
import graft.operators.TopK

/** A single Hierarchical-Navigable-Small-World graph — from-scratch Scala
  * re-expression of the algorithm the reference embeds via hnswlib (V5,
  * reference index/impl/hnswlib/gamma_index_hnswlib.cc:316-384,
  * hnswalg.h): geometric level assignment, greedy descent through upper
  * layers, best-first beam (`ef`) search at layer 0, bidirectional links
  * pruned to `m` (2m at layer 0).
  *
  * Determinism: a node's level derives from a splitmix of its id, not a
  * shared RNG, so graphs are reproducible per partition regardless of
  * insertion interleaving.
  */
private[index] final class HnswGraph(
    val m: Int,
    val efConstruction: Int,
    metricName: String) extends Serializable {

  private val maxM0 = 2 * m
  private val mL = 1.0 / math.log(m.toDouble)

  private val ids = new ArrayBuffer[Long]
  private val vecs = new ArrayBuffer[Array[Float]]
  private val levels = new ArrayBuffer[Int]
  // links(node)(level) = neighbor node indices
  private val links = new ArrayBuffer[Array[ArrayBuffer[Int]]]
  private var entry = -1
  private var topLevel = -1

  def size: Int = ids.length

  /** The segment's (id, vector) payload — for segment rewrites (exclusion
    * compaction re-adds the survivors into a fresh graph).
    */
  def entries: Iterator[(Long, Array[Float])] = ids.iterator.zip(vecs.iterator)

  /** Internal distance: smaller is better for every metric. */
  private def dist(a: Array[Float], b: Array[Float]): Double = metricName match {
    case "InnerProduct" =>
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      -s
    case "Cosine" =>
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else -(dp / (math.sqrt(na) * math.sqrt(nb)))
    case _ =>
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i).toDouble - b(i); s += t * t; i += 1 }
      s
  }

  /** Engine-facing score from the internal distance. */
  def score(d: Double): Double = metricName match {
    case "InnerProduct" | "Cosine" => -d
    case _                         => d
  }

  private def levelOf(id: Long): Int = {
    // splitmix64 of the id -> uniform in (0,1) -> geometric level
    val z = Mix.splitmix64(id)
    val u = ((z >>> 11).toDouble + 0.5) / (1L << 53).toDouble
    (-math.log(u) * mL).toInt
  }

  /** Best-first beam search within one level; returns up to `ef` closest
    * (dist, node) pairs. `admit(node, dist)` gates RESULT admission only —
    * traversal continues THROUGH disallowed nodes, exactly hnswlib's
    * filter-callback behavior (hnswalg.h:312-313), so selective filters
    * (id sets AND score ranges, the P8 contract) still return a full beam
    * of admitted hits.
    */
  private def searchLayer(
      q: Array[Float], ep: Int, ef: Int, level: Int,
      admit: (Int, Double) => Boolean = (_, _) => true): ArrayBuffer[(Double, Int)] = {
    val visited = new java.util.HashSet[Integer]
    val cand = new JPriorityQueue[(Double, Int)](
      (x: (Double, Int), y: (Double, Int)) => java.lang.Double.compare(x._1, y._1))
    val res = new JPriorityQueue[(Double, Int)](
      (x: (Double, Int), y: (Double, Int)) => java.lang.Double.compare(y._1, x._1))
    val d0 = dist(q, vecs(ep))
    cand.add((d0, ep)); visited.add(ep)
    if (admit(ep, d0)) res.add((d0, ep))
    while (!cand.isEmpty) {
      val (dc, c) = cand.poll()
      if (res.size() >= ef && dc > res.peek()._1) {
        cand.clear()
      } else {
        val nbrs = links(c)(level)
        var i = 0
        while (i < nbrs.length) {
          val n = nbrs(i)
          if (!visited.contains(n)) {
            visited.add(n)
            val dn = dist(q, vecs(n))
            if (res.size() < ef || dn < res.peek()._1) {
              cand.add((dn, n))
              if (admit(n, dn)) {
                res.add((dn, n))
                if (res.size() > ef) res.poll()
              }
            }
          }
          i += 1
        }
      }
    }
    val out = new ArrayBuffer[(Double, Int)](res.size())
    while (!res.isEmpty) out += res.poll()
    out.sortInPlace()(Ordering.by(_._1))
  }

  private def capOf(level: Int): Int = if (level == 0) maxM0 else m

  /** Diversifying neighbor selection (Malkov Alg. 4; hnswlib
    * `getNeighborsByHeuristic2`, hnswalg.h): walk candidates
    * nearest-first and keep one only if it is closer to the base point
    * than to every already-kept neighbor. This is NOT a constant-factor
    * nicety: simple closest-`cap` selection turns tight clusters into
    * cliques and prunes the inter-cluster bridges — measured on the
    * 1M-row 128-cluster fixture (31k-node segments), recall@10 sat at
    * ~0.78 REGARDLESS of ef, because no beam width can cross a link that
    * was pruned away. The heuristic keeps the long-range edges.
    * Precondition: `cands` is sorted ascending by its distances, which
    * are distances TO THE BASE POINT whose neighbor list is being built.
    */
  private def selectHeuristic(
      cands: ArrayBuffer[(Double, Int)],
      cap: Int): ArrayBuffer[Int] = {
    if (cands.length <= cap) return cands.map(_._2)
    val out = new ArrayBuffer[Int](cap)
    var i = 0
    while (i < cands.length && out.length < cap) {
      val (d, e) = cands(i)
      val ve = vecs(e)
      var good = true
      var j = 0
      while (good && j < out.length) {
        if (dist(ve, vecs(out(j))) < d) good = false
        j += 1
      }
      if (good) out += e
      i += 1
    }
    out
  }

  /** Re-prune an overfull adjacency list with the same heuristic. */
  private def shrink(node: Int, level: Int): Unit = {
    val l = links(node)(level)
    if (l.length > capOf(level)) {
      val v = vecs(node)
      val sorted = l.map(n => (dist(v, vecs(n)), n)).sortInPlace()(Ordering.by(_._1))
      links(node)(level) = selectHeuristic(sorted, capOf(level))
    }
  }

  def add(id: Long, v: Array[Float]): Unit = {
    val node = ids.length
    val lvl = levelOf(id)
    ids += id; vecs += v; levels += lvl
    links += Array.fill(lvl + 1)(new ArrayBuffer[Int](m + 1))
    if (entry < 0) { entry = node; topLevel = lvl; return }

    var ep = entry
    var level = topLevel
    while (level > lvl) { // greedy descent above the node's level
      ep = searchLayer(v, ep, 1, level).head._2
      level -= 1
    }
    while (level >= 0) { // connect at each level the node participates in
      val w = searchLayer(v, ep, efConstruction, level)
      // hnswlib connects m heuristic-selected neighbors at EVERY level
      // (maxM0 is only the accumulated-degree cap at layer 0)
      val neighbors = selectHeuristic(w, m)
      neighbors.foreach { n =>
        links(node)(level) += n
        links(n)(level) += node
        shrink(n, level)
      }
      ep = w.head._2
      level -= 1
    }
    if (lvl > topLevel) { entry = node; topLevel = lvl }
  }

  /** Top-k by the engine score convention. `allowed` AND the score range
    * are pushed INTO the layer-0 walk (result admission only; traversal
    * unrestricted), so a selective filter still fills the beam with
    * admitted hits — out-of-range near neighbors no longer consume the
    * beam's slots (P8: range before the candidate heap).
    */
  def search(
      q: Array[Float], k: Int, ef: Int,
      allowed: Long => Boolean = _ => true,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None): Seq[(Long, Double)] = {
    if (entry < 0) return Nil
    val lo = minScore.getOrElse(Double.NegativeInfinity)
    val hi = maxScore.getOrElse(Double.PositiveInfinity)
    var ep = entry
    var level = topLevel
    while (level > 0) {
      ep = searchLayer(q, ep, 1, level).head._2
      level -= 1
    }
    searchLayer(q, ep, math.max(ef, k), 0, (n, d) => {
      val s = score(d); s >= lo && s <= hi && allowed(ids(n))
    })
      .take(k)
      .map { case (d, n) => (ids(n), score(d)) }
      .toSeq
  }
}

/** HNSW as a Spark index: one graph per partition, built executor-side in a
  * single `mapPartitions` pass, serialized into a binary column. A query
  * broadcast-fans over every partition graph and the per-graph top-k merge
  * through the bounded [[TopK.perGroup]] heap — the segment-graph shape
  * (each of P partitions answers from its local graph; merge cost is
  * P x k rows, independent of table size).
  *
  * Reference: V5, index/impl/hnswlib/gamma_index_hnswlib.cc (nlinks=32,
  * efConstruction=200 creation, efSearch=64 query defaults).
  */
class HnswIndex(
    val spark: SparkSession,
    val graphs: DataFrame, // single binary column "graph"
    val idCol: String,
    val vecCol: String,
    val params: IndexParams,
    val excluded: Option[DataFrame] = None,
    val segmentAvg: Option[Double] = None) extends AnnIndex {

  override def retrievalType: String = "HNSW"

  /** Attach the mean segment node count (cached indexer-side stat) —
    * enables per-segment adaptive ef in [[search]].
    */
  def withSegmentAvg(avg: Option[Double]): HnswIndex =
    new HnswIndex(spark, graphs, idCol, vecCol, params, excluded, avg)

  /** `nprobe` is reused as an efSearch override (HNSW has no probes). */
  override def search(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      allowedIds: Option[DataFrame],
      minScore: Option[Double],
      maxScore: Option[Double]): DataFrame =
    walk(queries, k, nprobe, allowedIds.map(keyArray(_, "allowedIds")), minScore, maxScore)

  /** [[search]] restricted to a request's allowed set: its keys, when the
    * keys job already brought them to the driver (cast to long as
    * [[search]] casts an allowed frame), or else its frame, collected here.
    */
  private[graft] def searchAllowed(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      allowed: AllowedKeys,
      minScore: Option[Double],
      maxScore: Option[Double]): DataFrame = {
    val set = allowed.keys match {
      case Some(keys) =>
        val toLong = Cast(BoundReference(0, allowed.keyType, nullable = true), LongType)
        val row = new GenericInternalRow(1)
        sortedKeys(keys.iterator.map { key => row.update(0, key); toLong.eval(row) },
          keys.length, "allowedIds", allowed.frame.columns.head)
      case None => keyArray(allowed.frame, "allowedIds")
    }
    walk(queries, k, nprobe, Some(set), minScore, maxScore)
  }

  // allowed set rides a broadcast — the same driver-side build a
  // broadcast hash join pays, but as a SORTED PRIMITIVE long array
  // (8 B/key + binary search), the dense analog of the reference's
  // delete bitmap (util/bitmap_manager.h) instead of a ~50x-larger boxed
  // Set. HNSW ids are longs (build casts); a key that does not cast is a
  // table this index cannot serve — fail fast with a diagnosable message
  // instead of an NPE deep in a task.
  private def keyArray(df: DataFrame, what: String): Broadcast[Array[Long]] = {
    val c = df.columns.head
    val vals = df.select(col(c).cast("long")).collect()
    sortedKeys(vals.iterator.map(r => if (r.isNullAt(0)) null else r.getLong(0)),
      vals.length, what, c)
  }

  private def sortedKeys(
      vals: Iterator[Any], n: Int, what: String, c: String): Broadcast[Array[Long]] = {
    val out = new Array[Long](n)
    var i = 0
    vals.foreach { v =>
      if (v == null)
        throw new IllegalArgumentException(
          s"HNSW serves long-castable keys only: $what column '$c' has a value " +
            "that does not cast to long")
      out(i) = v.asInstanceOf[Long]; i += 1
    }
    java.util.Arrays.sort(out)
    spark.sparkContext.broadcast(out)
  }

  private def walk(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int],
      allowedSet: Option[Broadcast[Array[Long]]],
      minScore: Option[Double],
      maxScore: Option[Double]): DataFrame = {
    import spark.implicits._
    val ef = nprobe.getOrElse(params.efSearch)
    val qs = spark.sparkContext.broadcast(queries.toArray)
    // `excluded` is the standing delete-bitmap analog (updated/deleted keys
    // whose graph entries are stale) — graphs are immutable segments, so
    // exclusion happens at result admission like the reference's IsValid
    // bitmap check inside the scan (T11/X2)
    val excludedSet = excluded.map(keyArray(_, "excluded"))
    val segAvg = segmentAvg.filter(_ > 0) // local copy: the closure must not drag `this`
    val hits = graphs.select("graph").as[Array[Byte]].mapPartitions { rows =>
      val incl: Long => Boolean = allowedSet match {
        case Some(b) => id => java.util.Arrays.binarySearch(b.value, id) >= 0
        case None    => _ => true
      }
      val allowed: Long => Boolean = excludedSet match {
        case Some(b) => id => incl(id) && java.util.Arrays.binarySearch(b.value, id) < 0
        case None    => incl
      }
      rows.flatMap { bytes =>
        val g = HnswIndex.deserialize(bytes)
        // per-segment adaptive ef (Lucene's segmented-HNSW insight): a
        // segment holding an n_i/avg share of the corpus contributes ~that
        // share of the global top-k, so its beam scales down with its
        // size — floored at k (never below the local top-k ask) and capped
        // at the requested ef (balanced segments are unchanged). Small
        // incremental/compacted segments stop paying the full-table beam.
        val efSeg = segAvg match {
          case Some(avg) => HnswIndex.segmentEf(ef, k, g.size, avg)
          case None      => ef
        }
        qs.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k, efSeg, allowed, minScore, maxScore)
            .map { case (id, s) => (qid, id, s) }
        }
      }
    }.toDF("qid", "id", "score")
    TopK.perGroup(hits, "qid", "score", Metric.ascending(params.metric), k, Seq("id"))
  }

  /** Graph rows are opaque immutable segments — exclusion folds into the
    * standing excluded set checked at result admission (the reference's
    * IsValid bitmap inside the graph walk, hnswalg.h:312-313).
    */
  override def excluding(ids: DataFrame): AnnIndex = {
    val merged = excluded match {
      case Some(e) => e.toDF(idCol).unionByName(ids.toDF(idCol))
      case None    => ids.toDF(idCol)
    }
    new HnswIndex(spark, graphs, idCol, vecCol, params, Some(merged), segmentAvg)
  }

  override def withParams(p: IndexParams): AnnIndex =
    new HnswIndex(spark, graphs, idCol, vecCol, p, excluded, segmentAvg)

  def save(path: String): Unit =
    graphs.write.mode("overwrite").parquet(s"$path/graphs")

  /** Exclusion compaction BELOW the rebuild threshold: rewrite each graph
    * segment without its excluded nodes, per partition — deserialize, drop
    * the excluded entries, re-add the survivors into a fresh segment
    * graph. No table scan and no shuffle (unlike a full rebuild, which
    * re-reads and re-partitions the doc table); segments keep their
    * locality and the result carries NO standing exclusions, so every
    * subsequent search stops paying the per-hit exclusion check and the
    * search beam stops crossing dead nodes. The reference's analog is
    * hnswlib's resize/permutation-free delete handling: entries are only
    * ever REUSED or rebuilt wholesale — a per-segment rewrite is the
    * middle ground Spark's segment-per-partition layout makes natural.
    */
  def compacted(): HnswIndex = excluded match {
    case None => this
    case Some(excl) =>
      import spark.implicits._
      val c = excl.columns.head
      val keys = excl.select(col(c).cast("long")).as[java.lang.Long].collect()
        .map { v =>
          if (v == null) throw new IllegalArgumentException(
            s"HNSW serves long-castable keys only: excluded column '$c' has a " +
              "value that does not cast to long")
          v.longValue()
        }
      java.util.Arrays.sort(keys)
      val bc = spark.sparkContext.broadcast(keys)
      val m = params.nlinks
      val efC = params.efConstruction
      val metricName = params.metric.toString
      val schema = StructType(Seq(StructField("graph", BinaryType, nullable = false)))
      val newGraphs = graphs.select("graph").as[Array[Byte]].mapPartitions { rows =>
        val ex = bc.value
        rows.flatMap { bytes =>
          val g = HnswIndex.deserialize(bytes)
          val ng = new HnswGraph(m, efC, metricName)
          g.entries.foreach { case (id, v) =>
            if (java.util.Arrays.binarySearch(ex, id) < 0) ng.add(id, v)
          }
          if (ng.size == 0) Iterator.empty
          else Iterator(Row(HnswIndex.serialize(ng)))
        }
      }(Encoders.row(schema)).localCheckpoint(true)
      new HnswIndex(spark, newGraphs, idCol, vecCol, params, None)
  }
}

object HnswIndex {

  /** Per-segment beam width: scale the requested `ef` by the segment's
    * share of the average segment size, capped at `ef` (a balanced or
    * oversized segment searches exactly as before — the adaptive path can
    * only REDUCE work, never widen it).
    *
    * Recall-safety floors: (a) never below `k` (the merge's per-segment
    * contribution); (b) a segment SMALLER than `ef` is searched with beam
    * >= its node count — near-exhaustive, so a tiny (often freshest
    * incremental) segment that happens to hold the true neighbors cannot
    * be under-searched by the proportional cut. The floor costs nothing at
    * scale: beam <= nodes bounds the walk by the segment's own (small)
    * size. Proportional reduction therefore only applies to segments with
    * more than `ef` nodes, where the share-of-average argument is the
    * statistically sound one.
    */
  def segmentEf(ef: Int, k: Int, nodes: Int, avgNodes: Double): Int =
    if (avgNodes <= 0) ef
    else {
      // ef.toDouble first: Int `ef * nodes` overflows at nodes > 2^31/ef
      // (a few million nodes at ef=512), which would wrap negative and
      // silently collapse the beam to k on exactly the largest segments
      val proportional = math.ceil(ef.toDouble * nodes / avgNodes).toInt
      val smallFloor = if (nodes <= ef) nodes else 0
      math.min(ef, math.max(math.max(k, smallFloor), proportional))
    }

  /** Adaptive per-segment ef is on unless explicitly disabled. */
  def adaptiveEfEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.hnsw.adaptiveEf").forall(_.toBoolean)

  /** Deserialize an executor-side graph through the thread context
    * classloader: in cluster deployments graft classes ship via --jars and
    * live in Spark's MutableURLClassLoader, which a plain
    * ObjectInputStream (app classloader) cannot see — the same resolution
    * Spark uses for task closures.
    */
  private[index] def deserialize(bytes: Array[Byte]): HnswGraph = {
    val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes)) {
      override def resolveClass(desc: java.io.ObjectStreamClass): Class[_] = {
        val loader = Thread.currentThread().getContextClassLoader
        try Class.forName(desc.getName, false, loader)
        catch { case _: ClassNotFoundException => super.resolveClass(desc) }
      }
    }
    try in.readObject().asInstanceOf[HnswGraph] finally in.close()
  }

  /** Node count of a serialized segment (stats job helper). */
  private[graft] def deserializeSize(bytes: Array[Byte]): Long =
    deserialize(bytes).size.toLong

  private[index] def serialize(g: HnswGraph): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(g); out.close()
    bos.toByteArray
  }

  def build(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      params: IndexParams): HnswIndex = {
    val in = docs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .repartition(spark.sparkContext.defaultParallelism)
    val schema = StructType(Seq(StructField("graph", BinaryType, nullable = false)))
    val m = params.nlinks
    val efC = params.efConstruction
    val metricName = params.metric.toString
    val graphs = in.mapPartitions { rows =>
      val g = new HnswGraph(m, efC, metricName)
      rows.foreach { r =>
        // diagnosable failure for non-long-castable keys (the search-side
        // keyArray guard's build twin) instead of an opaque executor NPE
        require(!r.isNullAt(0),
          s"HNSW graphs key by long node ids; a value of id column did not cast to long")
        g.add(r.getLong(0), r.getSeq[Float](1).toArray)
      }
      if (g.size == 0) Iterator.empty
      else Iterator(Row(serialize(g)))
    }(Encoders.row(schema)).localCheckpoint(true)
    new HnswIndex(spark, graphs, idCol, vecCol, params)
  }

  def load(spark: SparkSession, path: String, idCol: String, vecCol: String,
      params: IndexParams): HnswIndex =
    new HnswIndex(spark, spark.read.parquet(s"$path/graphs"), idCol, vecCol, params)
}
