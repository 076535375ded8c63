package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.{RangeFilter, SearchRequest, TermFilter, VecQuery}
import graft.index.IndexParams
import graft.table.{GammaTable, VectorFieldDef}

/** Read path: a persisted IVFPQ table of clustered vectors with `tag` and
  * `price` fields. One closed-loop client sends a seeded cycle of
  * single-vector top-10 requests (unfiltered, a `tag` filter passing 90 %
  * of the docs, a `price` range passing 3 %) and `req_num` batch requests.
  */
final class AnnSearch extends Workload {
  import AnnSearch._

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val space = Gen.VecSpace(ctx.seed, Dim, Clusters, Sigma)
    val tr = ctx.tracer

    // set-up, three times; the last table serves the window
    val setups = (1 to SetupRepeats).map { i =>
      val root = new File(ctx.work, s"ann$i").getAbsolutePath
      val t0 = System.nanoTime()
      val (t, createMs) = Stats.timeMs(tr.span("table.create", -1L) {
        GammaTable.create(spark, root, "ann", "id", docFrame(spark, space),
          Seq(VectorFieldDef("vec", Dim, "L2", "IVFPQ")), nBuckets = Buckets)
      })
      val (ix, buildMs) = Stats.timeMs(tr.span("streaming.build", -1L) {
        t.buildIndex("vec", Params, persist = true, retrievalType = "IVFPQ")
      })
      (root, t, ix, (System.nanoTime() - t0) / 1e9, createMs, buildMs)
    }
    setups.init.foreach(s => Stats.deleteTree(new File(s._1)))
    val (root, table, ix, _, _, _) = setups.last

    // everything the checks need, from the generator (untimed)
    val docs = (0L until NDocs).map(i => Gen.doc(space, 0, i))
    val userBytes = docs.map(userBytesOf).sum
    val cycle = requestCycle(ctx.seed, space)
    val truth = {
      import scala.collection.parallel.CollectionConverters._
      cycle.par.map(r => r.queries.map(q => Gen.exactTopK(docs, q, TopN, r.keep))).seq
    }
    // warm-up requests carry negative ids, so no window figure counts them
    val warm = requestCycle(ctx.seed + 7919, space).take(WarmRequests).map(r => r.copy(id = -1 - r.id))

    // warm-up: every request class, untimed
    warm.foreach(r => runRequest(ctx, table, r, docs, check = false))

    val pointMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    var recallHits, recallTotal = 0L
    val scanned = mutable.ArrayBuffer.empty[Long]
    val timeline = mutable.ArrayBuffer.empty[String]
    val windowStart = System.nanoTime()
    val deadline = windowStart + ctx.seconds * 1000000000L
    var pass = 0
    // whole rounds (one request of each class) until the window ends, and
    // always the whole first cycle: every window then holds the same class
    // mix, and the deterministic figures come from the first cycle
    val rounds = cycle.zip(truth).grouped(RoundKinds.size).toSeq
    var it = rounds.iterator
    while (it.hasNext && (pass == 0 || System.nanoTime() < deadline)) {
      it.next().foreach { case (r, tru) =>
        attempted += 1
        val (res, ms) = Stats.timeMs(runRequest(ctx, table, r, docs, check = true))
        res match {
          case None => failed += 1
          case Some(ids) =>
            if (r.kind == "batch") batchMs += ms
            else pointMs.getOrElseUpdate(r.kind, mutable.ArrayBuffer.empty) += ms
            timeline += s"${r.kind}:${ms.round}"
            if (pass == 0) {
              ids.zip(tru).foreach { case (got, want) =>
                recallHits += got.toSet.intersect(want.toSet).size
                recallTotal += want.size
              }
              // rows the IVFPQ probe scanned, measured for unfiltered point requests
              if (r.kind == "unfiltered") scanned += ix.lastMeasuredScanRows
            }
        }
      }
      if (!it.hasNext) { pass += 1; it = rounds.iterator }
    }

    val storedBytes = Stats.diskBytes(new File(root))
    val listBytes = Stats.diskBytes(new File(root, "index"))
    val recall = if (recallTotal == 0) 0.0 else recallHits.toDouble / recallTotal
    val pointTimes = pointMs.values.flatten.toSeq
    val batchTimes = if (batchMs.isEmpty) Seq(Double.NaN) else batchMs.toSeq
    // the point classes differ in cost (the wide filter runs an extra count
    // job, the narrow one an exact scan); a pooled median would jump between
    // classes, so each class's median counts equally
    val pointP50 =
      if (pointMs.size < 3) Double.NaN else pointMs.values.map(xs => Stats.median(xs.toSeq)).sum / pointMs.size
    val e2e = Map(
      "setup_s" -> Stats.median(setups.map(_._4)),
      "op_p50_ms" -> pointP50,
      "items_per_s" -> BatchSize / (Stats.median(batchTimes) / 1000.0),
      "quality" -> recall,
      "stored_bytes_per_user_byte" -> storedBytes.toDouble / userBytes)

    val layer = mutable.Map.empty[String, Double]
    val det = mutable.Map[String, Any](
      "recall_at_10" -> recall, "stored_bytes" -> storedBytes, "user_bytes" -> userBytes,
      "cycle_requests" -> cycle.size)
    if (ctx.trace) {
      tr.drain()
      val pointKinds = Set("unfiltered", "wide", "narrow")
      def under(prefix: String, kinds: Set[String]) = (s: Span) => s.req >= 0 &&
        s.name.startsWith(prefix) && kinds(s.name.substring(s.name.lastIndexOf('.') + 1))
      val nPoint = tr.agg(under("request.", pointKinds)).n
      def perPoint(x: Double) = if (nPoint == 0) 0.0 else x / nPoint
      val point = tr.agg(under("table.", pointKinds))
      val batch = tr.agg(under("table.", Set("batch")))
      val nBatchQ = tr.agg(under("request.", Set("batch"))).n * BatchSize
      val unf = tr.agg(under("table.", Set("unfiltered")))
      val nUnf = tr.agg(under("request.", Set("unfiltered"))).n
      val meanScanned = if (scanned.isEmpty) 0.0 else scanned.sum.toDouble / scanned.size
      val window = tr.agg(s => s.req >= 0 && s.name.startsWith("table."))
      layer ++= Map(
        "spark.jobs_per_search" -> perPoint(point.jobs.toDouble),
        "spark.tasks_per_search" -> perPoint(point.tasks.toDouble),
        "spark.driver_ms_per_search" -> perPoint(point.driverMs),
        "spark.log_lines_per_search" -> perPoint(point.logLines.toDouble),
        "spark.executor_cpu_ms_per_query" -> (if (nBatchQ == 0) 0.0 else batch.cpuNs / 1e6 / nBatchQ),
        "spark.shuffle_bytes_per_query" -> (if (nBatchQ == 0) 0.0 else batch.shuffleBytes.toDouble / nBatchQ),
        "spark.spill_bytes" -> window.spillBytes.toDouble,
        "spark.gc_ms" -> window.gcMs.toDouble,
        "table.create_s" -> Stats.median(setups.map(_._5 / 1000.0)),
        "table.search_call_ms" -> perPoint(tr.agg(under("table.search.", pointKinds)).wallMs),
        "table.search_collect_ms" -> perPoint(tr.agg(under("table.collect.", pointKinds)).wallMs),
        "streaming.build_s" -> Stats.median(setups.map(_._6 / 1000.0)),
        "streaming.scanned_rows_per_search" -> meanScanned,
        "index.list_bytes" -> listBytes.toDouble,
        "index.cpu_ns_per_scanned_row" ->
          (if (nUnf == 0 || meanScanned <= 0) 0.0 else unf.cpuNs.toDouble / nUnf / meanScanned),
        "trace.op_p50_ms" -> pointP50)
      // deterministic counts come from the first cycle only
      val firstReqs = tr.spans.filter(s => s.name.startsWith("request.") && s.req >= 0).take(cycle.size)
        .map(_.id).toSet
      val first = tr.agg(s => s.name.startsWith("table.") && firstReqs(s.parent))
      first.tiers.foreach { case (t, n) =>
        if (Main.PerLayer.contains(s"streaming.tier.$t")) layer(s"streaming.tier.$t") = n.toDouble
      }
      det ++= Map("tiers" -> first.tiers.toMap, "jobs_first_cycle" -> first.jobs,
        "scanned_rows" -> scanned.toSeq)
    }
    Outcome(attempted, failed, e2e, layer.toMap, det.toMap, Map(
      "point_requests" -> pointTimes.size, "batch_requests" -> batchMs.size,
      "point_p50_ms_by_class" -> pointMs.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap,
      "point_p90_ms" -> Stats.quantile(if (pointTimes.isEmpty) Seq(Double.NaN) else pointTimes, 0.9),
      "batch_p50_ms" -> Stats.median(batchTimes),
      "setup_s" -> setups.map(_._4), "docs" -> NDocs,
      "window_s" -> (System.nanoTime() - windowStart) / 1e9, "timeline" -> timeline.toSeq))
  }

  /** Runs one request; returns the hit ids per query, or None if it threw
    * or failed a check.
    */
  private def runRequest(ctx: Ctx, table: GammaTable, r: Req, docs: IndexedSeq[Doc],
      check: Boolean): Option[Seq[Seq[Long]]] = {
    val tr = ctx.tracer
    val req = SearchRequest(
      topn = TopN,
      vecQueries = Seq(
        if (r.queries.size == 1) VecQuery("vec", r.queries.head) else VecQuery("vec", vectors = r.queries)),
      termFilters = r.term.toSeq, rangeFilters = r.range.toSeq)
    try {
      val rows = tr.span(s"request.${r.kind}", r.id) {
        // separate spans for the call and the collect: search() runs the
        // filtered-count job eagerly, the rest runs at collect
        val df = tr.span(s"table.search.${r.kind}", r.id)(table.search(req))
        tr.span(s"table.collect.${r.kind}", r.id)(df.select("qid", "id", "score").collect())
      }
      val byQ = rows.groupBy(_.getLong(0))
      val hits = r.queries.indices.map(q => byQ.getOrElse(q.toLong, Array.empty[Row]).toSeq)
      if (check && !hits.forall(rs => checkHits(ctx, r, rs, docs))) None
      else Some(hits.map(_.map(_.getLong(1))))
    } catch {
      case e: Exception =>
        ctx.fail(s"request ${r.id} (${r.kind}): $e")
        None
    }
  }

  /** At most topn rows, scores ascending, every id a live doc that passes
    * the request's filter.
    */
  private def checkHits(ctx: Ctx, r: Req, rs: Seq[Row], docs: IndexedSeq[Doc]): Boolean = {
    val scores = rs.map(_.getDouble(2))
    val ids = rs.map(_.getLong(1))
    val problem =
      if (rs.size > TopN) Some(s"${rs.size} rows > topn")
      else if (rs.size < TopN) Some(s"${rs.size} rows < topn")
      else if (scores.zip(scores.drop(1)).exists { case (a, b) => a > b }) Some("scores not ascending")
      else ids.find(i => i < 0 || i >= docs.size || !r.keep(docs(i.toInt))).map(i => s"id $i fails filter")
    problem.foreach(p => ctx.fail(s"request ${r.id} (${r.kind}): $p"))
    problem.isEmpty
  }
}

object AnnSearch {
  val NDocs = 75000
  val Dim = 32
  val Clusters = 64
  val Sigma = 0.25
  val Buckets = 8
  val TopN = 10
  val BatchSize = 64
  val SetupRepeats = 3
  // one round: a request of each point class and two batches, in this
  // order; a cycle is `Rounds` rounds
  val RoundKinds = Seq("unfiltered", "batch", "wide", "batch", "narrow")
  val Rounds = 3
  // untimed requests of every class first: latency is still falling (JIT)
  // over the first ten or so requests of a JVM
  val WarmRequests = 8
  val Params = IndexParams(ncentroids = 64, nprobe = 4, nsubvector = 8, trainSampleRows = 4096)

  /** One request of the seeded cycle. */
  final case class Req(
      id: Long, kind: String, queries: Seq[Array[Float]],
      term: Option[TermFilter], range: Option[RangeFilter], keep: Doc => Boolean)

  def docFrame(spark: SparkSession, space: Gen.VecSpace) = {
    import spark.implicits._
    spark.range(0, NDocs, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(i => Gen.doc(space, 0, i))).toDF()
  }

  def userBytesOf(d: Doc): Long = 8L + d.tag.length + 8L + 4L * d.vec.length

  /** `Rounds` rounds of `RoundKinds`. The order of the classes is fixed,
    * so every run's window meets the same mix at the same positions; the
    * vectors and ranges come from the seed.
    */
  def requestCycle(seed: Long, space: Gen.VecSpace): Seq[Req] = {
    val wide = Set("t0", "t1", "t2")
    val kinds = Seq.fill(Rounds)(RoundKinds).flatten
    kinds.zipWithIndex.map { case (kind, i) =>
      val qid = seed * 1000 + i
      val pos = i.toLong
      kind match {
        case "unfiltered" => Req(pos, kind, Seq(space.point(5, qid)), None, None, _ => true)
        case "wide" => Req(pos, kind, Seq(space.point(5, qid)),
          Some(TermFilter("tag", wide.toSeq.sorted)), None, d => wide(d.tag))
        case "narrow" =>
          val lo = 10.0 + (i / RoundKinds.size % 8) * 10.0
          Req(pos, kind, Seq(space.point(5, qid)), None,
            Some(RangeFilter("price", Some(lo), Some(lo + 3.0), includeUpper = false)),
            d => d.price >= lo && d.price < lo + 3.0)
        case _ => Req(pos, kind, (0 until BatchSize).map(j => space.point(6, qid * 1000 + j)), None, None, _ => true)
      }
    }
  }
}
