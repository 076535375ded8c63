package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.core.{SearchRequest, VecQuery}
import graft.index.IndexParams
import graft.streaming.IncrementalIndexer
import graft.table.{GammaTable, VectorFieldDef}

/** Writes beside reads: a persisted IVFFLAT table. One client runs rounds:
  * `addOrUpdate` a Zipf-skewed batch (updates plus fresh keys), every
  * second round a `delete`, then `refresh()`, then point searches that
  * include find-my-write and find-my-delete probes. `compactIfNeeded` and
  * `vacuum` run on a fixed round schedule inside the window.
  */
final class Churn extends Workload {
  import Churn._

  /** The generator's view of one table: the live doc under each key, and
    * the next fresh key.
    */
  final class Model(val seed: Long, val space: Gen.VecSpace) {
    val live = mutable.LongMap.empty[Doc]
    (0L until NDocs).foreach(i => live(i) = Gen.doc(space, 0, i))
    var nextKey: Long = NDocs
    def userBytes: Long = live.valuesIterator.map(AnnSearch.userBytesOf).sum
  }

  final case class RoundResult(
      commitMs: Double, visibleMs: Double, rows: Long, searchMs: Seq[Double],
      probes: Int, probeHits: Int, attempted: Int, failed: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val space = Gen.VecSpace(ctx.seed, AnnSearch.Dim, AnnSearch.Clusters, AnnSearch.Sigma)

    // set-up, three times; the first two tables take the warm-up rounds,
    // the last one serves the window
    val setups = (1 to SetupRepeats).map { i =>
      val root = new File(ctx.work, s"churn$i").getAbsolutePath
      val t0 = System.nanoTime()
      val (t, createMs) = Stats.timeMs(tr.span("table.create", -1L) {
        GammaTable.create(spark, root, "churn", "id", docFrame(ctx),
          Seq(VectorFieldDef("vec", AnnSearch.Dim, "L2", "IVFFLAT")), nBuckets = Buckets)
      })
      val (ix, buildMs) = Stats.timeMs(tr.span("streaming.build", -1L) {
        t.buildIndex("vec", Params, persist = true, retrievalType = "IVFFLAT")
      })
      (root, t, ix, (System.nanoTime() - t0) / 1e9, createMs, buildMs)
    }

    // warm-up: every operation type, untimed, on the spare tables
    (0 until WarmRounds).foreach { w =>
      val (_, t, ix, _, _, _) = setups(w % (SetupRepeats - 1))
      val m = warmModels.getOrElseUpdate(w % (SetupRepeats - 1), new Model(ctx.seed + 104729, space))
      round(ctx, t, ix, m, -1 - w, check = false)
    }
    setups.init.foreach(s => Stats.deleteTree(new File(s._1)))
    val (root, table, ix, _, _, _) = setups.last
    val model = new Model(ctx.seed, space)

    val results = mutable.ArrayBuffer.empty[RoundResult]
    var storedBytes = 0L
    var userBytes = 0L
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var r = 0
    // rounds until the window ends, but always the first `DetRounds`: the
    // deterministic figures come from them
    while (r < DetRounds || System.nanoTime() < deadline) {
      results += round(ctx, table, ix, model, r, check = true)
      r += 1
      if (r == DetRounds) {
        storedBytes = Stats.diskBytes(new File(root))
        userBytes = model.userBytes
      }
    }

    val det = results.take(DetRounds)
    val probes = det.map(_.probes).sum
    val freshHit = if (probes == 0) 0.0 else det.map(_.probeHits).sum.toDouble / probes
    val searchTimes = results.flatMap(_.searchMs).toSeq
    val e2e = Map(
      "setup_s" -> Stats.median(setups.map(_._4)),
      "op_p50_ms" -> Stats.median(if (searchTimes.isEmpty) Seq(Double.NaN) else searchTimes),
      "items_per_s" -> Stats.median(results.map(x => x.rows / (x.visibleMs / 1000.0)).toSeq),
      "quality" -> freshHit,
      "stored_bytes_per_user_byte" -> storedBytes.toDouble / userBytes)

    val layer = mutable.Map.empty[String, Double]
    val writeLayer = mutable.Map.empty[String, Double]
    val detOut = mutable.Map[String, Any](
      "fresh_hit_ratio" -> freshHit, "stored_bytes" -> storedBytes, "user_bytes" -> userBytes)
    if (ctx.trace) {
      tr.drain()
      val inWindow = (s: Span) => s.req >= 0
      def agg(name: String) = tr.agg(s => inWindow(s) && s.name == name)
      def perCall(name: String, f: Agg => Double) = { val a = agg(name); a.per(f(a)) }
      val search = tr.agg(s => inWindow(s) && (s.name == "table.search.point" || s.name == "table.collect.point"))
      val nSearch = agg("request.point").n
      def perSearch(x: Double) = if (nSearch == 0) 0.0 else x / nSearch
      val window = tr.agg(s => inWindow(s) && s.name.startsWith("table."))
      val commits = commitStats.filter(_._1 >= 0)
      layer ++= Map(
        "spark.jobs_per_search" -> perSearch(search.jobs.toDouble),
        "spark.tasks_per_search" -> perSearch(search.tasks.toDouble),
        "spark.driver_ms_per_search" -> perSearch(search.driverMs),
        "spark.log_lines_per_search" -> perSearch(search.logLines.toDouble),
        "spark.spill_bytes" -> window.spillBytes.toDouble,
        "spark.gc_ms" -> window.gcMs.toDouble,
        "table.create_s" -> Stats.median(setups.map(_._5 / 1000.0)),
        "table.search_call_ms" -> perSearch(agg("table.search.point").wallMs),
        "table.search_collect_ms" -> perSearch(agg("table.collect.point").wallMs),
        "streaming.build_s" -> Stats.median(setups.map(_._6 / 1000.0)),
        "index.list_bytes" -> Stats.diskBytes(new File(root, "index")).toDouble,
        "trace.op_p50_ms" -> e2e("op_p50_ms"))
      // the write path's own figures, outside the declared per-layer set
      writeLayer ++= Map(
        "spark.jobs_per_commit" -> perCall("table.commit", _.jobs.toDouble),
        "spark.jobs_per_refresh" -> perCall("streaming.refresh", _.jobs.toDouble),
        "table.commit_ms" -> perCall("table.commit", _.wallMs),
        "table.delete_ms" -> perCall("table.delete", _.wallMs),
        "table.compact_ms" -> perCall("table.compact", _.wallMs),
        "table.vacuum_ms" -> perCall("table.vacuum", _.wallMs),
        "table.buckets_touched_per_commit" ->
          (if (commits.isEmpty) 0.0 else commits.map(_._2).sum.toDouble / commits.size),
        "table.bytes_written_per_user_byte" ->
          (if (commits.isEmpty) 0.0 else commits.map(_._3).sum.toDouble / commits.map(_._4).sum),
        "streaming.refresh_ms" -> perCall("streaming.refresh", _.wallMs))
      // deterministic counts come from the first rounds only
      val first = tr.agg(s => s.req >= 0 && s.req < DetRounds && !s.name.startsWith("request."))
      first.tiers.foreach { case (t, n) =>
        if (Main.PerLayer.contains(s"streaming.tier.$t")) layer(s"streaming.tier.$t") = n.toDouble
      }
      def jobsIn(name: String) = tr.agg(s => s.req >= 0 && s.req < DetRounds && s.name == name).jobs
      detOut ++= Map("tiers" -> first.tiers.toMap,
        "jobs_commit" -> jobsIn("table.commit"), "jobs_delete" -> jobsIn("table.delete"),
        "jobs_refresh" -> jobsIn("streaming.refresh"), "jobs_search" ->
          tr.agg(s => s.req >= 0 && s.req < DetRounds && s.name.startsWith("table.") &&
            (s.name.endsWith(".point"))).jobs,
        "buckets_touched" -> commits.filter(_._1 < DetRounds).map(_._2))
    }
    Outcome(results.map(_.attempted.toLong).sum, results.map(_.failed.toLong).sum, e2e, layer.toMap, detOut.toMap, Map(
      "rounds" -> results.size, "searches" -> searchTimes.size,
      "commit_p50_ms" -> Stats.median(results.map(_.commitMs).toSeq),
      "visible_p50_ms" -> Stats.median(results.map(_.visibleMs).toSeq),
      "search_p90_ms" -> Stats.quantile(if (searchTimes.isEmpty) Seq(Double.NaN) else searchTimes, 0.9),
      "setup_s" -> setups.map(_._4), "write_layer" -> writeLayer.toMap))
  }

  private val warmModels = mutable.Map.empty[Int, Model]
  // (round, buckets touched, bytes written, user bytes) per traced commit
  private val commitStats = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]

  /** One round on `t`; `r < 0` marks an unchecked warm-up round. */
  private def round(ctx: Ctx, t: GammaTable, ix: IncrementalIndexer, m: Model, r: Int,
      check: Boolean): RoundResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._
    val rng = Gen.rng(m.seed, 21, r.toLong)
    val space = m.space
    var attempted, failed = 0
    // runs one operation; a throw counts as a failed operation
    def op[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception if check =>
          failed += 1
          ctx.fail(s"round $r $what: $e")
          None
      }
    }

    // the batch: Zipf-skewed updates of existing keys plus fresh keys
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < BatchRows) {
      if (rng.nextDouble() < FreshShare) { keys += m.nextKey; m.nextKey += 1 }
      else keys += (zipf.sample(rng).toLong * 7919L) % NDocs
    }
    val batch = keys.toSeq.map(k => Gen.doc(space, 1, k, version = r.toLong + 1000))
    val deleted =
      if (r % 2 != 0) Seq.empty[Long]
      else {
        val cands = m.live.keysIterator.filterNot(keys).toIndexedSeq.sorted
        Seq.fill(DeleteRows)(cands(rng.nextInt(cands.size))).distinct
      }
    val goneVecs = deleted.take(DeleteProbes).map(k => k -> m.live(k).vec)
    val batchDf = batch.toDF()
    val delDf = deleted.toDF("id")

    val before = if (tr.on && r >= 0) Some((t.meta.bucketVersions, Stats.diskBytes(new File(t.root, "data")))) else None
    val t0 = System.nanoTime()
    op("commit")(tr.span("table.commit", r)(t.addOrUpdate(batchDf)))
    val commitMs = (System.nanoTime() - t0) / 1e6
    before.foreach { case (bv, bytes) =>
      val touched = t.meta.bucketVersions.count { case (b, v) => !bv.get(b).contains(v) }
      commitStats += ((r, touched, Stats.diskBytes(new File(t.root, "data")) - bytes,
        batch.map(AnnSearch.userBytesOf).sum))
    }
    if (deleted.nonEmpty) op("delete")(tr.span("table.delete", r)(t.delete(delDf)))
    op("refresh")(tr.span("streaming.refresh", r)(ix.refresh()))
    val visibleMs = (System.nanoTime() - t0) / 1e6
    batch.foreach(d => m.live(d.id) = d)
    deleted.foreach(m.live.remove)

    // random queries, find-my-write probes (the written key must come
    // back) and find-my-delete probes (the deleted key must not)
    val searches: Seq[(String, Array[Float], Option[Long], Option[Long])] =
      (0 until RandomSearches).map(i => ("random", space.point(5, r * 100L + i + 1000000L), None, None)) ++
        batch.take(WriteProbes).map(d => ("write", d.vec, Some(d.id), None)) ++
        goneVecs.map { case (k, v) => ("delete", v, None, Some(k)) }
    val searchMs = mutable.ArrayBuffer.empty[Double]
    var probes, hits = 0
    searches.foreach { case (kind, q, want, notWant) =>
      val t1 = System.nanoTime()
      op(s"$kind search") {
        tr.span("request.point", r) {
          val df = tr.span("table.search.point", r)(
            t.search(SearchRequest(topn = TopN, vecQueries = Seq(VecQuery("vec", q)))))
          tr.span("table.collect.point", r)(df.select("id", "score").collect())
        }
      }.foreach { rows =>
        searchMs += (System.nanoTime() - t1) / 1e6
        val ids = rows.map(_.getLong(0)).toSeq
        if (check && !checkRows(ctx, r, kind, rows, m)) failed += 1
        if (want.isDefined || notWant.isDefined) {
          probes += 1
          if (want.forall(ids.contains) && notWant.forall(k => !ids.contains(k))) hits += 1
          else if (check) ctx.fail(s"round $r $kind probe ${want.orElse(notWant).get}: got ${ids.mkString(",")}")
        }
      }
    }

    // maintenance on a fixed schedule (warm-up rounds count -1, -2, ...)
    val k = if (r >= 0) r else -1 - r
    if (k % 4 == 1) op("compact")(tr.span("table.compact", r)(t.compactIfNeeded(CompactRatio)))
    if (k % 4 == 3) op("vacuum")(tr.span("table.vacuum", r)(t.vacuum()))
    RoundResult(commitMs, visibleMs, batch.size + deleted.size, searchMs.toSeq, probes, hits, attempted, failed)
  }

  /** At most topn rows, scores ascending, every id live. */
  private def checkRows(ctx: Ctx, r: Int, kind: String, rows: Array[Row], m: Model): Boolean = {
    val scores = rows.map(_.getDouble(1))
    val problem =
      if (rows.length > TopN) Some(s"${rows.length} rows > topn")
      else if (scores.zip(scores.drop(1)).exists { case (a, b) => a > b }) Some("scores not ascending")
      else rows.map(_.getLong(0)).find(k => !m.live.contains(k)).map(k => s"id $k is not live")
    problem.foreach(p => ctx.fail(s"round $r $kind search: $p"))
    problem.isEmpty
  }
}

object Churn {
  val NDocs = 10000
  val Buckets = 4
  val TopN = 10
  val SetupRepeats = 3
  val WarmRounds = 2
  val DetRounds = 2
  val BatchRows = 200
  val FreshShare = 0.25
  val DeleteRows = 40
  val RandomSearches = 1
  val WriteProbes = 1
  val DeleteProbes = 1
  val CompactRatio = 0.005
  val Params = IndexParams(ncentroids = 32, nprobe = 4)
  private val zipf = new Gen.Zipf(NDocs, 1.1)

  def docFrame(ctx: Ctx) = {
    val spark = ctx.spark
    import spark.implicits._
    val space = Gen.VecSpace(ctx.seed, AnnSearch.Dim, AnnSearch.Clusters, AnnSearch.Sigma)
    spark.range(0, NDocs, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(i => Gen.doc(space, 0, i))).toDF()
  }
}
