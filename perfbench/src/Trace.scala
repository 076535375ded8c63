package perfbench

import java.io.{OutputStream, PrintStream}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call into a layer's public function, made from
  * the benchmark. Spans of one request share `req`; `parent` is the span
  * that was open when this one started (0 = none).
  */
final case class Span(id: Long, name: String, parent: Long, req: Long, startNs: Long, endNs: Long)

/** Spark work and side effects attributed to one span. */
final class SpanCost {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L // shuffle write + shuffle read
  var spillBytes = 0L
  var logLines = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // ms, from the listener
  val tiers = mutable.Map.empty[String, Long]

  /** Milliseconds covered by at least one of the span's jobs. */
  def jobMs: Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (curE < 0 || s > curE) {
        if (curE >= 0) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) covered += curE - curS
    covered
  }
}

/** Spans kept in memory, plus the benchmark's own Spark listener, which
  * attributes each job (and its stages' tasks) to the span open when the
  * job started, through the `perfbench.span` local property.
  *
  * With tracing off, `span` only runs its body: no listener, no property,
  * no stderr tee, no log appender.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  import Tracer.Prop

  private val ids = new AtomicLong(0L)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Long, Long)] = Nil // id, startNs
  private val costs = new java.util.concurrent.ConcurrentHashMap[Long, SpanCost]()
  @volatile private var current = 0L

  private def costOf(span: Long): SpanCost = costs.computeIfAbsent(span, _ => new SpanCost)

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      val c = costOf(span)
      c.synchronized(c.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
        val c = costOf(span)
        c.synchronized(c.jobIntervals += ((t0, e.time)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = Option(stageSpan.get(e.stageId)).getOrElse(0L)
      val m = e.taskMetrics
      val c = costOf(span)
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val origErr = System.err
  private val appender = new Tracer.CountingAppender(() => costOf(current))

  if (on) {
    sc.addSparkListener(listener)
    // the indexer reports its filtered-ANN tier as a `[tier] filtered-ann=<tier> ...`
    // line on stderr; count those per span and pass every byte through
    System.setErr(new PrintStream(new Tracer.TierTee(origErr, t => {
      val c = costOf(current)
      c.synchronized(c.tiers(t) = c.tiers.getOrElse(t, 0L) + 1)
    }), true))
    appender.install()
  }

  /** Runs `body` inside a span named `name` for request `req`. */
  def span[A](name: String, req: Long = 0L)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.headOption.map(_._1).getOrElse(0L)
      open = (id, System.nanoTime()) :: open
      sc.setLocalProperty(Prop, id.toString)
      current = id
      try body
      finally {
        val t0 = open.head._2
        open = open.tail
        done += Span(id, name, parent, req, t0, System.nanoTime())
        current = parent
        sc.setLocalProperty(Prop, if (parent == 0L) null else parent.toString)
      }
    }

  /** Waits until the listener has seen every event posted so far. Jobs post
    * their end event before the action returns, so after this every
    * finished span's cost is complete.
    */
  def drain(): Unit = if (on) {
    // waitUntilEmpty is private[spark]; reach it by reflection
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def close(): Unit = if (on) {
    drain()
    sc.removeSparkListener(listener)
    appender.uninstall()
    System.err.flush()
    System.setErr(origErr)
  }

  def spans: Seq[Span] = done.toSeq

  /** Summed over every span that `keep` selects (own cost only, not
    * children's).
    */
  def agg(keep: Span => Boolean): Agg = {
    val ss = done.filter(keep)
    val a = new Agg(ss.size)
    ss.foreach { s =>
      a.wallNs += s.endNs - s.startNs
      Option(costs.get(s.id)).foreach { c =>
        a.jobs += c.jobs; a.tasks += c.tasks; a.cpuNs += c.cpuNs; a.gcMs += c.gcMs
        a.shuffleBytes += c.shuffleBytes; a.spillBytes += c.spillBytes
        a.logLines += c.logLines; a.jobMs += c.jobMs
        c.tiers.foreach { case (t, n) => a.tiers(t) = a.tiers.getOrElse(t, 0L) + n }
      }
    }
    a
  }

  def spansJson: String = done.map { s =>
    val c = Option(costs.get(s.id))
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "jobs" -> c.map(_.jobs).getOrElse(0L), "tasks" -> c.map(_.tasks).getOrElse(0L),
      "cpu_ns" -> c.map(_.cpuNs).getOrElse(0L),
      "shuffle_bytes" -> c.map(_.shuffleBytes).getOrElse(0L),
      "log_lines" -> c.map(_.logLines).getOrElse(0L),
      "tiers" -> c.map(_.tiers.toMap).getOrElse(Map.empty[String, Long]))
  }.mkString("", "\n", "\n")
}

/** Cost summed over a group of spans. */
final class Agg(val n: Long) {
  var wallNs = 0L
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var logLines = 0L
  var jobMs = 0L
  val tiers = mutable.Map.empty[String, Long]

  def wallMs: Double = wallNs / 1e6
  def per(x: Double): Double = if (n == 0) 0.0 else x / n
  /** Wall time not covered by a Spark job of the span's own. */
  def driverMs: Double = math.max(0.0, wallMs - jobMs)
}

object Tracer {
  val Prop = "perfbench.span"

  /** Passes bytes through and reports the tier name of each `[tier]` line. */
  final class TierTee(out: OutputStream, onTier: String => Unit) extends OutputStream {
    private val line = new java.io.ByteArrayOutputStream()
    private val marker = "[tier] filtered-ann="
    override def write(b: Int): Unit = synchronized {
      out.write(b)
      if (b == '\n') {
        val s = line.toString("UTF-8")
        if (s.startsWith(marker)) onTier(s.substring(marker.length).takeWhile(_ != ' '))
        line.reset()
      } else if (line.size < 256) line.write(b)
    }
    override def flush(): Unit = out.flush()
  }

  /** Counts WARN-or-worse log events, per span, on the root logger. */
  final class CountingAppender(cost: () => SpanCost) {
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.logging.log4j.Level

    private val impl = new AbstractAppender("perfbench-count", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) {
          val c = cost()
          c.synchronized(c.logLines += 1)
        }
    }

    private def ctx = LoggerContext.getContext(false)

    def install(): Unit = {
      impl.start()
      ctx.getConfiguration.getRootLogger.addAppender(impl, Level.WARN, null: Filter)
      ctx.updateLoggers()
    }

    def uninstall(): Unit = {
      ctx.getConfiguration.getRootLogger.removeAppender(impl.getName)
      ctx.updateLoggers()
      impl.stop()
    }
  }
}
