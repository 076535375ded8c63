package graft

import scala.util.control.NonFatal

/** Scratch plan-capture main (not part of the driver contract): runs the
  * named gates and writes, per gate, EVERY SQL execution's formatted
  * physical plan plus the returned frame's `explain("formatted")` to
  * `<outDir>/<gate>.txt` — the evidence files for plans/r14/.
  *
  * Gates here are multi-action programs (index builds, commits, verdict
  * arms), so a single final-frame explain would hide most of the executed
  * work; the execution-start listener captures the real plan of every
  * action the gate runs, in order.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <gate>[,<gate>...]")
    val outDir = args(0)
    val gates = args(1).split(",").toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    val buf = new java.lang.StringBuilder
    var execSeen = 0
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            buf.synchronized {
              execSeen += 1
              buf.append(s"\n===== SQL execution ${s.executionId} (#$execSeen in gate) =====\n")
              buf.append(s.physicalPlanDescription).append("\n")
            }
          case _ =>
        }
    })
    gates.foreach { g =>
      buf.setLength(0); execSeen = 0
      val df = SparkEntry.queries(g)(spark, dir)
      val n = df.count()
      // drain the listener bus deterministically before snapshotting —
      // a fixed sleep lost straggling events under load (r14 advice);
      // waitUntilEmpty is private[spark], hence reflection, with the old
      // sleep as fallback
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch {
        // reflection wraps the target's exceptions: an interrupt must stay
        // visible to the caller, not be swallowed into the fallback sleep
        case e: Exception if e.isInstanceOf[InterruptedException] ||
            e.getCause.isInstanceOf[InterruptedException] =>
          Thread.currentThread().interrupt()
        case NonFatal(_) => Thread.sleep(500)
      }
      val plans = buf.synchronized(buf.toString)
      val fin = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val text = s"== $g (rows=$n, ${execSeen} SQL executions during gate) ==\n" +
        plans + s"\n===== returned frame explain(formatted) =====\n$fin\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$g.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] $g -> $outDir/$g.txt (${execSeen} executions)")
    }
    spark.stop()
  }
}
