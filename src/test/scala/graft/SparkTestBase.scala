package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object SparkTestBase {
  lazy val spark: SparkSession = graft.core.GraftSession.local(cores = 8, appName = "graft-test")
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf0: String = "/root/testdata/sf0.001"

  /** Runs `f` and returns its value with the executed plan of every
    * Dataset action it ran, for code that runs its plans itself (a search
    * returns collected hits, so its result frame shows no plan). The
    * listener bus is async: settle by polling until the count is stable.
    */
  def withExecutedPlans[T](f: => T): (T, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val r = f
      var prev = -1
      var spins = 0
      while (plans.size != prev && spins < 50) {
        prev = plans.size; Thread.sleep(100); spins += 1
      }
      (r, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** Runs `f` and returns its value with the Spark jobs it started, each
    * as its stages' names, and the shuffle bytes their tasks wrote. The
    * listener bus is async: settle by polling until the count is stable.
    */
  def withJobs[T](f: => T): (T, Seq[String], Long) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val shuffle = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos.map(_.name).distinct.mkString(" | "))
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      var prev = -1
      var spins = 0
      while (jobs.size != prev && spins < 50) {
        prev = jobs.size; Thread.sleep(100); spins += 1
      }
      (r, jobs.asScala.toSeq, shuffle.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Whether `df` runs as the ANN rewrite's answer from an index that
    * searched on the driver: the local relation of its hits, reading no
    * table.
    */
  def answeredByIndex(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    p.contains("LocalTableScan") && """(Batch|File)Scan""".r.findFirstIn(p).isEmpty
  }
}
