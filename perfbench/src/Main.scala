package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layer: Map[String, Double],
    // values that must repeat exactly for the same seed
    deterministic: Map[String, Any],
    details: Map[String, Any])

final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    tracer: Tracer,
    work: File,
    errors: mutable.ArrayBuffer[String]) {

  /** Records a failed check (at most 20 messages are kept). */
  def fail(msg: String): Unit = if (errors.size < 20) errors += msg

  def trace: Boolean = tracer.on
}

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** Benchmark entry point; `run.py` builds and launches it.
  *
  * {{{ perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <report file> }}}
  *
  * Writes one JSON report; `run.py` turns it into the result line.
  */
object Main {
  val EndToEnd: Seq[String] = Seq(
    "setup_s", "op_p50_ms", "items_per_s", "quality", "stored_bytes_per_user_byte")

  /** Must equal the `per_layer` names in BENCHMARK.json (run.py checks). */
  val PerLayer: Seq[String] = Seq(
    "spark.jobs_per_search", "spark.tasks_per_search", "spark.driver_ms_per_search",
    "spark.log_lines_per_search", "spark.executor_cpu_ms_per_query",
    "spark.shuffle_bytes_per_query", "spark.shuffle_bytes_per_doc", "spark.spill_bytes",
    "spark.gc_ms", "table.create_s", "table.search_call_ms", "table.search_collect_ms",
    "streaming.build_s", "streaming.scanned_rows_per_search", "streaming.tier.indexed-unfiltered",
    "streaming.tier.indexed-widened-probe", "streaming.tier.exact-fallback", "index.list_bytes",
    "index.cpu_ns_per_scanned_row", "text.quality_ms", "dedup.exact_ms", "dedup.minhash_ms",
    "dedup.cluster_ms", "dedup.keep_best_ms", "dedup.candidates_per_true_pair", "trace.op_p50_ms")

  val Workloads: Map[String, () => Workload] = Map(
    "ann_search" -> (() => new AnnSearch),
    "churn" -> (() => new Churn),
    "curation" -> (() => new Curation))

  /** Time the JVM spent in garbage collection and JIT compilation so far,
    * and the number of classes Spark's code generator compiled.
    */
  def jvmTimes: Map[String, Any] = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    Map(
      "jvm_gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      "jvm_jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: perfbench.Main <workload> <seed> <seconds> <trace> <work> <report>")
    val Array(name, seedS, secondsS, traceS, workS, reportS) = args
    val workload = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name; known: ${Workloads.keys.mkString(", ")}"))()
    val work = new File(workS)
    work.mkdirs()

    // host speed, recorded (never used to scale a metric); untimed, before
    // Spark starts and before any set-up
    val t0 = System.nanoTime()
    val calibration = graft.HostCalibration.runJson()
    val calibrationS = (System.nanoTime() - t0) / 1e9

    // one Spark task thread per core: more threads than cores only adds
    // scheduling noise on a local master
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.local(cores = cores, appName = s"perfbench-$name")
    val sparkS = (System.nanoTime() - t0) / 1e9 - calibrationS
    try {
      // fixed JVM/codegen warm-up, outside every measurement
      spark.range(100000).selectExpr("sum(id)", "max(hash(id))").collect()

      val workloadStart = System.nanoTime()
      val tracer = new Tracer(traceS == "1", spark.sparkContext)
      val ctx = Ctx(spark, seedS.toLong, secondsS.toInt, tracer, work, mutable.ArrayBuffer.empty)
      val out = try workload.run(ctx) finally tracer.close()

      val missing = EndToEnd.filterNot(out.e2e.contains)
      require(missing.isEmpty, s"workload $name did not report ${missing.mkString(", ")}")
      val unknown = out.layer.keySet -- PerLayer
      require(unknown.isEmpty, s"workload $name reported undeclared metrics ${unknown.mkString(", ")}")
      val layer = PerLayer.map(n => n -> out.layer.getOrElse(n, 0.0)).toMap

      if (ctx.trace) {
        val w = new PrintWriter(new File(reportS + ".spans.jsonl"))
        try w.write(tracer.spansJson) finally w.close()
      }
      val report = Json.obj(
        "workload" -> name, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> ctx.trace,
        "cores" -> cores,
        "calibration" -> Json.Raw(calibration),
        "attempted" -> out.attempted, "failed" -> out.failed,
        "correct" -> (out.failed == 0 && ctx.errors.isEmpty),
        "errors" -> ctx.errors.toSeq,
        "end_to_end" -> out.e2e,
        "per_layer" -> layer,
        "deterministic" -> out.deterministic,
        "details" -> (out.details ++ Map("spans" -> tracer.spans.size, "calibration_s" -> calibrationS, "spark_start_s" -> sparkS,
          "before_workload_s" -> (workloadStart - t0) / 1e9) ++ jvmTimes))
      val w = new PrintWriter(new File(reportS))
      try w.write(report + "\n") finally w.close()
    } finally spark.stop()
  }
}
