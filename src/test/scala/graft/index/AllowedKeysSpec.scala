package graft.index

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.GraftSuite

/** The keys job (`AllowedKeys.collect`): one pass that counts an allowed
  * set and, within the key bound, brings its keys to the driver — never
  * more keys than the bound, however the set is spread over the tasks.
  */
class AllowedKeysSpec extends GraftSuite {
  import spark.implicits._

  /** `f`'s value with the task-result bytes its `tasks` tasks sent to the
    * driver (the listener bus is async: wait for every task's end event).
    */
  private def resultBytes[T](tasks: Int)(f: => T): (T, Long) = {
    val ended = new AtomicInteger(0)
    val bytes = new AtomicLong(0L)
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        Option(te.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
        ended.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      var spins = 0
      while (ended.get() < tasks && spins < 100) { Thread.sleep(100); spins += 1 }
      assert(ended.get() === tasks)
      (r, bytes.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  // 40,000 long keys in 4 tasks of 10,000
  private def keys: DataFrame = spark.range(0L, 40000L, 1L, 4).toDF("id")

  test("a set above the bound returns its count alone, even when every task is within the bound") {
    // each task's 10,000 keys are within the 20,000 bound, but the set is
    // not: no task may ship its keys (all of them would be 40,000 keys,
    // about 640 kB of packed rows)
    val (a, bytes) = resultBytes(4)(AllowedKeys.collect(keys, 20000L))
    assert(a.count === 40000L)
    assert(a.packed.isEmpty)
    assert(bytes < 64L * 1024, s"tasks returned $bytes bytes")
  }

  test("a set within the bound comes back whole") {
    val (a, bytes) = resultBytes(4)(AllowedKeys.collect(keys, 40000L))
    assert(a.count === 40000L)
    assert(a.keys.get.map(_.asInstanceOf[Long]).sorted.toSeq === (0L until 40000L))
    assert(bytes > 40000L * 8, s"tasks returned $bytes bytes")
  }

  test("a negative bound only counts; null keys are counted, not kept") {
    val counted = AllowedKeys.collect(keys, -1L)
    assert(counted.count === 40000L)
    assert(counted.packed.isEmpty)
    val withNull = Seq(Some("a"), None, Some("c")).toDF("id").repartition(2)
    val a = AllowedKeys.collect(withNull, 10L)
    assert(a.count === 3L)
    assert(a.keys.get.map(_.toString).sorted.toSeq === Seq("a", "c"))
  }
}
