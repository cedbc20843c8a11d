package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, count}

/** Pins the execution page size [[Sessions.graftDefaults]] sets: every
  * hash aggregate, sorter and hashed-join build takes at least one page
  * per task, so a small task's peak execution memory is the page size. */
class SessionsSpec extends SparkSpec {

  test("a small aggregate's tasks take small execution pages") {
    val sc = spark.sparkContext
    val peaks = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => peaks.add(m.peakExecutionMemory))
    }
    GraftListenerBus.drain(sc, 30000L)
    sc.addSparkListener(listener)
    try {
      val groups = spark.range(1000).groupBy((col("id") % 10).as("k")).agg(count("*")).collect()
      assert(groups.length == 10)
      GraftListenerBus.drain(sc, 30000L)
    } finally sc.removeSparkListener(listener)
    val seen = peaks.asScala.map(_.longValue).toSeq
    assert(seen.nonEmpty, "no task ended")
    assert(seen.max <= (4L << 20), s"task peaks ${seen.sorted.reverse.mkString(", ")} bytes")
  }
}
