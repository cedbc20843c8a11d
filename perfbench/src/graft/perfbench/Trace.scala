package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters attributed to the span that was open when a stage was
  * submitted (the span name travels as a job-local property). */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val taskNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val recordsRead = new AtomicLong
  val recordsWritten = new AtomicLong
}

/** Spans kept in memory and written as JSON lines at exit, plus a
  * SparkListener on the harness's own session that files job, stage,
  * task, shuffle and record counters under the open span. With tracing
  * off, [[span]] only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean, run: String) {
  private val Key = "perfbench.span"
  private val ids = new AtomicLong
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String)] = Nil
  private val bySpan = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Integer, String]()
  val total = new Counters

  private def counters(span: String): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      total.jobs.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .foreach(s => counters(s).jobs.incrementAndGet())
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      total.stages.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s); counters(s).stages.incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val targets = total +: Option(stageSpan.get(e.stageId)).map(counters).toSeq
      targets.foreach { c =>
        c.taskNs.addAndGet(m.executorRunTime * 1000000L)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        c.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Times `body` as span `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val prevProp = sc.getLocalProperty(Key)
      stack = (id, name) :: stack
      sc.setLocalProperty(Key, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, prevProp)
        spans.synchronized { spans += Span(id, name, parent, t0, t1, run) }
      }
    }

  /** Waits for the listener bus, so every task of a finished job has
    * been counted before the counters are read. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def countersOf(span: String): Counters = counters(span)

  private val counts = new ConcurrentHashMap[String, AtomicLong]()

  /** Adds `n` to the named count (a no-op with tracing off). */
  def count(name: String, n: Long): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new AtomicLong).addAndGet(n)

  def countOf(name: String): Long = Option(counts.get(name)).map(_.get).getOrElse(0L)

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  def writeJsonLines(file: java.io.File): Unit = if (enabled) {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      w.println(Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs), "run" -> Json.str(s.run))))
    } finally w.close()
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Long): String = v.toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
