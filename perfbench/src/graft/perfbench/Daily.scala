package graft.perfbench

import java.io.File
import graft.tabjolt._
import org.apache.spark.sql.SparkSession

/** The TabJolt night: `Pipeline.runDaily` on the last generated day, with
  * the sources fetched from a `file://` "remote" dir and the email
  * captured. The traced night makes the same calls in `runDaily`'s order
  * with a span around each layer. */
final class Daily(spark: SparkSession, val inputs: DailyInputs, work: File, tracer: Tracer) {
  import Daily._

  private val stage = new File(work, "staged")
  private val rejectedRoot = new File(work, "rejected")
  private var night = 0

  private def uri(f: File): String = f.toURI.toString

  val config: PipelineConfig = {
    PipelineConfig(
      summaryLinePath = uri(new File(stage, "summary_line.csv")),
      winCounterPath = uri(new File(stage, "wincounter.tsv")),
      performanceSamplesPath = uri(new File(stage, "performance_samples.csv")),
      threadDetailsPath = uri(new File(stage, "thread_details.tsv")),
      rejectedPath = "",
      fetch = inputs.sources.map(s => (uri(new File(inputs.remoteDir, s)), uri(new File(stage, s)))))
  }

  /** One night through `Pipeline.runDaily`; returns its wall seconds and
    * the mismatches against the oracle. */
  def runUntraced(): (Double, Seq[String]) = {
    val cfg = nextConfig()
    val sink = new CaptureEmailSink
    val t0 = System.nanoTime()
    val html = Pipeline.runDaily(spark, cfg, inputs.runDate, sink)
    val dt = (System.nanoTime() - t0) / 1e9
    (dt, check(inputs.expect, html, sink))
  }

  /** One night as `runDaily` makes it, with a span per layer. */
  def runTraced(): (Double, Seq[String]) = {
    val cfg = nextConfig()
    val sink = new CaptureEmailSink
    val runDate = inputs.runDate
    val t0 = System.nanoTime()
    val html = tracer.span("night") {
      tracer.span("fetch")(Fetch.fetchAll(spark, cfg.fetch))
      val t = tracer.span("ingest")(Pipeline.ingest(spark, cfg))
      try {
        def scalar(name: String)(df: => org.apache.spark.sql.DataFrame): String =
          tracer.span(s"query.$name") {
            df.collect().headOption.map(r => Option(r.get(0)).map(_.toString).getOrElse(""))
              .getOrElse("No results found")
          }
        val metrics = Seq(
          "Average time taken for tabjolt run (values are in ms):" ->
            scalar("q1_avg")(Queries.dailyMetric(t.summaryLine, runDate, "Avg")),
          "Maximum time taken for tabjolt run (values are in ms):" ->
            scalar("q2_max")(Queries.dailyMetric(t.summaryLine, runDate, "Max")),
          "Minimum time taken for tabjolt run (values are in ms):" ->
            scalar("q3_min")(Queries.dailyMetric(t.summaryLine, runDate, "Min")),
          "Tabjolt test cases executed at " ->
            scalar("q4_latest")(Queries.latestExecution(t.winCounter)),
          "Average Historic time taken for tabjolt run (values are in ms):" ->
            scalar("q5_historic")(Queries.historicAvg(t.summaryLine)))
        val points = tracer.span("query.q6_trend")(Report.trendPoints(Queries.trendSeries(t.summaryLine)))
        val png = tracer.span("render.chart")(Report.trendChartPng(points))
        def rows(name: String)(df: => org.apache.spark.sql.DataFrame) =
          tracer.span(s"query.$name")(df.limit(TabjoltGen.RenderCap).collect().toSeq)
        val q7 = rows("q7_today")(Queries.todaysSamples(t.performanceSamples, runDate))
        val q8a = rows("q8a_regressions")(Queries.regressions(t.performanceSamples, runDate))
        val q8b = rows("q8b_improvements")(Queries.improvements(t.performanceSamples, runDate))
        tracer.count("query.rows_out", q7.size + q8a.size + q8b.size + points.size + metrics.size)
        val html = tracer.span("render.html")(Report.html(metrics, q7, q8a, q8b))
        val msg = MimeMessage(cfg.emailFrom, cfg.emailTo, cfg.emailSubject, html, png,
          "graph_cid", "image/png")
        tracer.span("send")(sink.send(msg))
        tracer.count("render.html_bytes", html.getBytes("UTF-8").length)
        tracer.count("render.png_bytes", png.length)
        tracer.count("send.mime_bytes", msg.render.length)
        html
      } finally t.cleanup()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    (dt, check(inputs.expect, html, sink))
  }

  private def nextConfig(): PipelineConfig = {
    night += 1
    config.copy(rejectedPath = uri(new File(rejectedRoot, s"night-$night")))
  }

  /** Checks the uncapped query results and the rejected sink once, off
    * the clock, against the oracle. Returns (checks made, mismatches). */
  def verify(): (Int, Seq[String]) = {
    val e = inputs.expect
    val cfg = config.copy(rejectedPath = uri(new File(work, "verify-rejected")))
    Fetch.fetchAll(spark, cfg.fetch)
    val t = Pipeline.ingest(spark, cfg)
    try {
      val d = inputs.runDate
      val checks = Seq[(String, () => Long, Long)](
        ("rejected records", () => t.loads.map(_.rejectedCount).sum, e.rejectedRecords.toLong),
        ("rejected sink lines", () => spark.read.text(cfg.rejectedPath).count(), e.rejectedLines),
        ("q7 rows", () => Queries.todaysSamples(t.performanceSamples, d).count(), e.q7Rows),
        ("q8a rows", () => Queries.regressions(t.performanceSamples, d).count(), e.q8aRows),
        ("q8b rows", () => Queries.improvements(t.performanceSamples, d).count(), e.q8bRows),
        ("red-alert rows", () => Queries.withAlertFlag(Queries.regressions(t.performanceSamples, d))
          .filter("is_alert").count(), e.redRows))
      val bad = checks.flatMap { case (name, got, want) =>
        val g = scala.util.Try(got())
        if (g.toOption.contains(want)) None else Some(s"$name: got ${g.fold(_.toString, _.toString)}, want $want")
      }
      (checks.size, bad)
    } finally t.cleanup()
  }
}

object Daily {
  /** The captured email against the oracle: one message, a PNG chart,
    * the five metric cells, and the rendered row counts of the three
    * sample tables (the uncapped counts, capped at the render limit). */
  def check(e: DailyExpect, html: String, sink: CaptureEmailSink): Seq[String] = {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    if (sink.sent.size != 1) bad += s"sent ${sink.sent.size} emails"
    sink.sent.headOption.foreach { m =>
      if (m.imageMime != "image/png") bad += s"chart is ${m.imageMime}"
      val png = m.inlineImage
      if (png.length < 8 || png(0) != 0x89.toByte || png(1) != 'P' || png(2) != 'N' || png(3) != 'G')
        bad += "chart bytes are not a PNG"
      if (m.htmlBody != html) bad += "email body differs from the rendered report"
    }
    e.metrics.foreach { case (k, v) =>
      if (!html.contains(s"<tr><td>$k</td><td>$v</td></tr>")) bad += s"metric '$k' is not '$v'"
    }
    val sections = html.split("<h3>", -1)
    if (sections.length != 5) bad += s"report has ${sections.length - 1} sections"
    else {
      def rows(s: String): Long = "<tr>".r.findAllMatchIn(s).size - 1L
      def capped(n: Long): Long = math.min(n, TabjoltGen.RenderCap.toLong)
      Seq(("q7", sections(2), e.q7Rows), ("q8a", sections(3), e.q8aRows),
        ("q8b", sections(4), e.q8bRows)).foreach { case (n, s, want) =>
        if (rows(s) != capped(want)) bad += s"$n shows ${rows(s)} rows, want ${capped(want)}"
      }
      val red = "<tr><td style=\"color:red\">".r.findAllMatchIn(sections(3)).size.toLong
      if (red != capped(e.redRows)) bad += s"red-alert rows $red, want ${capped(e.redRows)}"
      val top = "</tr>\n<tr><td>([^<]*)</td>".r.findFirstMatchIn(sections(2)).map(_.group(1))
      if (e.q7Rows > 0 && !top.contains(e.q7TopElapsed.toString))
        bad += s"q7 top elapsed ${top.getOrElse("-")}, want ${e.q7TopElapsed}"
    }
    bad.toSeq
  }
}
