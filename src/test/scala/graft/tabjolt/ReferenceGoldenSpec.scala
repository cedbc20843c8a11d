package graft.tabjolt

import java.nio.file.Files
import java.time.LocalDate
import graft.SparkSpec

/** End-to-end golden suite over the ACTUAL reference sample files — not
  * the hand-transcribed shapes Demo/ReportSpec use. Reads the bytes the
  * reference repo ships and pins every query output (values re-derived
  * by hand from the reference SQL semantics before pinning), so drift
  * between the engine and the reference's own data can never hide in a
  * fixture transcription error:
  *
  *  - `summary_line.csv` (4 rows, incl. the non-numeric `Err,0 0.00%`
  *    value the metric guards must screen);
  *  - `wincounter.tsv` (96 rows, 7-field TSV);
  *  - `modified_workbook.csv` (header-as-data JTL export: 6 samples +
  *    the header row loaded as data — SURVEY §2.1 S6 — one row with a
  *    quoted comma-carrying rm field);
  *  - `rejected.txt` as the thread-details ingest: this file is the
  *    reference's OWN Vertica `REJECTED DATA` sink output — a mix of
  *    345 6-field thread-detail TSV lines and 675 comma-delimited JTL
  *    sample rows. Loading it under the thread-details schema exercises
  *    the rejected-row sink on genuinely dirty reference bytes: the
  *    TSV lines load, everything else lands in the sink, nothing is
  *    lost (345 + 675 = the file's 1020 lines).
  *
  * runDate is pinned to 2024-07-30 (the day the samples cover) — the
  * reference's CURRENT_DATE, injected (SURVEY.md §2.2 E5). */
class ReferenceGoldenSpec extends SparkSpec {

  private val ref = "/root/reference"
  private val runDate = LocalDate.of(2024, 7, 30)

  private lazy val scratch = Files.createTempDirectory("graft-ref-golden")
  private lazy val cfg = PipelineConfig(
    summaryLinePath = s"$ref/summary_line.csv",
    winCounterPath = s"$ref/wincounter.tsv",
    performanceSamplesPath = s"$ref/modified_workbook.csv",
    threadDetailsPath = s"$ref/rejected.txt",
    rejectedPath = scratch.resolve("rejected").toString)
  private lazy val tables = Pipeline.ingest(spark, cfg)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** A test whose golden values come from the reference bytes: it fails
    * with one message naming any missing sample file before reading. */
  private def goldenTest(name: String)(body: => Any): Unit =
    test(name) { ReferenceFiles.requireIn(ref); body }

  goldenTest("ingest loads the reference files verbatim, lossless split") {
    assert(tables.summaryLine.count() == 4)
    assert(tables.winCounter.count() == 96)
    // 6 samples + the JTL header row ingested as data (screened later
    // by the queries' regexp guards, exactly like the reference)
    assert(tables.performanceSamples.count() == 7)
    // rejected.txt under the 6-field thread-details TSV schema: the
    // thread-detail lines parse, the embedded JTL CSV rows reject
    assert(tables.threadDetails.count() == 345)
    assert(spark.read.text(cfg.rejectedPath).count() == 675)
  }

  goldenTest("Q1/Q2/Q3 — today's Avg/Max/Min summary metric") {
    assert(rows(Queries.dailyMetric(tables.summaryLine, runDate, "Avg")) == Seq(Seq("12661")))
    assert(rows(Queries.dailyMetric(tables.summaryLine, runDate, "Max")) == Seq(Seq("12661")))
    assert(rows(Queries.dailyMetric(tables.summaryLine, runDate, "Min")) == Seq(Seq("12661")))
  }

  goldenTest("Q4 — latest wincounter execution timestamp") {
    assert(rows(Queries.latestExecution(tables.winCounter)) ==
      Seq(Seq(java.sql.Timestamp.valueOf("2024-07-30 15:30:13"))))
  }

  goldenTest("Q5 — historic average (single Avg row; Err row screened by metric filter)") {
    assert(rows(Queries.historicAvg(tables.summaryLine)) == Seq(Seq(12661)))
  }

  goldenTest("Q6 — trend series") {
    assert(rows(Queries.trendSeries(tables.summaryLine)) ==
      Seq(Seq(java.sql.Date.valueOf("2024-07-30"), 12661)))
  }

  goldenTest("Q7 — today's site-view samples (1 of 6: only one rm carries 'Site:')") {
    assert(rows(Queries.todaysSamples(tables.performanceSamples, runDate)) == Seq(Seq(
      12661, "0", "true", "Interact Viz Test",
      "Site: traimgtraimgprod; Workbook: StartTimeAnalysisv202403; View: ExamStartAnalysis;")))
  }

  // A plain test: missing sample files also yield empty results, so
  // this golden cannot tell them apart and runs without the files.
  test("Q8a/Q8b — empty: the sole site-view sample equals its own average") {
    assert(rows(Queries.regressions(tables.performanceSamples, runDate)).isEmpty)
    assert(rows(Queries.improvements(tables.performanceSamples, runDate)).isEmpty)
  }

  goldenTest("runDaily end-to-end over the reference files") {
    val sink = new CaptureEmailSink
    val e2eCfg = cfg.copy(rejectedPath = scratch.resolve("rejected-e2e").toString)
    val html = Pipeline.runDaily(spark, e2eCfg, runDate, sink)
    assert(sink.sent.size == 1)
    val msg = sink.sent.head
    assert(msg.subject == "Tabjolt Daily Run Summary")
    // all five scalar metrics rendered with their golden values
    assert(html.contains("Average time taken for tabjolt run"))
    assert(html.contains("12661"))
    assert(html.contains("2024-07-30 15:30:13"))
    // the one site-view sample row made the report table
    assert(html.contains("Interact Viz Test"))
    assert(msg.inlineImage.nonEmpty) // trend chart attached (PNG raster)
  }
}
