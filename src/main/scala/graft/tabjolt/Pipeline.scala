package graft.tabjolt

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SMTP endpoint settings — field-for-field the reference's `smtp`
  * config section (config.json:9-16: sender_email, smtp_username,
  * smtp_password, smtp_server, smtp_port, recipient_emails). */
final case class SmtpConfig(
    server: String,
    port: Int,
    username: Option[String],
    password: Option[String],
    senderEmail: String,
    recipients: Seq[String],
    ssl: Boolean = true) {
  /** A live sink on this endpoint (SMTP_SSL + LOGIN, like
    * tabjolt_email.py:336-337). */
  def sink(timeoutMs: Int = 30000): SmtpEmailSink =
    new SmtpEmailSink(server, port, username, password, ssl, timeoutMs)
}

/** Pipeline configuration — the shape of the reference's config.json
  * (S3 source locations, SMTP endpoint; config.json:1-24). JDBC/Vertica
  * connection config has no analog: tables live wherever Spark reads
  * them. `fetch` is the download stage (tabjolt_email.py:351-359):
  * (src, dest) pairs staged before load, each failure logged and
  * skipped, never fatal. */
final case class PipelineConfig(
    summaryLinePath: String,
    winCounterPath: String,
    performanceSamplesPath: String,
    threadDetailsPath: String,
    rejectedPath: String,
    emailFrom: String = "graft@localhost",
    emailTo: Seq[String] = Seq("team@localhost"),
    emailSubject: String = "Tabjolt Daily Run Summary",
    smtp: Option[SmtpConfig] = None,
    fetch: Seq[(String, String)] = Nil)

object PipelineConfig {
  import com.fasterxml.jackson.databind.JsonNode
  import scala.jdk.CollectionConverters._

  /** Load from a config.json (SURVEY.md §2.1 S2). Shape:
    * {"paths": {"summary_line": ..., "wincounter": ..., "performance_samples": ...,
    *            "thread_details": ..., "rejected": ...},
    *  "email": {"from": ..., "to": [...], "subject": ...},
    *  "smtp":  {"smtp_server": ..., "smtp_port": 465, "smtp_username": ...,
    *            "smtp_password": ..., "sender_email": ...,
    *            "recipient_emails": [...], "ssl": true},
    *  "fetch": [{"src": ..., "dest": ...}, ...]}
    * The `smtp` field names are the reference's own (config.json:9-16);
    * when `email` is absent, from/to default to the smtp sender and
    * recipients, as the reference wires them (tabjolt_email.py:336-339).
    * Paths may be any Hadoop-readable URI (file://, s3a://, hdfs://). */
  def fromJson(path: String): PipelineConfig = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    def req(node: JsonNode, field: String): JsonNode = {
      val n = node.get(field)
      require(n != null, s"config: missing field '$field'")
      n
    }
    def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
    val p = req(root, "paths")
    val email = Option(root.get("email"))
    val smtp = Option(root.get("smtp")).map { s =>
      SmtpConfig(
        server = req(s, "smtp_server").asText,
        port = req(s, "smtp_port").asInt,
        username = Option(s.get("smtp_username")).map(_.asText),
        password = Option(s.get("smtp_password")).map(_.asText),
        senderEmail = req(s, "sender_email").asText,
        recipients = Option(s.get("recipient_emails")).map(strings).getOrElse(Nil),
        ssl = Option(s.get("ssl")).forall(_.asBoolean))
    }
    val fetch = Option(root.get("fetch")).map(_.elements.asScala.map { f =>
      (req(f, "src").asText, req(f, "dest").asText)
    }.toSeq).getOrElse(Nil)
    PipelineConfig(
      summaryLinePath = req(p, "summary_line").asText,
      winCounterPath = req(p, "wincounter").asText,
      performanceSamplesPath = req(p, "performance_samples").asText,
      threadDetailsPath = req(p, "thread_details").asText,
      rejectedPath = req(p, "rejected").asText,
      emailFrom = email.flatMap(e => Option(e.get("from"))).map(_.asText)
        .orElse(smtp.map(_.senderEmail))
        .getOrElse("graft@localhost"),
      emailTo = email.flatMap(e => Option(e.get("to"))).map(strings)
        .orElse(smtp.map(_.recipients).filter(_.nonEmpty))
        .getOrElse(Seq("team@localhost")),
      emailSubject = email.flatMap(e => Option(e.get("subject"))).map(_.asText)
        .getOrElse("Tabjolt Daily Run Summary"),
      smtp = smtp,
      fetch = fetch)
  }
}

/** The download stage — the Spark-side analog of the reference's
  * per-file S3 pull (tabjolt_email.py:17-31, 358-359): each (src, dest)
  * is copied through the Hadoop FileSystem API (so `file://`, `s3a://`,
  * `hdfs://` all work when the FS is on the classpath), and a failed
  * fetch LOGS AND CONTINUES — the reference prints the boto3 error and
  * moves to the next file; the pipeline then runs on whatever staged. */
object Fetch {
  final case class FetchResult(src: String, dest: String, error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  def fetchAll(spark: SparkSession, files: Seq[(String, String)]): Seq[FetchResult] =
    files.map { case (src, dest) =>
      try {
        val conf = spark.sparkContext.hadoopConfiguration
        val srcPath = new org.apache.hadoop.fs.Path(src)
        val destPath = new org.apache.hadoop.fs.Path(dest)
        org.apache.hadoop.fs.FileUtil.copy(
          srcPath.getFileSystem(conf), srcPath,
          destPath.getFileSystem(conf), destPath,
          /*deleteSource=*/ false, /*overwrite=*/ true, conf)
        FetchResult(src, dest, None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          // reference semantics: print and continue (tabjolt_email.py:28-31)
          System.err.println(s"[graft.Fetch] error fetching $src -> $dest: $e")
          FetchResult(src, dest, Some(e.toString))
      }
    }
}

/** End-to-end daily-report pipeline — the Spark re-expression of the
  * reference's __main__ (tabjolt_email.py:345-394): load the four tables
  * (rejected rows to the side sink), run the nine queries, render the
  * trend chart + HTML report, hand to the email sink.
  *
  * The S3 download step (tabjolt_email.py:351-359) is [[Fetch]]: the
  * config's `fetch` pairs are staged first, and a failed fetch is logged
  * and skipped, so the run reports on whatever staged. The *Path fields
  * may also name `s3a://` URIs, which Spark reads directly when a Hadoop
  * S3 filesystem is on the classpath.
  */
object Pipeline {

  final case class TabjoltTables(summaryLine: DataFrame, winCounter: DataFrame,
                                 performanceSamples: DataFrame, threadDetails: DataFrame,
                                 loads: Seq[Ingest.LoadResult]) {
    /** Release the ingest caches (call when done querying the tables). */
    def cleanup(): Unit = loads.foreach(_.cleanup())
  }

  /** Loads the four source tables and appends their rejected rows to the
    * side sink in ONE write (one job and one commit, not four): an
    * ordinary partitioned text write, with no collect. A source
    * that fails to resolve (file deleted, fetch failed) logs and yields an
    * EMPTY table rather than aborting the run — the reference skips
    * missing files and reports on whatever loaded
    * (tabjolt_email.py:371-375). A failed sink write releases every parse
    * cache and substitutes an empty table for every source, as a failed
    * load does. */
  def ingest(spark: SparkSession, cfg: PipelineConfig): TabjoltTables = {
    val sources = Seq(
      (cfg.summaryLinePath, Schemas.summaryLine, ","),
      (cfg.winCounterPath, Schemas.winCounter, "\t"),
      (cfg.performanceSamplesPath, Schemas.performanceSamples, ","),
      (cfg.threadDetailsPath, Schemas.threadDetails, "\t"))
    def notLoaded(path: String, e: Throwable): Unit =
      System.err.println(s"[graft.Pipeline] source not loaded: $path ($e)")
    val loads = sources.map { case (path, schema, delim) =>
      try Ingest.load(spark, path, schema, delim)
      catch {
        case scala.util.control.NonFatal(e) =>
          notLoaded(path, e)
          Ingest.emptyLoad(spark, schema)
      }
    }
    val kept =
      try {
        loads.map(_.rejected).reduce(_ union _).write.mode("append").text(cfg.rejectedPath)
        loads
      } catch {
        case scala.util.control.NonFatal(e) =>
          loads.foreach(_.cleanup())
          sources.map { case (path, schema, _) =>
            notLoaded(path, e)
            Ingest.emptyLoad(spark, schema)
          }
      }
    val Seq(sl, wc, ps, td) = kept
    TabjoltTables(sl.good, wc.good, ps.good, td.good, kept)
  }

  /** Runs the full daily pipeline against the sink the config names —
    * the reference's __main__ entry shape (config-driven SMTP,
    * tabjolt_email.py:345-394). Requires an `smtp` config section. */
  def runDaily(spark: SparkSession, cfg: PipelineConfig, runDate: LocalDate): String =
    runDaily(spark, cfg, runDate,
      cfg.smtp.map(_.sink()).getOrElse(sys.error(
        "config has no smtp section; pass an EmailSink explicitly")))

  /** Runs the full report for `runDate` and sends it through `sink`.
    * Returns the rendered HTML for inspection. */
  def runDaily(spark: SparkSession, cfg: PipelineConfig, runDate: LocalDate,
               sink: EmailSink): String = {
    Fetch.fetchAll(spark, cfg.fetch) // stage remote sources; failures logged, non-fatal
    val t = ingest(spark, cfg)
    try {

    def scalarString(df: DataFrame): String =
      df.collect().headOption.map(r => Option(r.get(0)).map(_.toString).getOrElse("")).getOrElse("No results found")

    val metrics = Seq(
      "Average time taken for tabjolt run (values are in ms):" ->
        scalarString(Queries.dailyMetric(t.summaryLine, runDate, "Avg")),
      "Maximum time taken for tabjolt run (values are in ms):" ->
        scalarString(Queries.dailyMetric(t.summaryLine, runDate, "Max")),
      "Minimum time taken for tabjolt run (values are in ms):" ->
        scalarString(Queries.dailyMetric(t.summaryLine, runDate, "Min")),
      "Tabjolt test cases executed at " ->
        scalarString(Queries.latestExecution(t.winCounter)),
      "Average Historic time taken for tabjolt run (values are in ms):" ->
        scalarString(Queries.historicAvg(t.summaryLine)))

    // PNG to match the reference's matplotlib sink (tabjolt_email.py:329-333);
    // SVG fallback only if the JVM raster path is unavailable
    val trendPts = Report.trendPoints(Queries.trendSeries(t.summaryLine))
    val (chartBytes, chartMime) =
      try (Report.trendChartPng(trendPts), "image/png")
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft.Pipeline] PNG raster failed, falling back to SVG: $e")
          (Report.trendChartSvg(trendPts).getBytes("UTF-8"), "image/svg+xml")
      }
    // Collects are bounded: per-view aggregates are small by construction,
    // but todaysSamples is one row PER REQUEST SAMPLE — on a heavy test
    // day that is unbounded, so the render keeps the top maxRenderRows
    // slowest (the query is already sorted slowest-first).
    val maxRenderRows = 10000
    val htmlBody = Report.html(
      metrics,
      Queries.todaysSamples(t.performanceSamples, runDate).limit(maxRenderRows).collect().toSeq,
      Queries.regressions(t.performanceSamples, runDate).limit(maxRenderRows).collect().toSeq,
      Queries.improvements(t.performanceSamples, runDate).limit(maxRenderRows).collect().toSeq)

    sink.send(MimeMessage(cfg.emailFrom, cfg.emailTo, cfg.emailSubject,
      htmlBody, chartBytes, "graph_cid", chartMime))
    htmlBody
    } finally t.cleanup() // release ingest caches on every path
  }
}
