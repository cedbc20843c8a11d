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
  * The reference runs that work as a straight-line script, one round
  * trip each (tabjolt_email.py:361-387). Here a night is one dataflow of
  * futures on a [[Night]], where each value waits only on what it reads:
  * the four loads; on each table's load, the jobs that read it (Q1–Q3 as
  * one [[Queries.dailyMetrics]] job, Q4, Q5, Q6 with the chart render,
  * Q7 and the per-view aggregate); Q8a and Q8b on the collected
  * aggregate; and the one rejected-row write on all four loads.
  *
  * The S3 download step (tabjolt_email.py:351-359) is [[Fetch]]: the
  * config's `fetch` pairs are staged first, and a failed fetch is logged
  * and skipped, so the run reports on whatever staged. The *Path fields
  * may also name `s3a://` URIs, which Spark reads directly when a Hadoop
  * S3 filesystem is on the classpath.
  */
object Pipeline {
  import scala.concurrent.Future
  import scala.util.Try
  import scala.util.control.NonFatal
  import org.apache.spark.sql.Row

  final case class TabjoltTables(summaryLine: DataFrame, winCounter: DataFrame,
                                 performanceSamples: DataFrame, threadDetails: DataFrame,
                                 loads: Seq[Ingest.LoadResult]) {
    /** Release the ingest caches (call when done querying the tables). */
    def cleanup(): Unit = loads.foreach(_.cleanup())
  }

  /** The Spark jobs of a night: the four loads, the write, Q1–Q3, Q4, Q5,
    * Q6, Q7, the per-view aggregate, Q8a and Q8b. */
  private val NightJobs = 13
  private val MaxRenderRows = 10000

  /** The four sources, in the order of [[TabjoltTables]]. */
  private def sources(cfg: PipelineConfig) = Seq(
    (cfg.summaryLinePath, Schemas.summaryLine, ","),
    (cfg.winCounterPath, Schemas.winCounter, "\t"),
    (cfg.performanceSamplesPath, Schemas.performanceSamples, ","),
    (cfg.threadDetailsPath, Schemas.threadDetails, "\t"))

  private def notLoaded(path: String, e: Throwable): Unit =
    System.err.println(s"[graft.Pipeline] source not loaded: $path ($e)")

  /** The four loads, started on `night`. A source that fails to resolve
    * (file deleted, fetch failed) logs and yields an EMPTY table rather
    * than aborting the run — the reference skips missing files and
    * reports on whatever loaded (tabjolt_email.py:371-375). */
  private def load(spark: SparkSession, cfg: PipelineConfig)(
      implicit night: Night): Seq[Future[Ingest.LoadResult]] =
    sources(cfg).map { case (path, schema, delim) =>
      Future {
        try Ingest.load(spark, path, schema, delim)
        catch {
          case NonFatal(e) =>
            notLoaded(path, e)
            Ingest.emptyLoad(spark, schema)
        }
      }
    }

  /** Appends the rejected rows of `loads` to the side sink in ONE write
    * (one job and one commit, not four: an ordinary partitioned text
    * write, with no collect) once all four are in, and awaits it. Returns
    * the write's failure, if any; `night` is then stopped. */
  private def writeFailure(cfg: PipelineConfig, loads: Seq[Future[Ingest.LoadResult]])(
      implicit night: Night): Option[Throwable] =
    Try(night.await(Future.sequence(loads).map { ls =>
      ls.map(_.rejected).reduce(_ union _).write.mode("append").text(cfg.rejectedPath)
    })).failed.toOption

  /** The tables a failed write leaves: an empty one for every source, as
    * a failed load yields. */
  private def empty(spark: SparkSession, cfg: PipelineConfig, e: Throwable): Seq[Ingest.LoadResult] =
    sources(cfg).map { case (path, schema, _) =>
      notLoaded(path, e)
      Ingest.emptyLoad(spark, schema)
    }

  /** Releases the parse cache of every load that has ended. */
  private def release(loads: Seq[Future[Ingest.LoadResult]]): Unit =
    loads.foreach(_.value.foreach(_.foreach(_.cleanup())))

  /** Loads the four source tables at the same time and appends their
    * rejected rows to the side sink; returns when the write has ended. A
    * failed write releases every parse cache and substitutes an empty
    * table for every source, as a failed load does. */
  def ingest(spark: SparkSession, cfg: PipelineConfig): TabjoltTables = {
    val results = Night.run(spark, jobs = 4) { implicit night =>
      val loads = load(spark, cfg)
      writeFailure(cfg, loads) match {
        case None => loads.map(night.await)
        case Some(e) =>
          release(loads)
          empty(spark, cfg, e)
      }
    }
    val Seq(sl, wc, ps, td) = results
    TabjoltTables(sl.good, wc.good, ps.good, td.good, results)
  }

  /** Runs the full daily pipeline against the sink the config names —
    * the reference's __main__ entry shape (config-driven SMTP,
    * tabjolt_email.py:345-394). Requires an `smtp` config section. */
  def runDaily(spark: SparkSession, cfg: PipelineConfig, runDate: LocalDate): String =
    runDaily(spark, cfg, runDate,
      cfg.smtp.map(_.sink()).getOrElse(sys.error(
        "config has no smtp section; pass an EmailSink explicitly")))

  /** Runs the full report for `runDate` and sends it through `sink`.
    * Returns the rendered HTML for inspection.
    *
    * A table's queries start the moment its own load ends (see
    * [[Pipeline]]). The rejected-row write is registered after the
    * reads, and `Future.sequence` hands it to the pool only once the
    * reads of the last load to end are queued. The pool runs its queue in
    * order, so the write waits behind them and stays off the night's
    * critical path, the per-view aggregate and then Q8a and Q8b. Two
    * simpler shapes were slower when this one was sized on `perfbench`
    * `daily_deep` (4 cores, `warm_p50_s` medians): a barrier that awaits
    * all four loads before starting any read, 0.873 s against 0.808 s
    * for per-table starts (seeds 21–30), and the write registered ahead
    * of the reads, 0.814 s against 0.771 s (seeds 11–20).
    *
    * If the write fails, the night is stopped (its running jobs cancelled
    * and awaited), every parse cache is released, and the same report
    * runs once more, on a fresh night, on the empty tables that
    * [[ingest]] returns then. On any other failure the night is stopped
    * and the caches released before the failure is rethrown. The caches
    * are released once, after the last await and before the send. */
  def runDaily(spark: SparkSession, cfg: PipelineConfig, runDate: LocalDate,
               sink: EmailSink): String = {
    Fetch.fetchAll(spark, cfg.fetch) // stage remote sources; failures logged, non-fatal
    val rendered = Night.run(spark, NightJobs) { implicit night =>
      val loads = load(spark, cfg)
      val render = report(spark, runDate, loads)
      try writeFailure(cfg, loads).toLeft(render())
      finally {
        night.stop()
        release(loads)
      }
    }
    val (htmlBody, chartBytes, chartMime) = rendered match {
      case Right(r) => r
      case Left(e) =>
        Night.run(spark, NightJobs) { implicit night =>
          report(spark, runDate, empty(spark, cfg, e).map(Future.successful)).apply()
        }
    }
    sink.send(MimeMessage(cfg.emailFrom, cfg.emailTo, cfg.emailSubject,
      htmlBody, chartBytes, "graph_cid", chartMime))
    htmlBody
  }

  /** Registers the report's reads on `loads` (in the order of
    * [[TabjoltTables]]), each a `map` on the load of the table it reads:
    * Q1–Q3 (one job), Q5, and Q6 with the chart render on
    * `summary_line`; Q4 on `wincounter`; Q7 and the per-view aggregate on
    * `performance_samples`. Q8a and Q8b are `map`s on the collected
    * aggregate. Returns the render, which awaits them all on `night`: the
    * report's HTML, chart bytes and chart MIME type. */
  private def report(spark: SparkSession, runDate: LocalDate, loads: Seq[Future[Ingest.LoadResult]])(
      implicit night: Night): () => (String, Array[Byte], String) = {
    import scala.jdk.CollectionConverters._
    def read[A](table: Int)(query: DataFrame => A): Future[A] = loads(table).map(l => query(l.good))
    // Q7, Q8a and Q8b are capped: per-view aggregates are small by
    // construction, but todaysSamples is one row PER REQUEST SAMPLE — on
    // a heavy test day that is unbounded, so the render keeps the top
    // MaxRenderRows (each query is sorted slowest-first).
    def capped(df: DataFrame): Seq[Row] = df.limit(MaxRenderRows).collect().toSeq
    val daily = read(0)(df => Queries.dailyMetrics(df, runDate, Seq("Avg", "Max", "Min")).collect().toSeq)
    val historic = read(0)(df => Queries.historicAvg(df).collect().toSeq)
    val chart = read(0)(df => chartOf(Report.trendPoints(Queries.trendSeries(df))))
    val latest = read(1)(df => Queries.latestExecution(df).collect().toSeq)
    val today = read(2)(df => capped(Queries.todaysSamples(df, runDate)))
    val averages = read(2) { df =>
      val aggregate = Queries.perViewAverage(df)
      (df, spark.createDataFrame(aggregate.collect().toSeq.asJava, aggregate.schema))
    }
    val regressions = averages.map { case (df, aa) => capped(Queries.regressions(df, aa, runDate)) }
    val improvements = averages.map { case (df, aa) => capped(Queries.improvements(df, aa, runDate)) }
    () => {
      def scalar(rows: Seq[Row]): String =
        rows.headOption.map(r => Option(r.get(0)).map(_.toString).getOrElse("")).getOrElse("No results found")
      val metricRows = night.await(daily)
      def metric(m: String): String = scalar(metricRows.filter(_.getString(1) == m))
      val metrics = Seq(
        "Average time taken for tabjolt run (values are in ms):" -> metric("Avg"),
        "Maximum time taken for tabjolt run (values are in ms):" -> metric("Max"),
        "Minimum time taken for tabjolt run (values are in ms):" -> metric("Min"),
        "Tabjolt test cases executed at " -> scalar(night.await(latest)),
        "Average Historic time taken for tabjolt run (values are in ms):" ->
          scalar(night.await(historic)))
      val (chartBytes, chartMime) = night.await(chart)
      (Report.html(metrics, night.await(today), night.await(regressions), night.await(improvements)),
        chartBytes, chartMime)
    }
  }

  /** PNG to match the reference's matplotlib sink
    * (tabjolt_email.py:329-333); SVG fallback only if the JVM raster path
    * is unavailable. */
  private def chartOf(points: Seq[Report.TrendPoint]): (Array[Byte], String) =
    try (Report.trendChartPng(points), "image/png")
    catch {
      case NonFatal(e) =>
        System.err.println(s"[graft.Pipeline] PNG raster failed, falling back to SVG: $e")
        (Report.trendChartSvg(points).getBytes("UTF-8"), "image/svg+xml")
    }
}

/** The `ExecutionContext` a [[Pipeline]] call runs its night's futures
  * on, owned by that call: a FIFO pool of `min(defaultParallelism, jobs)`
  * daemon threads, where `jobs` is the number of Spark jobs the night
  * runs. The threads are started on the calling thread, so each inherits
  * the caller's local properties (job group, scheduler pool, job tags),
  * and each adds a tag of its own night to them, so that [[stop]] cancels
  * the night's jobs and no other job of the caller's group.
  *
  * A failed future is rethrown by [[await]] only after [[stop]] has
  * cancelled the night's running jobs and every thread has ended, so the
  * caller may release the caches those jobs read as soon as the failure
  * reaches it. Only the calling thread awaits and stops. */
private[tabjolt] final class Night private (spark: SparkSession, jobs: Int)
    extends scala.concurrent.ExecutionContext {
  import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
  import scala.concurrent.{Await, Future}
  import scala.concurrent.duration.Duration
  private val sc = spark.sparkContext
  private val tag = s"graft-tabjolt-night-${java.util.UUID.randomUUID}"
  private val pool = {
    val width = math.max(1, math.min(sc.defaultParallelism, jobs))
    val p = new ThreadPoolExecutor(width, width, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable], (worker: Runnable) => {
        val t = new Thread(() => { sc.addJobTag(tag); worker.run() }, "graft-tabjolt-night")
        t.setDaemon(true)
        t
      })
    p.prestartAllCoreThreads()
    p
  }

  def execute(job: Runnable): Unit = pool.execute(job)

  /** Nothing to report: a night's futures are awaited, so a failed one
    * reaches the caller through [[await]], and a callback refused after
    * [[stop]] belongs to a night that has already ended. */
  def reportFailure(cause: Throwable): Unit = ()

  /** `f`'s value. When `f` failed, [[stop]]s the night, then rethrows. */
  def await[A](f: Future[A]): A =
    try Await.result(f, Duration.Inf)
    catch {
      case scala.util.control.NonFatal(e) =>
        stop()
        throw e
    }

  /** Shuts the pool down. If jobs are still queued or running, drops the
    * queued ones and cancels the night's running Spark jobs; then waits
    * until every thread has ended. */
  def stop(): Unit = {
    pool.shutdown()
    if (pool.getActiveCount > 0 || !pool.getQueue.isEmpty) {
      pool.getQueue.clear()
      sc.cancelJobsWithTag(tag, "a job of the TabJolt night failed")
    }
    pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
  }
}

private[tabjolt] object Night {
  /** Runs `body` on a new night; on every path, stops the night before
    * returning. */
  def run[A](spark: SparkSession, jobs: Int)(body: Night => A): A = {
    val night = new Night(spark, jobs)
    try body(night) finally night.stop()
  }
}
