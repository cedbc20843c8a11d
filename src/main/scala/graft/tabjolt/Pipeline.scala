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
  * The reference runs that work in order, one round trip each
  * (tabjolt_email.py:361-387). Here every job of a night that does not
  * need another one's result runs at the same time, on one [[Night]]
  * pool: the four loads, the one rejected-row write, Q1–Q3 (one
  * [[Queries.dailyMetrics]] job), Q4, Q5, Q6 with the chart render, Q7,
  * and the per-view aggregate that Q8a and Q8b share. A query starts as
  * soon as the table it reads is loaded, so the write and the queries
  * overlap; Q8a and Q8b start once the aggregate is in.
  *
  * The S3 download step (tabjolt_email.py:351-359) is [[Fetch]]: the
  * config's `fetch` pairs are staged first, and a failed fetch is logged
  * and skipped, so the run reports on whatever staged. The *Path fields
  * may also name `s3a://` URIs, which Spark reads directly when a Hadoop
  * S3 filesystem is on the classpath.
  */
object Pipeline {
  import java.util.concurrent.{Future, LinkedBlockingQueue}
  import scala.util.Try
  import scala.util.control.NonFatal
  import org.apache.spark.sql.Row

  final case class TabjoltTables(summaryLine: DataFrame, winCounter: DataFrame,
                                 performanceSamples: DataFrame, threadDetails: DataFrame,
                                 loads: Seq[Ingest.LoadResult]) {
    /** Release the ingest caches (call when done querying the tables). */
    def cleanup(): Unit = loads.foreach(_.cleanup())
  }

  /** The four sources, in the order of [[TabjoltTables]]. */
  private def sources(cfg: PipelineConfig) = Seq(
    (cfg.summaryLinePath, Schemas.summaryLine, ","),
    (cfg.winCounterPath, Schemas.winCounter, "\t"),
    (cfg.performanceSamplesPath, Schemas.performanceSamples, ","),
    (cfg.threadDetailsPath, Schemas.threadDetails, "\t"))

  private def notLoaded(path: String, e: Throwable): Unit =
    System.err.println(s"[graft.Pipeline] source not loaded: $path ($e)")

  /** An ingest in flight: the four loads, and the write of their rejected
    * rows. */
  private final case class Started(loads: Seq[Ingest.LoadResult], write: Future[Unit])

  /** Starts the four loads on `night`. As each one ends, in the order
    * they end, hands its index and good rows to `readers` on the calling
    * thread, so that the jobs reading that table start beside the loads
    * still running. Once all four are in, starts the one write of their
    * rejected rows. */
  private def start(spark: SparkSession, cfg: PipelineConfig, night: Night)(
      readers: (Int, DataFrame) => Unit): Started = {
    val srcs = sources(cfg)
    val ended = new LinkedBlockingQueue[Int]
    val jobs = srcs.zipWithIndex.map { case ((path, schema, delim), i) =>
      night.submit {
        try Ingest.load(spark, path, schema, delim)
        catch {
          case NonFatal(e) =>
            notLoaded(path, e)
            Ingest.emptyLoad(spark, schema)
        } finally ended.put(i)
      }
    }
    val loads = new Array[Ingest.LoadResult](srcs.size)
    try srcs.indices.foreach { _ =>
      val i = ended.take()
      loads(i) = night.await(jobs(i))
      readers(i, loads(i).good)
    } catch {
      case e: Throwable =>
        night.stop()
        jobs.foreach(j => Try(j.get()).foreach(_.cleanup()))
        throw e
    }
    val rejected = loads.map(_.rejected).reduce(_ union _)
    Started(loads.toSeq, night.submit(rejected.write.mode("append").text(cfg.rejectedPath)))
  }

  /** The tables of `s` once its write has ended, and whether the write
    * succeeded. A failed write stops `night` (see [[Night.stop]]), then
    * releases every parse cache and substitutes an empty table for every
    * source, as a failed load does. */
  private def settle(spark: SparkSession, cfg: PipelineConfig, night: Night,
                     s: Started): (TabjoltTables, Boolean) = {
    val (kept, written) =
      try {
        night.await(s.write)
        (s.loads, true)
      } catch {
        case NonFatal(e) =>
          s.loads.foreach(_.cleanup())
          (sources(cfg).map { case (path, schema, _) =>
            notLoaded(path, e)
            Ingest.emptyLoad(spark, schema)
          }, false)
      }
    val Seq(sl, wc, ps, td) = kept
    (TabjoltTables(sl.good, wc.good, ps.good, td.good, kept), written)
  }

  /** Loads the four source tables and appends their rejected rows to the
    * side sink in ONE write (one job and one commit, not four): an
    * ordinary partitioned text write, with no collect. The loads run at
    * the same time, and the write starts once all four are in; this
    * returns when the write has ended. A source
    * that fails to resolve (file deleted, fetch failed) logs and yields an
    * EMPTY table rather than aborting the run — the reference skips
    * missing files and reports on whatever loaded
    * (tabjolt_email.py:371-375). A failed sink write releases every parse
    * cache and substitutes an empty table for every source, as a failed
    * load does. */
  def ingest(spark: SparkSession, cfg: PipelineConfig): TabjoltTables =
    Night.run(spark, jobs = 4) { night =>
      settle(spark, cfg, night, start(spark, cfg, night)((_, _) => ()))._1
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
    * The night's jobs overlap (see [[Pipeline]]): the queries on a table
    * start as soon as its load ends, beside the rejected-row write, and
    * each parse cache is released once its last reader has ended. If the
    * write fails, the jobs already started are cancelled and awaited,
    * every cache is released, and the report runs on the empty tables,
    * as [[ingest]] returns them. On any other failure the night's jobs
    * are cancelled and awaited before the caches are released and the
    * failure is rethrown. */
  def runDaily(spark: SparkSession, cfg: PipelineConfig, runDate: LocalDate,
               sink: EmailSink): String = {
    Fetch.fetchAll(spark, cfg.fetch) // stage remote sources; failures logged, non-fatal
    Night.run(spark, jobs = 4 + 1 + ReportJobs.Count) { night =>
      val report = new ReportJobs(spark, night, runDate)
      val s = start(spark, cfg, night)(report.start)
      try {
        report.startQ8()
        val (t, written) = settle(spark, cfg, night, s)
        if (!written) {
          t.loads.zipWithIndex.foreach { case (l, i) => report.start(i, l.good) }
          report.startQ8()
        }
        val (htmlBody, chartBytes, chartMime) = report.render(t.loads)
        sink.send(MimeMessage(cfg.emailFrom, cfg.emailTo, cfg.emailSubject,
          htmlBody, chartBytes, "graph_cid", chartMime))
        htmlBody
      } finally {
        night.stop()
        s.loads.foreach(_.cleanup()) // release ingest caches on every path
      }
    }
  }

  /** The report's jobs on a night, each started as soon as the table it
    * reads is in: Q1–Q3 (one job), Q5, and Q6 with the chart render on
    * `summary_line`; Q4 on `wincounter`; Q7 and the per-view aggregate
    * on `performance_samples`. Q8a and Q8b start once the aggregate is
    * in ([[startQ8]]). Every DataFrame is built on the calling thread;
    * only its collect runs on the pool. */
  private final class ReportJobs(spark: SparkSession, night: Night, runDate: LocalDate) {
    import ReportJobs.MaxRenderRows
    private val readers = Array.fill(4)(List.empty[Future[_]])
    private var daily, historic, latest, today, averages, regressions, improvements: Future[Array[Row]] = _
    private var chart: Future[(Array[Byte], String)] = _
    private var samples, aggregate: DataFrame = _

    private def job[A](table: Int)(body: => A): Future[A] = {
      val f = night.submit(body)
      readers(table) ::= f
      f
    }

    private def collect(table: Int, df: DataFrame): Future[Array[Row]] = job(table)(df.collect())

    /** Starts the jobs that read `table` (its index in [[TabjoltTables]]). */
    def start(table: Int, df: DataFrame): Unit = {
      readers(table) = Nil
      table match {
        case 0 =>
          daily = collect(0, Queries.dailyMetrics(df, runDate, Seq("Avg", "Max", "Min")))
          historic = collect(0, Queries.historicAvg(df))
          val trend = Queries.trendSeries(df)
          chart = job(0)(ReportJobs.chart(Report.trendPoints(trend)))
        case 1 =>
          latest = collect(1, Queries.latestExecution(df))
        case 2 =>
          samples = df
          // Collects are bounded: per-view aggregates are small by
          // construction, but todaysSamples is one row PER REQUEST SAMPLE —
          // on a heavy test day that is unbounded, so the render keeps the
          // top MaxRenderRows slowest (the query is already sorted
          // slowest-first).
          today = collect(2, Queries.todaysSamples(df, runDate).limit(MaxRenderRows))
          aggregate = Queries.perViewAverage(df)
          averages = collect(2, aggregate)
        case _ => // thread_details feeds only the rejected-row write
      }
    }

    /** Starts Q8a and Q8b on the collected per-view aggregate. */
    def startQ8(): Unit = {
      import scala.jdk.CollectionConverters._
      val aa = spark.createDataFrame(night.await(averages).toSeq.asJava, aggregate.schema)
      regressions = collect(2, Queries.regressions(samples, aa, runDate).limit(MaxRenderRows))
      improvements = collect(2, Queries.improvements(samples, aa, runDate).limit(MaxRenderRows))
    }

    /** The report's HTML and chart once every job has ended. Releases the
      * parse cache of each of `loads` as soon as the jobs reading it have
      * ended (the rejected-row write has ended before this is called). */
    def render(loads: Seq[Ingest.LoadResult]): (String, Array[Byte], String) = {
      loads.zip(readers).foreach { case (l, rs) => rs.foreach(night.await(_)); l.cleanup() }
      def scalar(rows: Seq[Row]): String =
        rows.headOption.map(r => Option(r.get(0)).map(_.toString).getOrElse("")).getOrElse("No results found")
      val metricRows = night.await(daily).toSeq
      def metric(m: String): String = scalar(metricRows.filter(_.getString(1) == m))
      val metrics = Seq(
        "Average time taken for tabjolt run (values are in ms):" -> metric("Avg"),
        "Maximum time taken for tabjolt run (values are in ms):" -> metric("Max"),
        "Minimum time taken for tabjolt run (values are in ms):" -> metric("Min"),
        "Tabjolt test cases executed at " -> scalar(night.await(latest).toSeq),
        "Average Historic time taken for tabjolt run (values are in ms):" ->
          scalar(night.await(historic).toSeq))
      val (chartBytes, chartMime) = night.await(chart)
      (Report.html(metrics, night.await(today).toSeq, night.await(regressions).toSeq,
        night.await(improvements).toSeq), chartBytes, chartMime)
    }
  }

  private object ReportJobs {
    /** The jobs one [[ReportJobs]] starts: Q1–Q3, Q4, Q5, Q6, Q7, the
      * per-view aggregate, Q8a and Q8b. */
    val Count = 8
    val MaxRenderRows = 10000

    /** PNG to match the reference's matplotlib sink
      * (tabjolt_email.py:329-333); SVG fallback only if the JVM raster
      * path is unavailable. */
    def chart(points: Seq[Report.TrendPoint]): (Array[Byte], String) =
      try (Report.trendChartPng(points), "image/png")
      catch {
        case NonFatal(e) =>
          System.err.println(s"[graft.Pipeline] PNG raster failed, falling back to SVG: $e")
          (Report.trendChartSvg(points).getBytes("UTF-8"), "image/svg+xml")
      }
  }
}

/** The pool a [[Pipeline]] call runs its Spark jobs on, owned by that
  * call: `min(defaultParallelism, jobs)` daemon threads, where `jobs`
  * is the number of independent jobs the call starts. The threads are
  * started on the calling thread, so each inherits the caller's local
  * properties (scheduler pool, job tags); every job runs under the
  * caller's job group, or under a fresh one when the caller has none.
  *
  * A job that fails is rethrown by [[await]] only after [[stop]] has
  * cancelled the group and every started job has ended, so the caller
  * may release the caches those jobs read as soon as the failure
  * reaches it. Only the calling thread submits, awaits and stops. */
private[tabjolt] final class Night private (spark: SparkSession, jobs: Int) {
  import java.util.concurrent._
  private val sc = spark.sparkContext
  private val group = Option(sc.getLocalProperty(Night.GroupKey))
    .getOrElse(s"graft-tabjolt-night-${java.util.UUID.randomUUID}")
  private val pool = {
    val width = math.max(1, math.min(sc.defaultParallelism, jobs))
    val p = new ThreadPoolExecutor(width, width, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable], (r: Runnable) => {
        val t = new Thread(r, "graft-tabjolt-night")
        t.setDaemon(true)
        t
      })
    p.prestartAllCoreThreads()
    p
  }
  private val started = scala.collection.mutable.ArrayBuffer.empty[Future[_]]
  @volatile private var stopping = false

  /** Runs `job` on the pool. Build its DataFrames before the call: only
    * the collect or the write belongs in `job`. */
  def submit[A](job: => A): Future[A] = {
    val f = pool.submit(new Callable[A] {
      def call(): A = {
        if (stopping) throw new CancellationException("the night was stopped")
        sc.setLocalProperty(Night.GroupKey, group)
        job
      }
    })
    started += f
    f
  }

  /** `f`'s value. When `f` failed, [[stop]]s the night, then rethrows. */
  def await[A](f: Future[A]): A =
    try f.get()
    catch {
      case e: ExecutionException =>
        stop()
        throw e.getCause
    }

  /** Cancels the night's running Spark jobs, skips its queued ones, and
    * waits until every job started so far has ended. The night can then
    * start jobs again. */
  def stop(): Unit = {
    if (started.exists(!_.isDone)) {
      stopping = true
      sc.cancelJobGroup(group, "a job of the TabJolt night failed")
      started.foreach(f => scala.util.Try(f.get()))
      stopping = false
    }
    started.clear()
  }
}

private[tabjolt] object Night {
  private val GroupKey = "spark.jobGroup.id"

  /** Runs `body` on a new night; on every path, stops the night and shuts
    * its pool down before returning. */
  def run[A](spark: SparkSession, jobs: Int)(body: Night => A): A = {
    val night = new Night(spark, jobs)
    try body(night)
    finally try night.stop() finally night.pool.shutdown()
  }
}
