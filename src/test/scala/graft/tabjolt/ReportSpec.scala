package graft.tabjolt

import java.time.LocalDate
import graft.SparkSpec
import org.apache.spark.sql.Row

/** Local filesystem that claims the `graftmock://` scheme — exists so the
  * fetch test below can prove scheme dispatch goes through the Hadoop
  * conf's `fs.<scheme>.impl` lookup (the mechanism that binds `s3a://`
  * to S3AFileSystem on a deployment classpath). */
class GraftMockFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
}

class ReportSpec extends SparkSpec {

  test("SVG chart renders one marker and label per point with 1000ms grid") {
    val pts = Seq(
      Report.TrendPoint(LocalDate.of(2024, 7, 29), 10000),
      Report.TrendPoint(LocalDate.of(2024, 7, 30), 12661))
    val svg = Report.trendChartSvg(pts)
    assert(svg.contains("<circle") && svg.split("<circle").length == 3)
    assert(svg.contains(">12661<") && svg.contains(">10000<"))
    assert(svg.contains(">13000<")) // y-axis headroom tick at next 1000
  }

  test("empty series renders the reference's 'No results found'") {
    assert(Report.trendChartSvg(Nil).contains("No results found"))
  }

  test("PNG chart decodes at 1000x600 with the marker pixel in line-blue") {
    val pts = Seq(
      Report.TrendPoint(LocalDate.of(2024, 7, 29), 10000),
      Report.TrendPoint(LocalDate.of(2024, 7, 30), 12661))
    val png = Report.trendChartPng(pts)
    // PNG magic
    assert((png(0) & 0xff) == 0x89 && new String(png.slice(1, 4)) == "PNG")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 1000 && img.getHeight == 600)
    // background
    assert((img.getRGB(5, 5) & 0xffffff) == 0xffffff)
    // last point's marker center: x = mL + (w-mL-mR) = 970;
    // yMax = 13000, y = (600-110) - 12661/13000*(600-110-40) ≈ 51.7
    val cy = math.round((600 - 110) - 12661.0 / 13000 * (600 - 110 - 40)).toInt
    assert((img.getRGB(970, cy) & 0xffffff) == 0x1f77b4,
      f"marker pixel was 0x${img.getRGB(970, cy) & 0xffffff}%06x")
    // empty series still encodes a valid image with the fallback text
    val empty = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Report.trendChartPng(Nil)))
    assert(empty.getWidth == 1000 && empty.getHeight == 600)
  }

  test("regression cells go red above +20% and never on NULL pct") {
    val rows = Seq(
      Row(100.0, 200, "Site: v1;", 100.0),  // alert
      Row(100.0, 110, "Site: v2;", 10.0),   // no alert
      Row(0.0, 5, "Site: v0;", null))       // NULL pct: no alert, no crash
    val html = Report.html(Seq("m" -> "1"), Nil, rows, Nil)
    assert(html.split("color:red").length - 1 == 4) // one row of 4 cells
    assert(html.contains("100.00%"))
  }

  test("MIME message carries html + inline image with the graph cid") {
    val m = MimeMessage("a@x", Seq("b@y"), "subj", "<html>Hi</html>",
      "<svg/>".getBytes, "graph_cid")
    val s = m.render
    assert(s.contains("Content-ID: <graph_cid>"))
    assert(s.contains("multipart/related"))
    assert(s.contains("<html>Hi</html>"))
    val capture = new CaptureEmailSink
    capture.send(m)
    assert(capture.sent.size == 1)
  }

  test("fetch stage copies what it can and logs-and-continues on failure") {
    import java.nio.file.Files
    val src = Files.createTempFile("fetch-src", ".csv")
    Files.writeString(src, "a,b\n")
    val destDir = Files.createTempDirectory("fetch-dest")
    val results = Fetch.fetchAll(spark, Seq(
      (src.toString, s"$destDir/ok.csv"),
      ("/nonexistent/missing.csv", s"$destDir/missing.csv")))
    assert(results.map(_.ok) == Seq(true, false))
    assert(Files.readString(java.nio.file.Path.of(s"$destDir/ok.csv")) == "a,b\n")
    assert(results(1).error.nonEmpty)
  }

  test("fetch dispatches filesystems by URI scheme through conf, not special-casing") {
    // Register an alias scheme whose impl comes from the SAME conf lookup
    // (fs.<scheme>.impl) that binds s3a:// to S3AFileSystem when
    // hadoop-aws is on a deployment's classpath. Fetch copying through
    // it proves the path is scheme-agnostic: nothing in Fetch or the
    // pipeline inspects the scheme itself.
    import java.nio.file.Files
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftmock.impl", classOf[GraftMockFileSystem].getName)
    val src = Files.createTempFile("fetch-scheme-src", ".csv")
    Files.writeString(src, "x,y\n")
    val destDir = Files.createTempDirectory("fetch-scheme-dest")
    val results = Fetch.fetchAll(spark, Seq(
      (s"graftmock://$src", s"$destDir/via-scheme.csv")))
    assert(results.map(_.ok) == Seq(true))
    assert(Files.readString(java.nio.file.Path.of(s"$destDir/via-scheme.csv")) == "x,y\n")
  }

  // The former conditional "s3a binds when hadoop-aws is present" test
  // (always canceled in this offline container) is superseded by
  // ObjectStoreFetchSpec: an ALWAYS-EXECUTED end-to-end of the S1 path
  // against an in-JVM object store bound through the identical
  // fs.<scheme>.impl mechanism, on the reference's actual sample bytes.

  test("a missing source yields an empty table and the report still sends") {
    import java.nio.file.Files
    def write(name: String, content: String): String = {
      val f = Files.createTempFile(name, ".txt"); Files.writeString(f, content); f.toString
    }
    val cfg = PipelineConfig(
      summaryLinePath = write("summary", "Avg,12661,2024-07-30\n"),
      winCounterPath = "/nonexistent/wincounter.tsv", // fetch failed upstream
      performanceSamplesPath = write("samples",
        "t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,\n" +
          "12661,0,1722333530042,true,Interact Viz Test,200,Site: a; View: v;,T,,99,1,5,x\n"),
      threadDetailsPath = write("threads", "#1\tThreads: 5/5\tSamples: 1\tLatency: 10\tResp.Time: 100\tErrors: 0\n"),
      rejectedPath = Files.createTempDirectory("rej").toString + "/rejected")
    val sink = new CaptureEmailSink
    val html = Pipeline.runDaily(spark, cfg, LocalDate.of(2024, 7, 30), sink)
    assert(sink.sent.size == 1, "report must send despite the missing source")
    assert(html.contains("12661"))
    // the wincounter-driven metric falls back to the reference's empty text
    assert(html.contains("No results found"))
  }

  test("pipeline end-to-end on fixture files (capture sink)") {
    import java.nio.file.Files
    def write(name: String, content: String): String = {
      val f = Files.createTempFile(name, ".txt"); Files.writeString(f, content); f.toString
    }
    val cfg = PipelineConfig(
      summaryLinePath = write("summary", "Avg,12661,2024-07-30\nMax,12661,2024-07-30\nMin,12661,2024-07-30\nErr,0 0.00%,2024-07-30\n"),
      winCounterPath = write("wincounter", "1722333527860\tH\tMemory\tc\t\t0\t2024-07-30 15:30:13\n"),
      performanceSamplesPath = write("samples",
        "t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,\n" +
          "12661,0,1722333530042,true,Interact Viz Test,200,Site: a; View: v;,T,,99,1,5,x\n"),
      threadDetailsPath = write("threads", "#1\tThreads: 5/5\tSamples: 1\tLatency: 10\tResp.Time: 100\tErrors: 0\n"),
      rejectedPath = Files.createTempDirectory("rej").toString + "/rejected")
    val sink = new CaptureEmailSink
    val html = Pipeline.runDaily(spark, cfg, LocalDate.of(2024, 7, 30), sink)
    assert(sink.sent.size == 1)
    assert(html.contains("12661"))
    assert(html.contains("Site: a; View: v;"))
    // the inline chart goes out as PNG, like the reference's matplotlib part
    assert(sink.sent.head.imageMime == "image/png")
    assert(sink.sent.head.render.contains("Content-Type: image/png"))
  }

  /** Small fixtures for three sources, `samples` for the JTL, and the
    * rejected sink at `rejected`. */
  private def withSamples(samples: String, rejected: String): PipelineConfig = {
    import java.nio.file.Files
    def write(name: String, content: String): String = {
      val f = Files.createTempFile(name, ".txt"); Files.writeString(f, content); f.toString
    }
    PipelineConfig(
      summaryLinePath = write("summary", "Avg,12661,2024-07-30\n"),
      winCounterPath = write("wincounter", "1722333527860\tH\tMemory\tc\t\t0\t2024-07-30 15:30:13\n"),
      performanceSamplesPath = samples,
      threadDetailsPath = write("threads", "#1\tThreads: 5/5\tSamples: 1\tLatency: 10\tResp.Time: 100\tErrors: 0\n"),
      rejectedPath = rejected)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("an unwritable rejected sink yields the empty tables and the email, and leaks no cache") {
    import java.nio.file.Files
    val (jtl, _) = JtlFixture.write(spark)
    val blocker = Files.createTempFile("graft-not-a-dir", ".txt") // the sink dir cannot be made under a file
    val cfg = withSamples(jtl.toString, blocker.toString + "/rejected")
    val before = persisted
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val t = try Pipeline.ingest(spark, cfg) finally System.setErr(stderr)
    assert(err.toString.split("\n").count(_.contains("source not loaded")) == 4)
    assert(Seq(t.summaryLine, t.winCounter, t.performanceSamples, t.threadDetails).forall(_.isEmpty))
    assert(persisted == before, "a failed sink write must release every parse cache")
    t.cleanup()
    assert(persisted == before)
    val sink = new CaptureEmailSink
    val html = Pipeline.runDaily(spark, cfg, LocalDate.of(2024, 7, 30), sink)
    assert(sink.sent.size == 1, "the report must send with every source empty")
    assert(html.contains("No results found"))
    assert(persisted == before)
  }

  test("cleanup() releases the ingest caches on the split path and on the one-task fallback") {
    import java.nio.file.Files
    for ((eol, fallback) <- Seq(("\n", false), ("\r\n", true))) {
      val (jtl, nominal) = JtlFixture.write(spark, eol)
      val before = persisted
      val t = Pipeline.ingest(spark,
        withSamples(jtl.toString, Files.createTempDirectory("rej").toString + "/rejected"))
      assert(t.loads(2).split ==
        (if (fallback) Ingest.Split(1, 1) else Ingest.Split(nominal.size + 1, 0)))
      assert(t.performanceSamples.count() == 12500 + 1) // the samples and the header row
      assert(persisted != before)
      t.cleanup()
      assert(persisted == before, s"caches left after cleanup() (line end ${eol.length} bytes)")
    }
  }

  /** Once the listener bus has delivered every job's end, the ids of the
    * jobs still running. */
  private def activeJobs: Seq[Int] = {
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext, 30000L)
    spark.sparkContext.statusTracker.getActiveJobIds.toSeq
  }

  /** A [[JtlFixture]] file (every sample on the run date, split into byte
    * ranges) with rows appended: 1500 more of today's samples, so that Q7
    * passes the render cap, a non-numeric elapsed time today, a view whose
    * every sample (so its average) is 0, and a fast sample from the day
    * before, which only Q8b's 3-day window holds. */
  private def nightSamples(): String = {
    import java.nio.file.{Files, StandardOpenOption}
    val (jtl, _) = JtlFixture.write(spark, rows = 9000)
    val today = 1722300000000L + 50000L // 2024-07-30 00:40 UTC, after the fixture's samples
    val yesterday = 1722279600000L // 2024-07-29 19:00 UTC
    def row(elapsed: String, ts: Long, view: String) =
      s"$elapsed,00042,$ts,true,Interact Viz Test,200,Site: site0; Workbook: wb0; View: $view;," +
        s"InteractVizThreadGroup 1-1,,00000001,1,5,x\n"
    val extra = (0 until 1500).map(k => row((10000 + k).toString, today + k, f"view${k % 100}%03d")).mkString +
      row("fast", today, "view007") +
      row("00000", yesterday - 86400000L * 5, "zero") + row("00000", today, "zero") +
      row("00100", yesterday, "view003")
    Files.writeString(jtl, extra, StandardOpenOption.APPEND)
    jtl.toString
  }

  test("the overlapped night renders the report of sequential collects, and leaves no job or cache") {
    import java.nio.file.Files
    val runDate = LocalDate.of(2024, 7, 30)
    def summary = {
      val f = Files.createTempFile("summary", ".txt")
      Files.writeString(f, "Avg,100,2024-07-30\nAvg,200,2024-07-30\nMax,300,2024-07-30\n" +
        "Max,301,2024-07-30\nMin,50,2024-07-30\nMin,49,2024-07-30\nAvg,90,2024-07-29\n")
      f.toString
    }
    def rejected = Files.createTempDirectory("rej").toString + "/rejected"
    val cfg = withSamples(nightSamples(), rejected).copy(summaryLinePath = summary)

    val t = Pipeline.ingest(spark, cfg.copy(rejectedPath = rejected))
    val expected = try {
      def scalar(df: org.apache.spark.sql.DataFrame): String = df.collect().headOption
        .map(r => Option(r.get(0)).map(_.toString).getOrElse("")).getOrElse("No results found")
      def rows(df: org.apache.spark.sql.DataFrame) = df.limit(10000).collect().toSeq
      val metrics = Seq(
        "Average time taken for tabjolt run (values are in ms):" ->
          scalar(Queries.dailyMetric(t.summaryLine, runDate, "Avg")),
        "Maximum time taken for tabjolt run (values are in ms):" ->
          scalar(Queries.dailyMetric(t.summaryLine, runDate, "Max")),
        "Minimum time taken for tabjolt run (values are in ms):" ->
          scalar(Queries.dailyMetric(t.summaryLine, runDate, "Min")),
        "Tabjolt test cases executed at " -> scalar(Queries.latestExecution(t.winCounter)),
        "Average Historic time taken for tabjolt run (values are in ms):" ->
          scalar(Queries.historicAvg(t.summaryLine)))
      val q7 = rows(Queries.todaysSamples(t.performanceSamples, runDate))
      val q8b = rows(Queries.improvements(t.performanceSamples, runDate))
      // the inputs reach the cases they are there for
      assert(metrics.take(3).map(_._2) == Seq("100", "300", "50"))
      assert(q7.size == 10000 && q7.head.isNullAt(0))
      assert(q8b.exists(r => r.getInt(1) == 100 && r.getString(2).contains("View: view003;")))
      Report.html(metrics, q7, rows(Queries.regressions(t.performanceSamples, runDate)), q8b)
    } finally t.cleanup()

    val before = persisted
    val sink = new CaptureEmailSink
    val html = Pipeline.runDaily(spark, cfg, runDate, sink)
    assert(html == expected)
    assert(sink.sent.map(_.htmlBody) == Seq(expected))
    assert(activeJobs.isEmpty)
    assert(persisted == before)
  }

  test("Q7, Q8a and Q8b order tied rows the same whatever the partitioning") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val runDate = LocalDate.of(2024, 7, 30)
    val today = 1722300000000L // 2024-07-30 00:40 UTC
    val old = today - 86400000L * 10
    // every view has the same samples, so each query's sort key ties
    // across views: Q7 on elapsed 100 and 2000, Q8a on +95.1%, Q8b on -90.2%
    val rows = (0 until 40).flatMap { v =>
      val view = s"Site: s; View: v$v;"
      Seq(("1000", old, "a"), ("1000", old, "b"), ("100", today, "c"), ("2000", today, "d"),
        ("2000", today, "e")).map { case (elapsed, ts, label) =>
        Row(elapsed, s"${v % 3}", ts.toString, "true", s"$label${v % 2}", view)
      }
    }
    val schema = StructType(Seq("elapsed_time_ms", "latency_time_ms", "timestamp_ms",
      "success_indicator", "request_label", "response_message").map(StructField(_, StringType)))
    def collects(rs: Seq[Row], parts: Int) = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), schema)
      Seq(Queries.todaysSamples(df, runDate), Queries.regressions(df, runDate),
        Queries.improvements(df, runDate)).map(_.limit(10000).collect().toSeq)
    }
    val one = collects(rows, 1)
    assert(one.map(_.size) == Seq(120, 80, 40))
    val keys = Seq("elapsed_time", "percentage_difference", "percentage_difference")
    assert(one.zip(keys).forall { case (q, k) => q.map(_.getAs[Any](k)).distinct.size < q.size },
      "each query's sort key must tie")
    assert(collects(rows.reverse, 4) == one)
  }

  test("on an unwritable rejected sink the night cancels its queries and leaves no job or cache") {
    import java.nio.file.Files
    val blocker = Files.createTempFile("graft-not-a-dir", ".txt")
    val cfg = withSamples(nightSamples(), blocker.toString + "/rejected")
    val before = persisted
    val stderr = System.err
    System.setErr(new java.io.PrintStream(new java.io.ByteArrayOutputStream, true))
    val sink = new CaptureEmailSink
    val html = try Pipeline.runDaily(spark, cfg, LocalDate.of(2024, 7, 30), sink)
    finally System.setErr(stderr)
    assert(sink.sent.size == 1)
    assert(!html.contains("12661") && html.contains("No results found"))
    assert(activeJobs.isEmpty)
    assert(persisted == before)
  }

  test("a failing email sink reaches the caller and leaves no job or cache") {
    import java.nio.file.Files
    val cfg = withSamples(nightSamples(), Files.createTempDirectory("rej").toString + "/rejected")
    val before = persisted
    val sink = new EmailSink {
      def send(message: MimeMessage): Unit = throw new java.io.IOException("the SMTP server refused")
    }
    val e = intercept[java.io.IOException](Pipeline.runDaily(spark, cfg, LocalDate.of(2024, 7, 30), sink))
    assert(e.getMessage == "the SMTP server refused")
    assert(activeJobs.isEmpty)
    assert(persisted == before)
  }
}
