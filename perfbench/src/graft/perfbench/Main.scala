package graft.perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import graft.{Lifecycle, Sessions}
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The benchmark's JVM side: one closed-loop client (a single client
  * thread) on `local[cores]`, run once per workload and seed. It writes
  * one JSON object with `correct`, `attempted`, `failed` and `metrics`
  * to `--out`; `perfbench/run.py` launches it and prints that object.
  *
  * Workloads:
  *  - `daily_deep`: TabJolt nights (see [[Main.DeepShape]]);
  *  - `catalog`: a cold pass, then warm passes, over [[Main.CatalogEntries]]. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        runDir: File, out: File, launchMs: Long, cores: Int,
                        expected: Option[File], record: Option[File],
                        tiny: Boolean, inject: Option[String])

  /** `daily_deep`: one site's history in one cumulative JTL CSV, which
    * `multiLine` parsing reads as one task, so ingest and the history
    * aggregates dominate. The tiny shape serves the self-test and the
    * TabJolt layers of a traced `catalog` run. */
  val DeepShape = DailyShape(views = 100, days = 40, samplesPerViewDay = 30, malformedRate = 0.002)
  private val TinyShape = DeepShape.copy(views = 40, days = 20, samplesPerViewDay = 5)

  /** The catalog entries timed: one per catalog module (two for
    * SourcesStreaming), chosen so each module is present and the state
    * layer (IVF index, rings, pair and media indexes, compaction) is
    * built in the cold pass. */
  val CatalogEntries: Seq[String] = Seq(
    "e07_rolling_active", "mm07_media_ring_lifecycle", "q09_regression_join",
    "r06_compaction", "s04_ann_ivf", "sk03_bloom_decon", "st10_stream_media_filter",
    "t03_quality_score", "t11_dup_clusters", "tj04_reference_daily_metric")
  private val TinyCatalogEntries = Seq("q09_regression_join", "t03_quality_score", "tj04_reference_daily_metric")
  /** The catalog tables: fixed (not drawn from --seed) so the committed
    * per-entry expectations apply to every run. */
  val CatalogSeed = 42L
  val CatalogScale = 1
  private val KernelRows = 200000
  private val WarmUpNights = 3
  private val WarmUpPasses = 2

  final class Outcome {
    var attempted = 0
    var failed = 0
    val problems = ArrayBuffer.empty[String]
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    def op(what: String)(bad: Seq[String]): Unit = {
      attempted += 1
      if (bad.nonEmpty) { failed += 1; problems ++= bad.map(b => s"$what: $b") }
    }
    def metric(name: String, value: Double, unit: String): Unit = metrics += ((name, value, unit))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = Sessions.graftDefaults(SparkSession.builder())
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext, a.trace, s"${a.workload}-${a.seed}")
    val o = new Outcome
    try {
      val jvmToSession = (sessionReadyMs - a.launchMs) / 1000.0
      a.workload match {
        case "catalog" => catalog(a, spark, tracer, o, jvmToSession)
        case "daily_deep" => daily(a, spark, tracer, o, jvmToSession)
        case w => sys.error(s"unknown workload $w")
      }
      o.metric(if (a.trace) "jvm.peak_rss_mb" else "peak_rss_mb", peakRssMb(), "MB")
      if (a.trace) traceExtras(a, spark, tracer, o)
    } catch {
      case e: Throwable =>
        o.attempted += 1; o.failed += 1; o.problems += s"run aborted: $e"
        e.printStackTrace()
    } finally {
      tracer.writeJsonLines(new File(a.runDir, "spans.jsonl"))
      spark.stop()
    }
    o.problems.take(20).foreach(p => System.err.println(s"[perfbench] FAIL $p"))
    val metrics = o.metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val line = Json.obj(Seq("correct" -> (o.failed == 0).toString, "attempted" -> Json.num(o.attempted.toLong),
      "failed" -> Json.num(o.failed.toLong), "metrics" -> Json.obj(metrics.toSeq)))
    java.nio.file.Files.writeString(a.out.toPath, line + "\n")
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      new File(req("run-dir")), new File(req("out")), req("launch-ms").toLong, req("cores").toInt,
      m.get("expected").map(new File(_)), m.get("record").map(new File(_)),
      m.get("tiny").contains("1"), m.get("inject").filter(_ != "none"))
  }

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = body; ((System.nanoTime() - t0) / 1e9, r)
  }

  private def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Set-up: generates the inputs three times into fresh dirs (the
    * median generation counts) and keeps the last copy, then runs
    * `coldOp(first, kept)`: the workload's first operation in the JVM,
    * which pays JIT compilation and, for the catalog, every state build.
    * set-up time = JVM and session start + median generation + coldOp. */
  private def setUp[T](root: File, jvmToSession: Double, o: Outcome, traced: Boolean)(gen: File => T)(
      coldOp: (T, T) => Unit): T = {
    val runs = (1 to 3).map(k => timed(gen(new File(root, s"gen-$k"))))
    val (coldS, _) = timed(coldOp(runs.head._2, runs.last._2))
    (1 to 2).foreach(k => Lifecycle.deleteRecursively(new File(root, s"gen-$k")))
    o.metric(if (traced) "setup.traced_s" else "setup_s",
      jvmToSession + Stats.median(runs.map(_._1)) + coldS, "s")
    runs.last._2
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
  }

  private def stateRoot: File = new File(System.getProperty("java.io.tmpdir"))

  // ---------------------------------------------------------------- daily

  private def daily(a: Args, spark: SparkSession, tracer: Tracer, o: Outcome, jvmToSession: Double): Unit = {
    val shape = if (a.tiny) TinyShape else DeepShape
    val work = new File(a.runDir, "work")
    var d: Daily = null
    def night(i: String, traced: Boolean): Option[Double] = {
      val gc0 = gcSeconds()
      val r = scala.util.Try {
        if (i == "1" && a.inject.contains("entry_failure")) sys.error("forced night failure")
        if (traced) d.runTraced() else d.runUntraced()
      }
      r match {
        case scala.util.Success((dt, bad)) =>
          println(f"perfbench night $i%s traced=$traced%s $dt%.3f s gc ${gcSeconds() - gc0}%.3f s")
          o.op(s"night $i")(bad); Some(dt)
        case scala.util.Failure(e) => o.op(s"night $i")(Seq(e.toString)); None
      }
    }
    var stateMb = 0.0
    setUp(new File(a.runDir, "inputs"), jvmToSession, o, a.trace)(
      TabjoltGen.generate(_, shape, a.seed)) { (_, kept) =>
      val inputs = if (a.inject.contains("wrong_expectation"))
        kept.copy(expect = kept.expect.copy(q8aRows = kept.expect.q8aRows + 1)) else kept
      d = new Daily(spark, inputs, work, tracer)
      val before = bytesUnder(stateRoot)
      night("cold", traced = false)
      stateMb = (bytesUnder(stateRoot) - before + bytesUnder(work)) / 1e6
      // nights keep speeding up for several nights after the first (JIT
      // and Spark's caches); timing starts once the curve has flattened
      (1 to WarmUpNights).foreach(k => night(s"warm-up-$k", traced = false))
    }
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 1
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || i <= 4) {
      val tr = a.trace && i % 2 == 1
      night(i.toString, tr).foreach(dt => if (tr) traced += dt else untraced += dt)
      i += 1
    }
    val (n, bad) = scala.util.Try(d.verify()).fold(e => (1, Seq(e.toString)), identity)
    o.attempted += n
    o.failed += bad.size
    o.problems ++= bad.map(b => s"verify: $b")
    if (!a.trace) {
      o.metric("warm_p50_s", Stats.median(untraced.toSeq), "s")
      o.metric("state_mb", stateMb, "MB")
    } else dailyLayers(tracer, o, traced.toSeq, untraced.toSeq, d.inputs)
  }

  /** Per-layer TabJolt numbers from the traced nights: the median over
    * nights of each layer's self time, and its Spark counters. */
  private def dailyLayers(tracer: Tracer, o: Outcome, traced: Seq[Double], untraced: Seq[Double],
                          inputs: DailyInputs): Unit = {
    tracer.drain()
    val spans = tracer.all
    val nights = spans.filter(_.name == "night")
    def selfMedian(name: String): Double = {
      val per = nights.map(n => spans.filter(s => s.parent == n.id && s.name == name).map(tracer.selfSeconds).sum)
      Stats.median(per)
    }
    val layers = Seq("fetch", "ingest") ++ Queries.map(q => s"query.$q") ++
      Seq("render.chart", "render.html", "send")
    val selfs = layers.map(l => l -> selfMedian(l))
    selfs.foreach { case (l, v) => o.metric(s"$l.s", v, "s") }
    val nN = math.max(1, nights.size).toDouble
    val ingest = tracer.countersOf("ingest")
    val ingestS = selfs.toMap.apply("ingest")
    o.metric("fetch.bytes", inputs.samplesBytes.toDouble, "bytes")
    o.metric("ingest.task_s", ingest.taskNs.get / 1e9 / nN, "s")
    o.metric("ingest.rows_in", ingest.recordsRead.get / nN, "rows")
    o.metric("ingest.rows_rejected", ingest.recordsWritten.get / nN, "rows")
    o.metric("ingest.rows_per_s", ingest.recordsRead.get / nN / ingestS, "rows/s")
    o.metric("query.rows_out", tracer.countOf("query.rows_out") / nN, "rows")
    o.metric("query.shuffle_bytes",
      Queries.map(q => tracer.countersOf(s"query.$q").shuffleBytes.get).sum / nN, "bytes")
    o.metric("render.html_bytes", tracer.countOf("render.html_bytes") / nN, "bytes")
    o.metric("render.png_bytes", tracer.countOf("render.png_bytes") / nN, "bytes")
    o.metric("send.mime_bytes", tracer.countOf("send.mime_bytes") / nN, "bytes")
    val tracedP50 = Stats.median(traced)
    val untracedP50 = Stats.median(untraced)
    o.metric("night.traced_s", tracedP50, "s")
    o.metric("night.untraced_s", untracedP50, "s")
    o.metric("night.layers_self_s", selfs.map(_._2).sum, "s")
    o.metric("night.unattributed_s", Stats.median(nights.map(tracer.selfSeconds)), "s")
    o.metric("trace.overhead_s", tracedP50 - untracedP50, "s")
  }

  val Queries: Seq[String] = Seq("q1_avg", "q2_max", "q3_min", "q4_latest", "q5_historic",
    "q6_trend", "q7_today", "q8a_regressions", "q8b_improvements")

  // -------------------------------------------------------------- catalog

  private def readExpected(f: Option[File]): Map[String, (Long, String)] =
    f.filter(_.isFile).map { file =>
      scala.io.Source.fromFile(file).getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).collect { case Array(n, r, h) => n -> (r.toLong, h) }.toMap
    }.getOrElse(Map.empty)

  /** Each entry is one operation: it fails if it threw or if its row
    * count and content hash differ from the reference. */
  private def judge(o: Outcome, pass: String, rs: Seq[EntryResult], ref: Map[String, (Long, String)]): Unit =
    rs.foreach { r =>
      o.op(s"$pass ${r.name}")(r.error.toSeq ++ ref.get(r.name).collect {
        case (rows, hash) if r.error.isEmpty && (rows, hash) != ((r.rows, r.hash)) =>
          s"rows/hash ${r.rows}/${r.hash}, want $rows/$hash"
      })
    }

  private def catalog(a: Args, spark: SparkSession, tracer: Tracer, o: Outcome, jvmToSession: Double): Unit = {
    val names = if (a.tiny) TinyCatalogEntries else CatalogEntries
    val expected0 = readExpected(a.expected)
    val head = names.min
    val expected = if (a.inject.contains("wrong_expectation"))
      expected0 ++ expected0.get(head).map { case (r, h) => head -> (r + 1, h) }
    else expected0
    val force = if (a.inject.contains("entry_failure")) Some(head) else None
    var run: CatalogRun = null
    var cold: Seq[EntryResult] = Nil
    var stateMb = 0.0
    // untraced, the cold pass is the set-up's first operation (JIT and
    // state builds together); traced, a pass over the first copy takes
    // the JIT, so the kept copy's cold pass is the state builds alone
    val dataDir = setUp(new File(a.runDir, "inputs"), jvmToSession, o, a.trace) { dir =>
      CatalogData.generate(spark, dir, CatalogScale, CatalogSeed); dir
    } { (first, kept) =>
      if (a.trace) judge(o, "jit", new CatalogRun(spark, first.getPath, names, tracer).pass("jit"), expected)
      run = new CatalogRun(spark, kept.getPath, names, tracer)
      val before = bytesUnder(stateRoot)
      cold = run.pass("cold", force)
      stateMb = (bytesUnder(stateRoot) - before) / 1e6
      judge(o, "cold", cold, expected)
      // as with the nights, passes keep speeding up for a while; without
      // these the median would depend on how many passes fit the window
      (1 to WarmUpPasses).foreach(_ => judge(o, "warm-up", run.pass("warm-up"), expected))
    }
    println(s"[perfbench] ${graft.Vintage.line(dataDir.getPath, spark.sparkContext.hadoopConfiguration)}")
    a.record.foreach { f =>
      java.nio.file.Files.writeString(f.toPath, cold.filter(_.error.isEmpty)
        .map(r => s"${r.name}\t${r.rows}\t${r.hash}")
        .mkString("# entry, rows, content hash over the generated catalog tables " +
          s"(scale $CatalogScale, seed $CatalogSeed); rewrite with run.py --record-expected\n", "\n", "\n"))
    }
    // warm passes must also agree with the cold pass entry by entry
    val coldRef = cold.filter(_.error.isEmpty).map(r => r.name -> (r.rows, r.hash)).toMap
    val warm = ArrayBuffer.empty[Seq[EntryResult]]
    val t0 = System.nanoTime()
    while (warm.size < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val rs = run.pass("warm")
      judge(o, "warm", rs, expected ++ coldRef.filter(kv => !expected.contains(kv._1)))
      warm += rs
    }
    if (!a.trace) {
      // per-entry medians over the warm passes, summed: a transient stall
      // then costs one entry one sample instead of a whole pass
      o.metric("warm_p50_s", run.entries.map(n => Stats.median(warm.toSeq.map(_.find(_.name == n).get.seconds))).sum, "s")
      o.metric("state_mb", stateMb, "MB")
    } else catalogLayers(tracer, o, cold, warm.toSeq)
  }

  /** Per-module sums of the entries' walls, cold minus warm as the state
    * build, and the warm pass's Spark counters per module. */
  private def catalogLayers(tracer: Tracer, o: Outcome, cold: Seq[EntryResult],
                            warm: Seq[Seq[EntryResult]]): Unit = {
    tracer.drain()
    def warmOf(name: String): Double = Stats.median(warm.map(_.find(_.name == name).map(_.seconds).getOrElse(0.0)))
    val lastWarm = warm.size
    CatalogRun.modules.map(_._1).foreach { m =>
      val c = cold.filter(_.module == m)
      val coldS = c.map(_.seconds).sum
      val warmS = c.map(r => warmOf(r.name)).sum
      o.metric(s"catalog.$m.cold_s", coldS, "s")
      o.metric(s"catalog.$m.warm_s", warmS, "s")
      o.metric(s"state.$m.build_s", coldS - warmS, "s")
      val counters = c.map(r => tracer.countersOf(s"warm/${r.name}"))
      o.metric(s"plan.$m.jobs", counters.map(_.jobs.get).sum.toDouble / lastWarm, "count")
      o.metric(s"plan.$m.task_s", counters.map(_.taskNs.get).sum / 1e9 / lastWarm, "s")
    }
    o.metric("plan.shuffle_bytes",
      cold.map(r => tracer.countersOf(s"warm/${r.name}").shuffleBytes.get).sum.toDouble / lastWarm, "bytes")
    cold.foreach(r => o.metric(s"entry.${r.name}.warm_s", warmOf(r.name), "s"))
  }

  // --------------------------------------------------- traced-run extras

  /** A traced run reports every layer: the kernels, Spark and JVM totals,
    * and the layers its own workload does not exercise, measured by a
    * fixed small probe (the self-test's tiny TabJolt history for a
    * `catalog` run; the catalog entries for a TabJolt run). */
  private def traceExtras(a: Args, spark: SparkSession, tracer: Tracer, o: Outcome): Unit = {
    val probe = new File(a.runDir, "probe")
    if (a.workload == "catalog") {
      val d = new Daily(spark, TabjoltGen.generate(new File(probe, "inputs"), TinyShape, a.seed),
        new File(probe, "work"), tracer)
      d.runUntraced()
      val traced = (1 to 2).map(_ => d.runTraced()._1)
      val untraced = (1 to 2).map(_ => d.runUntraced()._1)
      dailyLayers(tracer, o, traced, untraced, d.inputs)
    } else {
      val dir = new File(probe, "catalog")
      CatalogData.generate(spark, dir, CatalogScale, CatalogSeed)
      val run = new CatalogRun(spark, dir.getPath, CatalogEntries, tracer)
      val cold = run.pass("cold")
      catalogLayers(tracer, o, cold, Seq(run.pass("warm")))
    }
    val dataDir = if (a.workload == "catalog") new File(a.runDir, "inputs/gen-3") else new File(probe, "catalog")
    Kernels.run(spark, dataDir.getPath, KernelRows).foreach { case (k, v) =>
      o.metric(k, v, if (k.endsWith("vs_builtin")) "ratio" else "rows/s")
    }
    tracer.drain()
    o.metric("spark.jobs", tracer.total.jobs.get.toDouble, "count")
    o.metric("spark.stages", tracer.total.stages.get.toDouble, "count")
    o.metric("spark.task_s", tracer.total.taskNs.get / 1e9, "s")
    o.metric("jvm.gc_s", gcSeconds(), "s")
  }
}
