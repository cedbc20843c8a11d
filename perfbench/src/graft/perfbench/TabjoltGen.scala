package graft.perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Shape of one TabJolt history: how many views, days and samples per
  * view per day, and the share of malformed JTL rows. */
final case class DailyShape(views: Int, days: Int, samplesPerViewDay: Int, malformedRate: Double)

/** What the report for the last day must show, computed in plain Scala
  * from the generator's own rows (no Spark). */
final case class DailyExpect(
    rejectedRecords: Int,
    rejectedLines: Long,
    metrics: Seq[(String, String)],
    q7Rows: Long,
    q7TopElapsed: Int,
    q8aRows: Long,
    q8bRows: Long,
    redRows: Long)

/** The generated inputs: the "remote" files and the fetch list that
  * stages them, plus the oracle. */
final case class DailyInputs(
    remoteDir: File,
    runDate: LocalDate,
    sources: Seq[String],
    samplesBytes: Long,
    expect: DailyExpect)

/** Seeded generator of TabJolt logs: `summary_line.csv`, `wincounter.tsv`,
  * `thread_details.tsv` and the JTL `performance_samples.csv`, one
  * cumulative CSV. A share of JTL rows is malformed (wrong arity, half of
  * them with a quoted multi-line field), and one view in fifty carries a
  * quoted multi-line `rm` on every good row. About 30 % of the views
  * regress on the last day, and each view has one fast sample on each of the
  * three days before it, so Q7, Q8a and Q8b all have rows. */
object TabjoltGen {
  val RunDate: LocalDate = LocalDate.of(2024, 7, 30)
  val RenderCap = 10000

  private val Header = "t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,"

  private def q(s: String): String =
    if (s.exists(c => c == ',' || c == '\n' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** The view identity as the JTL `rm` column carries it. Views with
    * v % 97 == 13 belong to a null site, v % 89 == 7 are not site views;
    * both are screened out by the report's site filter. */
  private def rm(v: Int): String = {
    val wb = s"wb${v / 10}"
    if (v % 97 == 13) s"Site: null; Workbook: $wb; View: view$v;"
    else if (v % 89 == 7) s"Request ok for workbook $wb view$v"
    else if (v % 50 == 0) s"Site: site0; Workbook: $wb;\nView: view$v;"
    else s"Site: site0; Workbook: $wb; View: view$v;"
  }
  private def siteView(v: Int): Boolean = v % 97 != 13 && v % 89 != 7

  def generate(dir: File, shape: DailyShape, seed: Long): DailyInputs = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val first = RunDate.minusDays(shape.days - 1L)
    val views = shape.views
    val base = Array.fill(views)(200 + rnd.nextInt(4800))
    val regress = Array.fill(views)(rnd.nextDouble() < 0.3)
    // exact integer sums per view: Spark's avg over ints sums them as
    // doubles, which is exact below 2^53, so the oracle's avg is bit-equal
    val sum = new Array[Long](views)
    val cnt = new Array[Long](views)
    val today = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (view, elapsed)
    val window = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // last 4 days
    var rejectedRecords = 0
    var rejectedLines = 0L

    val out = new BufferedWriter(new FileWriter(new File(dir, "performance_samples.csv")), 1 << 16)
    out.write(Header); out.write('\n')
    val sb = new java.lang.StringBuilder(256)
    for (d <- 0 until shape.days) {
      val day = first.plusDays(d.toLong)
      val dayMs = day.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
      val isToday = day == RunDate
      val inWindow = !day.isBefore(RunDate.minusDays(3))
      for (v <- 0 until views; k <- 0 until shape.samplesPerViewDay) {
        val factor =
          if (isToday && regress(v)) 1.3 + 0.7 * rnd.nextDouble()
          else if (inWindow && !isToday && k == 0) 0.2 + 0.2 * rnd.nextDouble()
          else 0.8 + 0.4 * rnd.nextDouble()
        val elapsed = math.max(1, math.round(base(v) * factor).toInt)
        val ts = dayMs + rnd.nextInt(86400000)
        val malformed = rnd.nextDouble() < shape.malformedRate
        val ident = rm(v)
        sb.setLength(0)
        sb.append(elapsed).append(',').append(elapsed / 3).append(',').append(ts)
          .append(",true,").append(if (k == 0) "Bootstrap request" else "Interact Viz Test")
          .append(",200,").append(q(ident)).append(",InteractVizThreadGroup 1-1,,")
          .append(elapsed * 97L).append(",1,5,").append(q(ident))
        if (malformed) {
          // wrong arity; every other one also carries a quoted multi-line
          // field, so the reject spans two physical lines
          if (rejectedRecords % 2 == 0) sb.append(",\"retry\nlater\"") else sb.append(",extra")
          rejectedRecords += 1
        } else {
          if (siteView(v)) {
            sum(v) += elapsed; cnt(v) += 1
            if (isToday) today += ((v, elapsed))
            if (inWindow) window += ((v, elapsed))
          }
        }
        val line = sb.toString
        if (malformed) rejectedLines += line.count(_ == '\n') + 1
        out.write(line); out.write('\n')
      }
    }
    out.close()

    // summary_line: Avg/Min/Max/Err per day, plus one malformed row
    val summary = new BufferedWriter(new FileWriter(new File(dir, "summary_line.csv")))
    var avgSum = 0L
    var todayAvg, todayMin, todayMax = ""
    for (d <- 0 until shape.days) {
      val day = first.plusDays(d.toLong)
      val avg = 8000 + rnd.nextInt(8000)
      val mn = avg / 2 + rnd.nextInt(1000)
      val mx = avg * 2 + rnd.nextInt(1000)
      avgSum += avg
      if (day == RunDate) { todayAvg = avg.toString; todayMin = mn.toString; todayMax = mx.toString }
      summary.write(s"Avg,$avg,$day\nMin,$mn,$day\nMax,$mx,$day\nErr,0 0.00%,$day\n")
    }
    summary.write("this,row,is,malformed,beyond,the,schema,arity\n")
    rejectedRecords += 1; rejectedLines += 1
    summary.close()
    val historic = java.math.BigDecimal.valueOf(avgSum.toDouble / shape.days)
      .setScale(0, java.math.RoundingMode.HALF_UP).intValueExact()

    // wincounter: 8 perfmon samples a day; only the latest timestamp is read
    val win = new BufferedWriter(new FileWriter(new File(dir, "wincounter.tsv")))
    var latest = ""
    val counters = Seq(("Memory", "% Committed Bytes In Use", ""),
      ("Processor", "% Processor Time", "_Total"),
      ("Network Interface", "Bytes Sent/sec", "eth0"),
      ("LogicalDisk", "% Free Space", "C:"))
    for (d <- 0 until shape.days; i <- 0 until 8) {
      val day = first.plusDays(d.toLong)
      val sec = rnd.nextInt(86400)
      val ts = f"$day ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"
      if (ts > latest) latest = ts
      val (cat, name, inst) = counters(i % counters.size)
      val epoch = day.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli + sec * 1000L
      win.write(Seq(epoch.toString, "LOCALHOST", cat, name, inst,
        f"${rnd.nextDouble() * 100}%.4f", ts).mkString("\t") + "\n")
    }
    win.close()

    val threads = new BufferedWriter(new FileWriter(new File(dir, "thread_details.tsv")))
    for (i <- 1 to 5)
      threads.write(s"#$i\tThreads: 5/5\tSamples: ${shape.days * shape.samplesPerViewDay}\tLatency: ${10 + i}\tResp.Time: ${100 + i}\tErrors: 0\n")
    threads.close()

    // Q8a/Q8b: every (view, current sample) pair against the view's
    // all-history average, exactly as Spark evaluates the CASE
    def avgOf(v: Int): Double = sum(v).toDouble / cnt(v)
    def pct(cur: Int, avg: Double): Double = (cur - avg) / avg * 100.0
    var q8a, red = 0L
    today.foreach { case (v, e) =>
      val a = avgOf(v)
      if (a < e) { q8a += 1; if (pct(e, a) > 20.0) red += 1 }
    }
    val q8b = window.count { case (v, e) => val a = avgOf(v); a > e && pct(e, a) < -40.0 }.toLong
    val metrics = Seq(
      "Average time taken for tabjolt run (values are in ms):" -> todayAvg,
      "Maximum time taken for tabjolt run (values are in ms):" -> todayMax,
      "Minimum time taken for tabjolt run (values are in ms):" -> todayMin,
      "Tabjolt test cases executed at " -> java.sql.Timestamp.valueOf(latest).toString,
      "Average Historic time taken for tabjolt run (values are in ms):" -> historic.toString)
    val expect = DailyExpect(rejectedRecords, rejectedLines, metrics, today.size.toLong,
      if (today.isEmpty) 0 else today.map(_._2).max, q8a, q8b, red)
    val sources = Seq("summary_line.csv", "wincounter.tsv", "thread_details.tsv", "performance_samples.csv")
    val bytes = new File(dir, "performance_samples.csv").length
    DailyInputs(dir, RunDate, sources, bytes, expect)
  }
}
