package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * An optional comma-separated name list (Verify's filter) scopes the
  * warmup and the timed passes to those entries, e.g.
  * `sbt "runMain graft.Bench sk03_bloom_decon,t15_decontamination"`.
  *
  * A warmup pass at sf0.001 first exercises codegen + JIT so the timed
  * pass measures steady-state engine throughput rather than JVM
  * compilation of whichever query happens to run first. */
object Bench {
  def main(args: Array[String]): Unit = {
    val ordered = SparkEntry.selected(args.headOption.toSeq.flatMap(_.split(',')))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.graftDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // testdata-vintage tripwire: printed at start (for the log) and again
    // just before the result line (so it lands inside the driver's
    // 2000-char tail window next to the numbers it describes)
    val vintage = Vintage.line(sfDir, spark.sparkContext.hadoopConfiguration)
    println(vintage)

    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir) {
      ordered.foreach { case (_, fn) =>
        try fn(spark, warmupDir).count() catch { case _: Throwable => }
        Lifecycle.release(spark)
      }
    }

    // min of two timed runs per query: single-shot numbers swing ~2x with
    // GC/JIT noise in a shared container; the min is the engine's cost.
    // A failed query reports -1 — a broken build must not masquerade as a
    // fast one.
    // Release per-query state AFTER stopping the clock: the measurement is
    // the query's cost, and the release prevents cache/checkpoint/memory-
    // sink residue from one query inflating every later one (the round-2
    // q16-q21 3-6x regression — see Lifecycle).
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val dt =
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        }
      Lifecycle.release(spark)
      dt
    }
    // Three COMPLETE catalog passes, min per query across passes — not
    // repeated back-to-back runs per query: a transient load spike on the
    // shared container then poisons at most one of a query's samples
    // instead of all of them (BENCH_r04 recorded q09 at 3.05s from two
    // back-to-back samples inside one spike; re-run quiet it is 0.34s),
    // so the min stays the engine's cost. A query that fails in one pass
    // is retried in the others — only all-passes-failed reports -1, so a
    // single transient container failure cannot masquerade as a broken
    // query (and a valid earlier sample is never poisoned by a later
    // failure: failed samples are simply dropped from the min).
    val passResults: Seq[Seq[(String, Double)]] = (1 to 3).map { _ =>
      ordered.map { case (name, fn) => name -> timeOnce(name, fn) }
    }
    val best = ordered.map { case (name, _) =>
      val samples = passResults.flatMap(_.collect {
        case (`name`, t) if t >= 0 => t
      })
      name -> (if (samples.isEmpty) -1.0 else samples.min)
    }.toMap
    val results = ordered.map { case (name, _) => name -> best(name) }
    // Artifact self-description (r13 VERDICT nit: BENCH_r13 carried a
    // degraded-host window's total as the round's number with nothing in
    // the JSON saying so). pass_totals lets a cross-round diff reader see
    // the spread; `transient` flags a pass-to-pass swing beyond the
    // measured ±15% container noise floor — when true, the min-side
    // numbers (which `value` already reports, being min-of-passes) are
    // the engine's cost and the worst pass is host noise.
    // failed samples (-1) are EXCLUDED from a pass's total, not mapped
    // to 0 (r14 review: a query failing in one pass but not another
    // would skew the totals and spuriously set/mask `transient`); the
    // per-pass failure count is emitted alongside whenever nonzero so
    // an asymmetric-sample total is never read as a clean one
    val passTotals = passResults.map(_.collect { case (_, t) if t >= 0 => t }.sum)
    val passFails = passResults.map(_.count(_._2 < 0))
    // noise is judged on the TAIL passes only: pass 1 structurally pays
    // the per-JVM fixture writes (r06's 64-file frag, r08's bucketed
    // tables, fresh-fingerprint index builds), so a pass1-vs-pass3
    // spread is amortization, not host noise (measured 54.2 -> 35.6 s
    // in a quiet window). A tail pass with ANY failed sample makes the
    // ratio meaningless (different query sets), so transient stays
    // false and pass_fails carries the signal instead.
    val tail = passTotals.drop(1)
    val transientRun = passFails.drop(1).forall(_ == 0) &&
      tail.min > 0 && tail.max / tail.min > 1.3
    // The driver captures only the LAST 2000 chars of this process's
    // output and JSON-parses the result line out of that window — at 73
    // queries, full-precision doubles push the line to ~2900 chars and
    // the head gets truncated (BENCH_r04..r07: "parsed": null, so the
    // per-query regression rule could not be applied). Centisecond
    // precision (ample against the measured ±15% container noise floor)
    // plus a numeric sf keeps the line under ~1930 chars.
    def fmt(v: Double, scale: Int): String =
      java.math.BigDecimal.valueOf(v)
        .setScale(scale, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros.toPlainString
    val total = results.map(_._2).sum
    val sfJson = "sf([0-9.]+)$".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("\"" + sfDir + "\"")
    val passJson = passTotals.map(fmt(_, 2)).mkString("[", ",", "]")
    val failsJson = if (passFails.exists(_ > 0))
      s""","pass_fails":${passFails.mkString("[", ",", "]")}""" else ""
    val selfDesc = s""""pass_totals":$passJson,"transient":$transientRun$failsJson"""
    def line(scale: Int): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, scale) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, scale)},"unit":"sec",$selfDesc,"queries":$qs,"sf":$sfJson}"""
    }
    // the driver's tail window is 2000 chars (minus a possible "[info] "
    // prefix and newline); at 111 catalog queries the full names ALONE
    // are 1960 chars, so no precision choice can fit a full-name map.
    // The catalog's id prefixes (the part before the first underscore:
    // q01, st04, t06, ...) are unique and are how every review artifact
    // already refers to queries, so the driver line uses the prefix as
    // the key — ALL entries present, no "omitted" — while the FULL-name
    // centisecond map of a full (no-argument) run lands in
    // bench_full.json next to the build. When centisecond values no
    // longer fit (165 entries at sf0.1), the line prints decisecond ones.
    // If a future catalog addition ever collides on prefix, or neither
    // fits, it falls back to largest-first shedding with an "omitted"
    // count rather than emitting ambiguous keys.
    val prefixes = results.map { case (n, _) => n.takeWhile(_ != '_') }
    val prefixUnique = prefixes.distinct.size == results.size
    def lineShort(scale: Int): String = {
      val qs = results.zip(prefixes).map { case ((_, v), p) =>
        "\"" + p + "\":" + fmt(v, scale)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, scale)},"unit":"sec",$selfDesc,"queries":$qs,"sf":$sfJson}"""
    }
    def lineTop(scale: Int, keep: Int): String = {
      val desc = results.sortBy { case (n, v) => (-v, n) }
      val kept = desc.take(keep)
      val qs = kept.map { case (k, v) => "\"" + k + "\":" + fmt(v, scale) }
        .mkString("{", ",", "}")
      val omitted = if (keep >= results.size) ""
        else s""","omitted":${results.size - keep}"""
      s"""{"metric":"total","value":${fmt(total, scale)},"unit":"sec",$selfDesc,"queries":$qs$omitted,"sf":$sfJson}"""
    }
    // a scoped run times a subset: it leaves the full-catalog map alone
    if (args.isEmpty) java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"), line(2) + "\n")
    // vintage + result must BOTH fit the driver's 2000-char tail window;
    // decisecond values keep every entry before any is shed
    def fits(l: String): Boolean = l.length + vintage.length + 2 <= 1985
    val out = Seq(2, 1).view.map(lineShort).find(l => prefixUnique && fits(l))
      .getOrElse((results.size to 1 by -1).view.map(k => lineTop(2, k))
        .find(fits).getOrElse(lineTop(2, 1)))
    println(vintage)
    println(out)
    spark.stop()
  }
}
