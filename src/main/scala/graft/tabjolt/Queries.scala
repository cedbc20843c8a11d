package graft.tabjolt

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's nine queries (SURVEY.md §3.4) as pure DataFrame
  * programs. Each is `(input tables, runDate) => DataFrame` — the
  * reference's `CURRENT_DATE` is the injected `runDate` everywhere
  * (SURVEY.md §2.2 E5) so runs are deterministic and backfillable.
  *
  * Inputs are the string-typed tables produced by [[Ingest]]; every cast
  * happens here behind the same regexp guards the reference uses.
  *
  * Scale notes: Q1-Q6 are scans with scalar/small aggregates (partial agg
  * => tiny shuffles). Q8a/Q8b join a per-view aggregate (one row per view,
  * always broadcastable) against the filtered current-day samples — at any
  * data volume the big side never shuffles for the join; AQE picks the
  * broadcast without a hint because the agg side's size is known small.
  *
  * A night ([[Pipeline.runDaily]]) runs Q1-Q3 as one [[dailyMetrics]]
  * job and collects [[perViewAverage]] once; Q8a and Q8b then run on a
  * DataFrame of the collected rows, through the `averages` forms of
  * [[regressions]] and [[improvements]]. The `(samples, runDate)` forms
  * build the aggregate into their own plan.
  */
object Queries {

  private def lits(d: LocalDate): Column = lit(java.sql.Date.valueOf(d))

  /** All string->numeric/temporal casts in this module are try_cast:
    * the tables are stringly-typed with dirty rows screened at query time
    * (SURVEY.md §1.3), and under Spark's default ANSI mode a plain cast
    * on a stray non-numeric row would kill the whole report job instead
    * of ignoring the row. try_cast degrades to NULL — Vertica-tolerant
    * behavior, and immune to predicate reordering evaluating a cast
    * before its regexp guard. */

  /** Numeric-validity guard: REGEXP_LIKE(col,'^[0-9]+$')
    * (tabjolt_email.py:383-387). Screens out the JTL header row that was
    * loaded as data, among other garbage. */
  private def isNumeric(c: Column): Column = c.rlike("^[0-9]+$")

  /** Site-view filter: ILIKE '%site%' AND NOT ILIKE '%null%'
    * (tabjolt_email.py:383). */
  private def siteViews(c: Column): Column =
    c.ilike("%site%") && !c.ilike("%null%")

  /** Epoch-millis text -> timestamp via the reference's
    * TO_TIMESTAMP(CAST(x AS BIGINT)/1000): float division on purpose —
    * integer div would truncate sub-second fractions and flip
    * midnight-boundary rows (SURVEY.md §7.4). */
  private def epochMsToTs(c: Column): Column =
    timestamp_seconds(c.try_cast("long") / lit(1000))

  /** Q1/Q2/Q3 in ONE summary pass: the reference issues three per-metric
    * queries against the same table (tabjolt_email.py:375-377); batching
    * the metric tags into a single filter returns the same rows from a
    * single scan+aggregate instead of a 3-branch Union that re-scans per
    * metric (1.27s -> 0.36s at sf0.1). */
  def dailyMetrics(summary: DataFrame, runDate: LocalDate,
                   metrics: Seq[String]): DataFrame =
    summary
      .filter(col("summary_timestamp").try_cast("date") === lits(runDate) &&
        col("summary_metrix").isin(metrics: _*))
      .select(col("summary_value"), col("summary_metrix").as("metric"))

  /** Q1/Q2/Q3 — today's Avg/Max/Min summary value, per-metric form the
    * report path consumes (one scalar each). */
  def dailyMetric(summary: DataFrame, runDate: LocalDate, metric: String): DataFrame =
    dailyMetrics(summary, runDate, Seq(metric)).select(col("summary_value"))

  /** Q4 — latest test-execution timestamp (tabjolt_email.py:378). */
  def latestExecution(winCounter: DataFrame): DataFrame =
    winCounter.agg(max(col("summary_timestamp").try_cast("timestamp")).as("max_ts"))

  /** Q5 — historic average of the daily Avg, CAST(AVG(x) AS INTEGER)
    * (tabjolt_email.py:379). Vertica's double->int cast rounds half-up;
    * Spark's truncates — we pin the reference behavior with round().
    * The varchar summary_value is implicitly coerced by Vertica's AVG;
    * here the explicit cast maps non-numeric strays to NULL, which AVG
    * ignores — same result on data that Vertica wouldn't error on
    * (SURVEY.md §7.4). */
  def historicAvg(summary: DataFrame): DataFrame =
    summary
      .filter(col("summary_metrix") === "Avg")
      .agg(round(avg(col("summary_value").try_cast("double")), 0).try_cast("int")
        .as("average_summary_value"))

  /** Q6 — day-wise Avg series for the trend graph (tabjolt_email.py:86). */
  def trendSeries(summary: DataFrame): DataFrame =
    summary
      .filter(col("summary_metrix") === "Avg")
      .select(col("summary_timestamp").try_cast("date").as("summary_timestamp"),
        col("summary_value").try_cast("int").as("summary_value"))
      .orderBy(col("summary_timestamp"))

  /** Q7 — today's per-request samples, site views only, slowest first
    * (tabjolt_email.py:383). Vertica DESC defaults to NULLS FIRST, and
    * Q7 guards only the timestamp cast, so a non-numeric
    * elapsed_time_ms (NULL after try_cast) sorts before the slowest
    * real sample — matched here with desc_nulls_first. Equal elapsed
    * times are ordered by the other columns ascending, so a capped
    * collect does not depend on the order its tasks end in. */
  def todaysSamples(samples: DataFrame, runDate: LocalDate): DataFrame =
    samples
      .filter(isNumeric(col("timestamp_ms")) &&
        epochMsToTs(col("timestamp_ms")) >= lits(runDate).cast("timestamp") &&
        siteViews(col("response_message")))
      .select(col("elapsed_time_ms").try_cast("int").as("elapsed_time"),
        col("latency_time_ms"), col("success_indicator"),
        col("request_label"), col("response_message"))
      .orderBy(col("elapsed_time").desc_nulls_first, col("request_label"),
        col("response_message"), col("latency_time_ms"), col("success_indicator"))

  /** Per-view historical average — the `aa` inline view of Q8a/Q8b
    * (tabjolt_email.py:385): columns `response` and `avg_elapsed_ms`. */
  def perViewAverage(samples: DataFrame): DataFrame =
    samples
      .filter(isNumeric(col("elapsed_time_ms")) && siteViews(col("response_message")))
      .groupBy(col("response_message").as("response"))
      .agg(avg(col("elapsed_time_ms").try_cast("int")).as("avg_elapsed_ms"))

  /** Current samples — the `bb` inline view; `from` is runDate for Q8a,
    * runDate-3d for Q8b (tabjolt_email.py:385 vs 387). */
  private def currentSamples(samples: DataFrame, from: LocalDate): DataFrame =
    samples
      .filter(isNumeric(col("timestamp_ms")) && isNumeric(col("elapsed_time_ms")) &&
        epochMsToTs(col("timestamp_ms")) >= lits(from).cast("timestamp") &&
        siteViews(col("response_message")))
      .select(col("elapsed_time_ms").try_cast("int").as("current_elapsed_ms"),
        col("response_message"))

  /** The aa LEFT OUTER JOIN bb + CASE pct-diff core shared by Q8a/Q8b,
    * with `aa` the [[perViewAverage]] of `samples`.
    * NULL pct_diff (avg=0 guard, tabjolt_email.py:385) sorts FIRST under
    * DESC to match Vertica's default; Spark's `.desc` is NULLS LAST
    * (SURVEY.md §2.5 O2). */
  private def pctDiff(samples: DataFrame, aa: DataFrame, from: LocalDate): DataFrame = {
    val bb = currentSamples(samples, from)
    aa.join(bb, aa("response") === bb("response_message"), "left_outer")
      .select(col("avg_elapsed_ms"), col("current_elapsed_ms"),
        col("response_message"),
        when(col("avg_elapsed_ms") === 0, lit(null))
          .otherwise((col("current_elapsed_ms") - col("avg_elapsed_ms"))
            / col("avg_elapsed_ms") * 100.0)
          .as("percentage_difference"))
  }

  /** Equal percentage differences ordered by view, then current time,
    * so a capped collect does not depend on the order its tasks end in. */
  private val tieBreaks = Seq(col("response_message"), col("current_elapsed_ms"))

  /** Q8a — regressions: views where today's sample exceeds the historical
    * average (tabjolt_email.py:385). */
  def regressions(samples: DataFrame, runDate: LocalDate): DataFrame =
    regressions(samples, perViewAverage(samples), runDate)

  /** Q8a against `averages`, the [[perViewAverage]] of `samples`. */
  def regressions(samples: DataFrame, averages: DataFrame, runDate: LocalDate): DataFrame =
    pctDiff(samples, averages, runDate)
      .filter(col("avg_elapsed_ms") < col("current_elapsed_ms"))
      .orderBy(col("percentage_difference").desc_nulls_first +: tieBreaks: _*)

  /** Q8b — improvements: 3-day current window, kept when the drop exceeds
    * 40% (the header text says 50% but the predicate is -40 — the
    * predicate is the behavior, SURVEY.md §3.4). */
  def improvements(samples: DataFrame, runDate: LocalDate): DataFrame =
    improvements(samples, perViewAverage(samples), runDate)

  /** Q8b against `averages`, the [[perViewAverage]] of `samples`. */
  def improvements(samples: DataFrame, averages: DataFrame, runDate: LocalDate): DataFrame =
    pctDiff(samples, averages, runDate.minusDays(3))
      .filter(col("avg_elapsed_ms") > col("current_elapsed_ms"))
      .filter(col("percentage_difference") < -40.0)
      .orderBy(col("percentage_difference").desc_nulls_first +: tieBreaks: _*)

  /** Null-safe red-alert flag (>20% regression, README.md:10): the
    * reference's Python `pd > 20.0` would throw on None
    * (tabjolt_email.py:223); ours is explicitly null-safe
    * (SURVEY.md §3.4). */
  def withAlertFlag(report: DataFrame): DataFrame =
    report.withColumn("is_alert",
      coalesce(col("percentage_difference") > 20.0, lit(false)))
}
