package graft.operators

import org.apache.spark.sql.DataFrame

/** Byte-derived fan-out for per-row kernel passes over small scans.
  *
  * Every text/media kernel entry used to open with
  * `repartition(defaultParallelism)` — without it, a bench-scale corpus
  * is one parquet file = one task and the whole kernel serializes
  * (measured 4.7s -> 0.2s on t06 when it was introduced). But the CORE
  * COUNT is the wrong width when the input is small: at sf0.1 the
  * documents table is ~600 KB, and a 32-way fan-out turns the kernel
  * into 32 tiny tasks whose launch + contention overhead exceeds the
  * compute — the r21 driver measured t33/v03/sk03/t32 FASTER on 8 cores
  * than 32 (scaling ratios 0.47-0.59), and QueryProf shows the 32-task
  * kernel stages' per-task time inflated ~10x over the same work run
  * narrow. A constant tuned to the core count is exactly the
  * "local-mode constant" the optimization guide (§2) warns about.
  *
  * [[spread]] sizes the fan-out from the INPUT'S MEASURED BYTES instead
  * (planner stats — file bytes for the parquet scans these sites wrap):
  * one partition per [[DefaultBytesPerTask]] (200 KB of scan input per
  * task, COMPUTE-priced like [[LoopExec.partitionsFor]]'s
  * divisor: these kernels expand input text into shingles/tokens at
  * 10-50x, so 200 KB in is a few MB of kernel output and tens of ms of
  * work per task. Width A/B over 12 kernel entries at sf0.1, r22:
  * legacy core-count width 11.21s, 16KB 10.22s, 64KB 8.05s, 150KB
  * 7.40s, 300KB 8.15s, 1MB 10.56s — a flat valley at 128-300KB with
  * steep walls at both extremes; a refining pass placed 200KB at the
  * valley floor), capped at `defaultParallelism` (the old width) so a
  * corpus-sized scan still fans out to every core exactly as before.
  * Unknown stats (a checkpointed/RDD-backed frame reports the conf
  * default, effectively infinite) hit the cap, i.e. degrade to the old
  * behavior, never to a serialized kernel.
  *
  * At 100 TB the width is always the cap, so nothing changes at scale;
  * at bench/test scale the kernel keeps real parallelism (a 600 KB
  * corpus still gets ~9 tasks) without paying 3x the launches for
  * no additional bytes. */
private[graft] object Fanout {

  /** Scan bytes per kernel task (see object doc). */
  private val DefaultBytesPerTask = 200L * 1024

  /** The width [[spread]] would use for `df` (exposed for specs). */
  def widthFor(df: DataFrame): Int = {
    val s = df.sparkSession
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // BigInt: unknown-stats frames report huge defaults — clamp, hit the cap
    widthForBytes(s, if (est.isValidLong) math.max(0L, est.toLong) else Long.MaxValue)
  }

  /** The width for a KNOWN byte count — for frames whose planner stats
    * are blind (a streaming relation inside a drain) but whose source
    * bytes the caller measured on disk. */
  def widthForBytes(s: org.apache.spark.sql.SparkSession, bytes: Long): Int = {
    val cap = math.max(1, s.sparkContext.defaultParallelism)
    if (bytes < 0) return cap // unknown — the old width, never a serialized kernel
    val want = ((bytes + DefaultBytesPerTask - 1) / DefaultBytesPerTask) max 1L
    math.min(cap.toLong, want).toInt
  }

  /** `df.repartition(byte-derived width)` — the drop-in replacement for
    * the kernel sites' `repartition(defaultParallelism)`. */
  def spread(df: DataFrame): DataFrame = df.repartition(widthFor(df))

  /** Postfix form so kernel sites read like the repartition they
    * replace: `docs(s, d).spreadByBytes`. */
  implicit final class SpreadSyntax(private val df: DataFrame) extends AnyVal {
    def spreadByBytes: DataFrame = Fanout.spread(df)
  }
}
