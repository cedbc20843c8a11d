package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Low-floor executor for SMALL-STATE iterative loops (connected
  * components' label rounds, BPE's merge rounds).
  *
  * The problem (QueryProf, r21): an iterative DataFrame loop pays, per
  * round, one job PER AQE stage materialization (every Exchange and
  * BroadcastExchange is its own job) plus AQE's re-optimization between
  * them plus the eager checkpoint's count job plus the convergence
  * probe — mm11's 6-round CC ran 58 jobs with a task-time sum of 1.4 s
  * inside a 3.6 s wall; the other 2.2 s was pure per-job scheduler/DAG
  * floor and per-round planning. That floor is not a local-mode quirk:
  * on a cluster every one of those jobs is a full scheduler round-trip
  * and an executor-fleet barrier, paid `rounds × jobs-per-round` times.
  *
  * The fix: once the loop's state is MEASURED to be small (bytes of the
  * checkpointed state read from the block manager — the same
  * measured-bytes discipline as [[IndexStore.tieredHint]]), run the
  * loop's rounds on a dedicated child session that plans STATICALLY:
  * AQE off, so one round = ONE job whose stages the DAG scheduler
  * pipelines back-to-back with no re-planning barriers, with join
  * strategies pinned by hint (the static planner has no stats for
  * checkpointed state and would default to sort-merge). Frames hop
  * between parent and child as InternalRow RDDs
  * ([[org.apache.spark.sql.GraftBridge]]) — zero row conversion, the
  * blocks themselves are shared.
  *
  * What is deliberately NOT run on the static session: anything
  * corpus-sized. The gate is measured state bytes
  * (`spark.graft.loop.staticMaxBytes`, default 256 MB): above it the
  * loop stays on the caller's session where AQE's coalescing and
  * skew-join splitting earn their per-stage barriers (a giant-component
  * CC label join is exactly the skew AQE exists for). Below it, a
  * worst-case skewed partition is bounded by the gate itself, so
  * forgoing the skew-splitter is safe by construction. The conf keeps
  * the production decision parameterised rather than tuned to either
  * local mode or the bench.
  */
private[graft] object LoopExec {

  /** Weak-keyed memoized static-planning children per (parent session,
    * shuffle-partition count) (the [[graft.streaming.Drain]] convention:
    * own SQLConf written once at creation and never mutated; shared
    * SparkContext, so cached blocks and checkpoints are visible on both
    * sides). The partition count is part of the key because it is the
    * one conf a loop SIZES from its measured state — see
    * [[partitionsFor]]; the pow-2 rounding there bounds the session
    * count per parent at log2(gate/32MB) ≈ 4. */
  private val sessions =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[Int, SparkSession]]()

  def session(parent: SparkSession, partitions: Int): SparkSession =
    sessions.synchronized {
      val perParent = sessions.computeIfAbsent(parent,
        _ => scala.collection.mutable.Map.empty[Int, SparkSession])
      perParent.get(partitions)
        .filter(!_.sparkContext.isStopped)
        .getOrElse {
          val s2 = parent.newSession()
          // Inherit the parent's RUNTIME session conf: newSession() only
          // sees SparkContext-time conf, so a caller-set ANSI mode /
          // session timezone / tuning override would otherwise plan under
          // different SQL semantics on the static path than on the AQE
          // path it must stay physically equivalent to (r21 ADVICE). Only
          // modifiable keys are copied (static confs cannot move and are
          // already shared via the context); keys already equal are
          // skipped. The snapshot is taken ONCE at child creation — the
          // memo never refreshes an existing child, so parent conf
          // mutations after a loop has run do not propagate (acceptable:
          // the engine mains never mutate session conf mid-run; a caller
          // that does gets a fresh child by changing the partition count
          // or session).
          parent.conf.getAll.foreach { case (k, v) =>
            if (s2.conf.isModifiable(k) && !s2.conf.getOption(k).contains(v))
              scala.util.Try(s2.conf.set(k, v))
          }
          // static planning: one job per action, stages pipelined by the
          // DAG scheduler, no per-exchange materialization barriers
          s2.conf.set("spark.sql.adaptive.enabled", "false")
          s2.conf.set("spark.sql.shuffle.partitions", partitions.toString)
          perParent.put(partitions, s2)
          s2
        }
    }

  /** Loop shuffle-partition count DERIVED from measured state bytes
    * (guide §2: partitioning from input size, not a constant tuned to
    * either local mode or a cluster): one partition per 8 MB of state,
    * rounded up to a power of two, capped at the parent's own shuffle
    * setting. Without AQE's runtime coalescing this is the static
    * equivalent: a KB-scale bench loop gets 1 partition (a round is a
    * handful of tasks, not 8 exchanges × parent-partition launches of
    * empty work — the measured 40× task-time inflation of the first r21
    * attempt). The divisor is COMPUTE-sized, not shuffle-sized: a loop
    * round is join/agg work proportional to state, and an 8 MB slice of
    * (long, long) edge rows is ~500k join probes per task per round —
    * sizing at a shuffle-efficiency number (first attempt: 32 MB) left
    * the ccskew adversary (58 MB of edges, 12 rounds) running
    * its rounds 2-wide on a 32-core host — measured 50.1 s vs the
    * 23.5 s r17 record; at 8 MB (8 partitions) it re-converged in
    * 25.9 s, back inside the noise band (OPTIMIZATION_r21.md). */
  def partitionsFor(parent: SparkSession, stateBytes: Long): Int = {
    val parentParts = scala.util.Try(
      parent.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(32)
    val want = math.max(1L, (stateBytes + (8L << 20) - 1) / (8L << 20))
    val pow2 = java.lang.Long.highestOneBit(math.max(1L, want * 2 - 1))
    math.min(parentParts.toLong, pow2).toInt
  }

  /** Re-host `df` (whose state MUST already be materialized —
    * checkpointed or cached) on `target` without converting rows. */
  def bridge(target: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(
      target, df.queryExecution.toRdd, df.schema)

  /** Measured storage bytes of checkpoint-pinned RDDs (mem + disk), or
    * -1 when nothing is reported (treat as "unknown", i.e. not small). */
  def pinnedBytes(sc: org.apache.spark.SparkContext,
                  pinned: Seq[org.apache.spark.rdd.RDD[_]]): Long = {
    val ids = pinned.map(_.id).toSet
    val infos = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
    if (infos.isEmpty) -1L
    else infos.map(i => i.memSize + i.diskSize).sum
  }

  /** The static-loop byte gate (see object doc). */
  def staticMaxBytes(sess: SparkSession): Long =
    scala.util.Try(sess.conf.get(
      "spark.graft.loop.staticMaxBytes", (256L * 1024 * 1024).toString).toLong)
      .getOrElse(256L * 1024 * 1024)
}
