package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Bounded-drain scaffolding shared by the st* catalog entries: run a
  * streaming plan to exhaustion with `Trigger.AvailableNow` into a memory
  * sink and hand the drained table back as a DataFrame.
  *
  * Two structural costs this module removes from every drain:
  *
  *  1. **The conf landmine.** The r8 `withStatePartitions` helper mutated
  *     the session-global `spark.sql.shuffle.partitions` for the drain's
  *     duration — any query planned concurrently on the same session
  *     silently inherited the narrowed setting. Here each drain plans on
  *     a dedicated CHILD session (`parent.newSession()` — own SQLConf,
  *     shared SparkContext/catalog-state), whose shuffle-partition count
  *     is set once at session creation and never mutated again. The
  *     parent session's conf is untouched at every point in time.
  *
  *  2. **The micro-batch floor.** A stateful streaming query creates and
  *     commits one state store per shuffle partition per micro-batch
  *     (store count fixed at first plan, independent of data), so a
  *     bounded drain of tiny state wants FEW stores: the drain session
  *     pins `spark.sql.shuffle.partitions = statePartitions`. It also
  *     disables no-data micro-batches: every st* drain either emits its
  *     rows in the data batch itself (Append-mode stream-stream inner
  *     join, dropDuplicatesWithinWatermark, the per-batch-flushing
  *     bounded sessionizer) or retains all state by definition (Complete
  *     mode) — the extra empty batch Spark schedules to advance the
  *     watermark would only pay another round of state-store commits and
  *     emit nothing. (A future Append-mode windowed aggregate drain WOULD
  *     need that batch — route it through its own session, not this one.)
  *
  * The child session is memoized per (parent, statePartitions): the seven
  * st* gate entries reuse one session, so [[graft.Tables]]' scan-plan
  * memoization (keyed by session identity) keeps paying and session
  * setup is amortized across the catalog. The harness consumes drains
  * sequentially; concurrent drains on the same child session are safe
  * conf-wise (nothing is ever mutated post-creation) — only the memory
  * sink's queryName needs to stay unique per concurrent drain.
  */
object Drain {

  // weak-keyed by the parent session object: an identity-hash key would
  // pin every child session forever and — after a parent is stopped and
  // collected — could collide with a new session allocated the same
  // hash, handing back a child bound to a stopped SparkContext
  private val sessions =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[Int, SparkSession]]()

  /** Checkpoint root for bounded drains: tmpfs when the host has one.
    * A drain's checkpoint (offset log, commit log, state-store deltas)
    * is pure scratch — it exists only to satisfy the streaming engine's
    * write-ahead contract for the few hundred milliseconds the drain
    * runs, then is deleted — so paying ext4 I/O for it is waste. A
    * PRODUCTION unbounded stream must of course checkpoint to durable
    * storage instead: this root is only ever used for the bounded
    * AvailableNow drains this module owns. */
  private val ckptRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  }
  private val jvmTag = java.util.UUID.randomUUID().toString.take(8)
  private val ckptSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Driver-side phase split of the last drain (plan build / start /
    * await) — diagnostic for the bounded-drain floor work only. */
  @volatile private[graft] var lastPhases: String = ""


  /** The memoized drain session for `parent`: own conf, shared context.
    * Conf is written exactly once, before any use. */
  def session(parent: SparkSession, statePartitions: Int = 4): SparkSession =
    sessions.synchronized {
      val perParent = sessions.computeIfAbsent(parent,
        _ => scala.collection.mutable.Map.empty[Int, SparkSession])
      perParent.get(statePartitions)
        .filter(!_.sparkContext.isStopped)
        .getOrElse {
          val s2 = parent.newSession()
          s2.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
          s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
          // ns-vintage events must stay readable even when the parent
          // session was built without Sessions.graftDefaults — pinned
          // here at creation, never mutated later (see EventsStream.source)
          s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          // a bounded drain commits exactly one batch: retaining more
          // checkpoint generations or scheduling store maintenance is
          // pure overhead at this lifetime
          s2.conf.set("spark.sql.streaming.minBatchesToRetain", "1")
          s2.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
          perParent.put(statePartitions, s2)
          s2
        }
    }

  /** Build `plan` against the drain session, run it to exhaustion into a
    * memory sink named `name`, and return (query handle, drained table).
    * The temp view is dropped at the next [[graft.Lifecycle.release]];
    * the query handle carries `recentProgress` for batch-count
    * preconditions (st03/st06). */
  def toTable(parent: SparkSession, name: String, mode: OutputMode,
              statePartitions: Int = 4)(plan: SparkSession => DataFrame)
      : (StreamingQuery, DataFrame) = {
    val s2 = session(parent, statePartitions)
    // unique per drain: a reused checkpoint would make AvailableNow see
    // all offsets committed and drain NOTHING on a rerun (Bench runs the
    // same query three times in one JVM)
    val ckpt = s"$ckptRoot/graft-drain-$jvmTag-${ckptSeq.incrementAndGet()}"
    graft.Lifecycle.defer { graft.Lifecycle.deleteRecursively(new java.io.File(ckpt)) }
    val t0 = System.nanoTime()
    val df = plan(s2)
    val t1 = System.nanoTime()
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    val t2 = System.nanoTime()
    q.awaitTermination()
    val t3 = System.nanoTime()
    lastPhases = f"plan=${(t1 - t0) / 1e6}%.0fms start=${(t2 - t1) / 1e6}%.0fms " +
      f"await=${(t3 - t2) / 1e6}%.0fms"
    // the memory sink pins every batch's result in driver memory via the
    // temp view — drop it once the harness has consumed the frame
    graft.Lifecycle.defer { s2.catalog.dropTempView(name); () }
    (q, s2.table(name))
  }
}
