package graft.operators

/** Corpus-fingerprinted persisted-index machinery, shared by every
  * operator that amortizes an expensive build across executions. At
  * 100 TB these artifacts are THE expensive intermediates — a
  * production deployment builds each once per corpus version as a
  * scheduled job and every consumer reads; recomputing one inside each
  * consumer query is the difference between one LSH pass and three per
  * pipeline run (round-7 t07/t11/t19).
  *
  * Consumers: every published artifact is named by [[stateDir]] under
  * the one [[stateRoot]]. The one-shot indexes call [[ensure]] directly
  * ([[Similarity.SigIndex]], [[Similarity.IvfIndex]],
  * [[Similarity.IvfIncIndex]], [[TextDedup.PairIndex]],
  * [[TextDedup.BandIndex]], [[TextDedup.HotShingleProfile]],
  * [[Corpus]]'s label index, the SourcesStreaming rewrites); every
  * state that grows, folds and retracts night by night is a [[Ring]],
  * which publishes through the same [[ensure]].
  *
  * Guarantees:
  *  - a regenerated corpus at the SAME path changes the fingerprint
  *    (file name + length + mtime of every part), so an index can never
  *    silently serve stale data;
  *  - publication is an atomic directory rename, so a concurrent JVM
  *    sees either the complete index or none — never a torn one — and
  *    racing builders converge on one winner;
  *  - the completeness marker (written last within the build) gates out
  *    a torn leftover from a crashed pre-rename build.
  *
  * NOT covered: CODE staleness — the fingerprint sees the corpus, not
  * the builder. An artifact whose layout or derivation changes must
  * change its [[stateDir]] name: a ring bumps [[Ring.Layout]] (or its
  * family's kernel version), a one-shot index the layout salt in its
  * `name`. Otherwise a warm state root serves the old code's output.
  */
private[operators] object IndexStore {

  /** Broadcast `df` only if its MEASURED in-memory size estimate fits
    * the session's `autoBroadcastJoinThreshold`; otherwise return
    * `fallback(df)`. The point vs letting Catalyst decide: the planner
    * estimates from COMPRESSED file size, which under-states the
    * broadcast hash relation (string-heavy sets decompress 5-10x, plus
    * row + map overhead) — measured failure "Not enough memory to build
    * and broadcast" at 125k docs under a starved heap (r13, PLANS.md)
    * on a set whose parquet stats looked broadcastable. The estimate
    * here is payload bytes + 32 B/row UnsafeRow overhead, x2 for the
    * hash relation layout. Costs one tiny aggregate over `df` — callers
    * pass already-persisted or checkpointed frames, so the scan is
    * cheap. Fallbacks should ACTIVELY suppress a stats-based planner
    * broadcast (e.g. `_.hint("SHUFFLE_HASH")`), not just omit the hint.
    */
  def broadcastIfFits(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      sizeOf: org.apache.spark.sql.Column)(
      fallback: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val st = df.agg(count(lit(1)), sum(sizeOf)).head()
    broadcastIfFitsPre(s, df, estimateBytes(st.getLong(0),
      if (st.isNullAt(1)) 0L else st.getLong(1)))(fallback)
  }

  /** The row-count + payload-bytes → hash-relation-bytes estimate the
    * gate uses (32 B/row UnsafeRow overhead, x2 relation layout). Public
    * so a caller that already aggregated the frame for other reasons
    * (jaccardPairsOnHot's combined stats pass) can feed the gate
    * without a second eager job. */
  def estimateBytes(rows: Long, payloadBytes: Long): Long =
    (32L * rows + payloadBytes) * 2

  /** The session broadcast threshold as BYTES — accepts the bare-long
    * form ("-1" disables broadcast, the standard ops setting, which
    * byteStringAsBytes rejects) and the size-string form ("10MB"). The
    * ONE parser for every tier gate: a drifted duplicate would let the
    * broadcast and SHUFFLE_HASH tiers of one join disagree about the
    * cap (r16 review). */
  private def broadcastCapBytes(s: org.apache.spark.sql.SparkSession): Long = {
    val raw = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    scala.util.Try(raw.trim.toLong).getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
  }

  /** [[broadcastIfFits]] with a precomputed estimate — no aggregate run. */
  def broadcastIfFitsPre(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, est: Long)(
      fallback: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cap = broadcastCapBytes(s)
    if (cap > 0 && est <= cap) broadcast(df) else fallback(df)
  }

  /** The THREE-TIER join-shape pin for a frame whose in-memory size the
    * caller MEASURED (never planner stats — the r13 starved-heap class:
    * compressed-file stats under-state string-heavy hash relations
    * 5-10×, and stacked selectivity estimates broadcast corpus-sized
    * frames). Returns the pinned frame:
    *
    *  - `est < 0` (caller cannot bound the frame): sort-merge, the only
    *    unconditionally spill-safe shape;
    *  - `est ≤` the session broadcast cap: explicit broadcast;
    *  - past the cap, SHUFFLE_HASH only while the per-partition build
    *    PROVABLY fits (SHJ builds cannot spill — a build that outgrows
    *    its task's execution-memory share is a hard `Can't acquire ...
    *    hash relation` failure, measured in r16 at a 2 GB
    *    heap): double-gated with Spark's own SHJ-eligibility calculus
    *    (cap × partitions) AND the per-task input (×4 hash-map
    *    overhead, AQE-coalescing advisory floor included — a coalesced
    *    task reads up to the advisory target, r16 ADVICE) fitting half
    *    a task's execution share;
    *  - past either bound: sort-merge.
    *
    * Factored out of [[TextDedup.verifyJaccardOf]] (r20) so the media
    * family's corpus-proportional 64-bit hash matching rides the SAME
    * calculus instead of a drifting copy — the cap-parser drift class
    * the r18 review closed, one level up. */
  def tieredHint(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, estBytes: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    if (estBytes < 0) return df.hint("MERGE")
    val cap = broadcastCapBytes(s)
    if (cap > 0 && estBytes <= cap) return broadcast(df)
    val parts = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // executor memory × fraction / slots ≈ one task's execution share
    // (local mode: the driver JVM heap; cluster mode: the executor conf
    // when set — and when UNSET, Spark's own 1g executor default, never
    // the driver's heap: a fat driver would overprice the executors'
    // share and admit a build the 1g executors cannot hold — r16 ADVICE)
    val isClusterMaster = s.sparkContext.master.startsWith("spark") ||
      s.sparkContext.master.startsWith("yarn") ||
      s.sparkContext.master.startsWith("k8s")
    val execMem =
      if (isClusterMaster)
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          s.conf.get("spark.executor.memory", "1g"))
      else Runtime.getRuntime.maxMemory()
    val fraction = s.conf.get("spark.memory.fraction", "0.6").toDouble
    val slots = math.max(s.sparkContext.defaultParallelism, 1)
    val taskShare = (execMem * fraction / slots).toLong
    // BytesToBytesMap overhead over raw array payload, measured at the
    // 2 GB failure point (~8 MB acquire for a ~2 MB est slice)
    val buildOverhead = 4L
    // AQE partition coalescing folds several shuffle partitions into one
    // task, so est/parts underprices the real per-task build: a
    // coalesced task reads up to the advisory target (r16 ADVICE).
    // Bound the per-task input by BOTH.
    val aqeCoalesce =
      s.conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
        s.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    val perTaskInput =
      if (aqeCoalesce)
        math.max(estBytes / math.max(parts, 1),
          math.min(estBytes, advisory))
      else estBytes / math.max(parts, 1)
    val perPartBuild = perTaskInput * buildOverhead
    if (cap > 0 && estBytes <= cap * parts && perPartBuild <= taskShare / 2)
      df.hint("SHUFFLE_HASH")
    else df.hint("MERGE")
  }

  /** The root every persisted artifact lives under: the JVM temp dir,
    * read here and nowhere else. */
  def stateRoot: String = sys.props("java.io.tmpdir")

  /** The ONE naming function for published state:
    * `<stateRoot>/graft_<name>_<fingerprint of d/table><suffix>`.
    * `name` carries the artifact family and its layout salt, `suffix`
    * the build parameters and instance tags. */
  def stateDir(name: String, d: String, table: String,
      suffix: String = ""): String =
    s"$stateRoot/graft_${name}_${corpusFingerprint(d, table)}$suffix"

  /** Fingerprint of a corpus table: name, length and mtime of every part
    * of `<d>/<table>.parquet`. (A path hashCode scheme could collide and
    * would miss in-place regeneration.)
    *
    * Listed through the Hadoop FileSystem API, not java.io.File: the
    * corpus this fingerprints lives on an object store (s3a://, hdfs://)
    * at deployment scale, exactly like the r06 listing and the ingest
    * path. Uses a default Configuration because the late-bound oracle
    * dump (`Verify.dumpOracleSql`) runs WITHOUT a Spark session — for a
    * store needing session credentials, thread the session's
    * hadoopConfiguration through here. Any IOException — missing table,
    * object-store auth failure, transient listing error — degrades to a
    * CORPUS-PATH-keyed fallback fingerprint instead of throwing, so a
    * standalone oracle dump of a partial corpus still produces stable
    * SQL. Degradation cost, stated precisely: one spurious rebuild when
    * the listing recovers (fingerprint flips back), plus — for repeated
    * errors against the same corpus dir — the possibility of serving
    * that dir's previously-published index across a content change the
    * failed listing could not see. The path key confines that risk to
    * one corpus; distinct corpora can never collide onto one degraded
    * fingerprint.
    *
    * Migration note (r11→r12): local listing moved from java.io.File to
    * ChecksumFileSystem, which excludes `.crc` sidecar files the old
    * listing included — so fingerprints of unchanged local corpora
    * changed once at the switch, forcing a one-time rebuild of every
    * persisted index. Expected and harmless; fingerprints are stable
    * again from this vintage on. */
  def corpusFingerprint(d: String, table: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    val desc =
      try {
        val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
        fs.listStatus(path).sortBy(_.getPath.getName)
          .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
          .mkString("|")
      } catch {
        // degrade on the FULL corpus path, not the bare table name: a
        // name-only fallback is corpus-independent, so two different
        // corpora both hitting transient listing errors would collapse
        // onto ONE fingerprint and the store could serve corpus A's
        // persisted index for corpus B's query. Keying the degraded
        // fingerprint by path confines any stale-serve risk to re-runs
        // against the SAME corpus dir whose listing is erroring.
        case _: java.io.IOException => s"$d/$table.parquet:degraded"
      }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(desc.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** (bytes, rows) of `<d>/<table>.parquet`, memoized per corpus
    * FINGERPRINT: the footer opens behind [[corpusRows]] are O(files)
    * sequential driver round-trips on an object store, and the value is
    * constant per fingerprint — recomputing it on every delta-plan
    * construction was the r17 review's efficiency finding. A corpus
    * regenerated in place changes the fingerprint, so the cache can
    * never serve stale stats. Degraded (-1) readings are NOT cached:
    * the fingerprint listing can succeed while the bytes/rows listing
    * transiently fails, and caching the -1 under the healthy
    * fingerprint would pin callers to the safe-but-slow branch until
    * the corpus content changes (r17 ADVICE) — recompute instead, so
    * a transient error is retried on the next call. */
  def corpusStats(d: String, table: String): (Long, Long) = {
    val key = s"$d/$table:${corpusFingerprint(d, table)}"
    Option(statsCache.get(key)).getOrElse {
      val v = (corpusBytes(d, table), corpusRows(d, table))
      if (v._1 >= 0L && v._2 >= 0L) statsCache.putIfAbsent(key, v)
      v
    }
  }

  /** Total bytes of `<d>/<table>.parquet`, via the same Hadoop listing
    * as [[corpusFingerprint]] (object-store-capable). Any listing error
    * degrades to -1 — callers gating a persisted-artifact path on size
    * then take the inline branch, which is always correct (the persisted
    * path is an optimization, never a semantic change). */
  def corpusBytes(d: String, table: String): Long =
    dirBytes(s"$d/$table.parquet")

  /** Total row count of `<d>/<table>.parquet` from the parquet FOOTERS —
    * metadata-only (no Spark job, no data pages read), the same listing
    * machinery as [[corpusBytes]]. Gives size-gate callers a measured
    * bytes-per-row without scanning: the delta verify join prices its
    * candidate neighborhood as ids × (corpusBytes / corpusRows) instead
    * of the whole-table upper bound (r16 ADVICE). Degrades to -1 on any
    * error — callers then keep the always-safe full-table bound. */
  def corpusRows(d: String, table: String): Long =
    try {
      val path = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
      val conf = new org.apache.hadoop.conf.Configuration()
      val fs = path.getFileSystem(conf)
      fs.listStatus(path)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Total bytes directly under `dir` (non-recursive — index segments
    * are flat parquet dirs). NonFatal, not just IOException: a malformed
    * dir string throws IllegalArgumentException from Path/getFileSystem
    * before any IO — every listing failure must degrade to the caller's
    * always-correct branch as -1, never fail the query (r14 review
    * finding). */
  def dirBytes(dir: String): Long =
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.listStatus(path).map(_.getLen).sum
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Publish syntax for index-state writes: `df.publishTo(path)` writes
    * parquet through an AQE `REBALANCE` so the published dir's FILE
    * COUNT tracks its byte size instead of the builder's compute
    * parallelism (guide §6: coalesce on write, aim for 128 MB-1 GB
    * files). The builders repartition to defaultParallelism BEFORE
    * their kernels — correct for decode cost, but writing at that
    * parallelism shipped every published dir as 32 KB-scale part-files,
    * and every consumer scan then fanned into one task per file:
    * measured r21 (FileCountProbe, quiet window), the same
    * aggregate over the same published rows costs 719 ms from the
    * 32-file dir and 232 ms from a 1-file rewrite — a 3× floor on
    * EVERY probe of EVERY published ring. At production bytes the same
    * REBALANCE splits toward spark.sql.adaptive.advisoryPartitionSizeInBytes,
    * so scan parallelism comes back from 128 MB splits, not file count.
    * The rebalance shuffle moves only the state rows being published —
    * strictly smaller than the kernel pass that produced them. */
  implicit final class PublishSyntax(private val df: org.apache.spark.sql.DataFrame) {
    def publishTo(path: String): Unit =
      df.hint("REBALANCE").write.mode("overwrite").parquet(path)
  }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  // an in-JVM delete of a published dir (RetractionSpec's wipeAll
  // re-publish, a delete+rebuild of a media index) must drop the
  // pinned schema for it and everything under it, or a rebuilt dir with
  // a changed layout would silently serve the stale schema (r20 ADVICE)
  graft.Lifecycle.onDelete { p =>
    schemaCache.keySet.removeIf(k => k == p || k.startsWith(p + "/")); ()
  }

  /** Read a PUBLISHED (publish-once, marker-gated, immutable) index dir
    * with its schema pinned from a per-JVM cache — skips the footer-read
    * schema inference every plan construction over the dir pays (r19
    * attributed 0.27–0.38 s of each warm probe plan to construction +
    * footer reads; measured in PLANS r20). Sound ONLY for publish-once
    * dirs: content under a published name never changes (the ensure()
    * rename contract), and a regenerated corpus or bumped layout changes
    * the DIR NAME, never the content under an existing one. The first
    * read of a dir infers once to seed the cache. */
  def readPublished(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val schema = schemaCache.computeIfAbsent(dir, d => s.read.parquet(d).schema)
    s.read.schema(schema).parquet(dir)
  }

  /** Ensure the index at `dirPath` is published (its `marker` file
    * exists), running `build` into a private temp sibling and atomically
    * renaming it into place if not. Returns `dirPath`. */
  def ensure(dirPath: String, marker: String)(build: String => Unit): String = {
    val dir = new java.io.File(dirPath)
    if (!new java.io.File(dir, marker).exists()) {
      val tmp = new java.io.File(dir.getParentFile,
        s"${dir.getName}.build-${java.util.UUID.randomUUID()}")
      build(tmp.getAbsolutePath)
      if (!tmp.renameTo(dir)) {
        // rename fails only if dir now exists: either a concurrent build
        // won (use theirs) or a torn pre-rename leftover is in the way
        // (replace it)
        import graft.Lifecycle.deleteRecursively
        if (new java.io.File(dir, marker).exists()) deleteRecursively(tmp)
        else {
          deleteRecursively(dir)
          if (!tmp.renameTo(dir)) deleteRecursively(tmp)
        }
      }
    }
    dirPath
  }
}
