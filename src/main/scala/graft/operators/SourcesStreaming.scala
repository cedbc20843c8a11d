package graft.operators

import graft.{QueryDef, Tables}
import graft.tabjolt.{Ingest, Schemas}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Source/sink + streaming gate entries.
  *
  * r01 proves the delimited-ingest path (SURVEY.md §2.1 S3/S5/S6) against
  * the DuckDB oracle end-to-end: documents -> CSV files -> PERMISSIVE
  * multiLine schema'd read -> typed rows, which must round-trip losslessly
  * (quotes, commas, multi-line fields included).
  *
  * st01 proves the Structured Streaming path: the same hourly aggregate a
  * batch GROUP BY would produce, computed by a streaming query drained
  * with Trigger.AvailableNow — checked against DuckDB's time_bucket.
  */
object SourcesStreaming {

  /** Scratch dir for a sink round-trip, keyed by format prefix and the
    * corpus dir (hex of the path hash: collisions only re-overwrite a
    * scratch dir that the same query rewrites anyway). */
  private[operators] def roundtripDir(prefix: String, d: String): String =
    s"${IndexStore.stateRoot}/graft_roundtrip_${prefix}_" +
      Integer.toHexString(d.hashCode)

  /** Memoized per-parent WRITER session with the modern INT64-micros
    * parquet timestamp encoding. Spark's legacy INT96 default carries NO
    * min/max statistics, so a sink written with it can never be
    * row-group skipped on time (the whole point of r07, and the reason
    * r06's compacted files should keep their stats). The conf must not
    * be set on the caller's session — a session-global mutation leaks
    * into every OTHER write that session performs (Verify's own gate
    * dumps, notably, whose encoding the driver's comparator has pinned)
    * — so writes happen on a child session where the conf is set once at
    * creation and never mutated, the same isolation discipline as
    * [[graft.streaming.Drain]]. */
  /** Frag fixtures already written by THIS JVM (see r06: cross-JVM
    * reuse is unsafe, within-JVM reuse of an immutable corpus is not).
    * Values are per-key completion latches, NOT a bare done-flag: the
    * fixture write is a multi-second Spark job, and running it inside
    * `computeIfAbsent`'s mapping function would hold the map's bin lock
    * for the whole job (the CHM contract asks for short computations —
    * an unrelated key hashing to the same bin would block behind the
    * write). Instead callers race `putIfAbsent` with a fresh future
    * (cheap, lock held for nanoseconds); the winner runs the write
    * OUTSIDE any map lock and completes the future, losers `join` it.
    * Same per-key torn-write protection, no cross-key blocking. A
    * failed write removes its future so a later caller retries instead
    * of joining a poisoned latch forever. */
  private val fragWritten =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.CompletableFuture[java.lang.Boolean]]()

  /** Run `write` exactly once per `key` in this JVM, with concurrent
    * same-key callers blocking until it completes (see [[fragWritten]]). */
  private def onceSerialized(key: String)(write: => Unit): Unit = {
    val mine = new java.util.concurrent.CompletableFuture[java.lang.Boolean]()
    val existing = fragWritten.putIfAbsent(key, mine)
    if (existing == null) {
      try { write; mine.complete(java.lang.Boolean.TRUE); () }
      catch {
        case t: Throwable =>
          mine.completeExceptionally(t)
          fragWritten.remove(key, mine)
          throw t
      }
    } else { existing.join(); () }
  }

  private val writerSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.SparkSession]()
  private def statsWriter(parent: org.apache.spark.sql.SparkSession) =
    // weak-keyed by the parent OBJECT (an identity-hash key would leak
    // the child forever and can collide with a later session allocated
    // the same hash after the parent is GC'd); a cached child whose
    // context has stopped is discarded and rebuilt
    writerSessions.synchronized {
      val cached = writerSessions.get(parent)
      if (cached != null && !cached.sparkContext.isStopped) cached
      else {
        val w = parent.newSession()
        w.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        // read conf, set HERE at creation (not by Tables.events mid-use)
        // so r07's events read through this child works even when the
        // parent lacks Sessions.graftDefaults — the child's conf really
        // is write-once-at-creation, as the isolation doc promises
        w.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        writerSessions.put(parent, w)
        w
      }
    }

  private val csvSchema = StructType(
    Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(StructField(_, StringType)) :+ StructField(Schemas.Rejected, StringType))

  val r01 = QueryDef(
    "r01_csv_roundtrip",
    (s, d) => {
      val out = roundtripDir("csv", d)
      Tables.documents(s, d)
        .select(col("doc_id").cast("string"), col("text"), col("lang"),
          col("source"), col("n_chars").cast("string"))
        .write.mode("overwrite").option("quoteAll", "true").csv(out)
      val loaded = Ingest.load(s, out, csvSchema, ",")
      graft.Lifecycle.defer(loaded.cleanup()) // Ingest contract: release the parse cache
      // rejected must be empty for a lossless round-trip; surface any
      // reject as a row-count mismatch versus the oracle
      loaded.good
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"))

  /** S4 (tab-delimited bulk load — the reference's wincounter/thread
    * tables load with DELIMITER '\t', tabjolt_email.py:366-369) proven
    * through the gate: same lossless round-trip as r01 but tab-separated
    * end to end. */
  val r02 = QueryDef(
    "r02_tsv_roundtrip",
    (s, d) => {
      val out = roundtripDir("tsv", d)
      Tables.documents(s, d)
        .select(col("doc_id").cast("string"), col("text"), col("lang"),
          col("source"), col("n_chars").cast("string"))
        .write.mode("overwrite").option("sep", "\t")
        .option("quoteAll", "true").csv(out)
      val loaded = Ingest.load(s, out, csvSchema, "\t")
      graft.Lifecycle.defer(loaded.cleanup())
      loaded.good
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"))

  /** The documents table's file-source stream schema — caller-asserted
    * (file-source schemas are not validated against the footer), so ONE
    * definition for every documents stream (st06/st07/st08): a width
    * change fixed in two of three copies would silently null the third
    * stream's mismatched column (r16 review). */
  private[operators] val DocStreamSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Typed JSONL read schema: real types (not all-string like CSV — JSON
    * carries them), plus the PERMISSIVE corrupt-record column so a torn
    * or malformed line lands in the reject channel instead of killing
    * the load (the S5 rejected-row contract, extended to the JSON
    * source). */
  private[operators] val jsonSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField(Schemas.Rejected, StringType)))

  /** PERMISSIVE JSONL read, split into good/rejected channels. Cached
    * because Spark disallows filtering a raw JSON scan by the internal
    * corrupt-record column alone; the cache also means good/rejected
    * share one parse pass. Caller releases via [[JsonlLoad.cleanup]]. */
  private[operators] final case class JsonlLoad(
      good: org.apache.spark.sql.DataFrame,
      rejected: org.apache.spark.sql.DataFrame,
      private val parsed: org.apache.spark.sql.DataFrame) {
    def cleanup(): Unit = { parsed.unpersist(); () }
  }

  private[operators] def loadJsonl(
      s: org.apache.spark.sql.SparkSession, path: String): JsonlLoad = {
    val parsed = s.read.schema(jsonSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", Schemas.Rejected)
      .json(path)
      .cache()
    JsonlLoad(
      parsed.filter(col(Schemas.Rejected).isNull).drop(Schemas.Rejected),
      parsed.filter(col(Schemas.Rejected).isNotNull)
        .select(col(Schemas.Rejected).as("raw_line")),
      parsed)
  }

  /** JSONL bulk load with rejected-row sink, proven by lossless
    * round-trip through the gate (the r01/r02 contract for the third
    * interchange format a 100 TB ingest actually meets: most web-scale
    * corpus drops — Common Crawl derivatives, API exports — arrive as
    * JSON lines, not CSV). Scale shape is identical to r01: a
    * line-splittable text format, so a 100 TB directory parallelizes by
    * file split with no coordination; the PERMISSIVE parse isolates bad
    * lines per-row instead of failing the job. */
  val r03 = QueryDef(
    "r03_jsonl_roundtrip",
    (s, d) => {
      val out = roundtripDir("jsonl", d)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.mode("overwrite").json(out)
      val loaded = loadJsonl(s, out)
      graft.Lifecycle.defer(loaded.cleanup())
      loaded.good
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"))

  /** Hive-style partitioned sink + pruned read, proven through the gate:
    * documents written `partitionBy(lang)`, read back with a partition
    * filter. At 100 TB partition layout is THE scan lever — the lang
    * filter prunes at the DIRECTORY level before any file is listed into
    * tasks (PartitionedWriteSpec pins `PartitionFilters` in this exact
    * query's plan; the oracle checks value-level equivalence). The
    * partition column round-trips as a string directory value, cast back
    * to match the source schema. */
  val r04 = QueryDef(
    "r04_partitioned_roundtrip",
    (s, d) => {
      val out = roundtripDir("part", d)
      Tables.documents(s, d)
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("text"), col("lang").cast("string").as("lang"),
          col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, text, lang, source, n_chars FROM documents
           |WHERE lang = 'en' ORDER BY doc_id""".stripMargin))

  /** ORC sink + source round-trip — the fourth interchange format, and
    * the one that matters when the downstream is a Hive-era warehouse:
    * documents written as ORC, read back schema'd, value-identical to
    * the parquet source. Spark's native ORC datasource gives the same
    * columnar virtues as parquet (stripe-level column projection,
    * predicate pushdown via stripe statistics, splittable files), so at
    * 100 TB the scan behavior is interchangeable — the round-trip
    * proves the engine is not parquet-locked. */
  val r05 = QueryDef(
    "r05_orc_roundtrip",
    (s, d) => {
      val out = roundtripDir("orc", d)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"))

  /** Small-file compaction — the warehouse-maintenance primitive a 100 TB
    * ingest cannot live without: long-running ingests (streaming sinks,
    * per-batch appends) fragment a table into thousands of KB-scale
    * files, and every later scan pays per-file open/footer cost plus a
    * task per file. The operator: list the fragmented table, size it,
    * rewrite at ceil(bytes / targetBytesPerFile) files via `coalesce` —
    * a NARROW merge of input splits, no shuffle, no sort, no data
    * movement beyond concatenation — then serve reads from the compacted
    * copy. Content identity is the gate check (oracle reads the original
    * table); the file-count/size contract is pinned in CompactionSpec.
    * At cluster scale the same plan runs per-partition (compact each
    * hive partition independently) so compaction parallelizes and never
    * holds a table-wide lock. */
  /** Published serving dirs for the maintenance rewrites (r06/r07/r11)
    * — corpus-fingerprinted and rename-atomic via [[IndexStore.ensure]],
    * the same contract as the persisted indexes: a crashed rewrite
    * leaves only a `.build-*` sibling and the previous complete copy
    * keeps serving; a regenerated corpus flips the fingerprint and
    * forces a rebuild. Before r14 these rewrites `overwrite`d the
    * serving path in place — safe within one JVM, but a crash mid-write
    * at deployment would have left a torn table (the r13 VERDICT nit). */
  /** Layout-version salt for the rewrite dirs: the corpus fingerprint
    * catches DATA staleness but not CODE staleness — a changed
    * targetBytesPerFile / range partitioning / z-interleave served from
    * a warm /tmp would silently keep the OLD layout (and fail the specs
    * that recompute expectations from the new constants). Bump when a
    * rewrite's output layout changes. */
  private val RewriteLayoutV = "l1"
  private[operators] def compactDir(d: String): String =
    IndexStore.stateDir(s"compact_$RewriteLayoutV", d, "lineitem")
  private[operators] def clusterDir(d: String): String =
    IndexStore.stateDir(s"cluster_$RewriteLayoutV", d, "events")
  private[operators] def zorderDir(d: String): String =
    IndexStore.stateDir(s"zorder_$RewriteLayoutV", d, "events")

  val r06 = QueryDef(
    "r06_compaction",
    (s, d) => {
      // writes go through the stats-preserving child session (INT64
      // micros timestamps, see statsWriter) so compacted files keep
      // skippable l_shipdate statistics and the caller session's write
      // encoding is untouched
      val w = statsWriter(s)
      val frag = roundtripDir("frag", d)
      // model the fragmented state: a 64-way ingest of lineitem (at
      // sf0.1 that is ~64 sub-MB files, the classic streaming-sink
      // spray). Once-per-JVM, per-key serialized: a concurrent second
      // caller (sbt's parallel suites, two catalog runners in one JVM)
      // blocks until the first caller's write completes instead of
      // racing past a pre-write marker into a torn directory; unrelated
      // keys never block behind this multi-second job (see fragWritten's
      // latch doc). The fixture is the operator's modeled INPUT, so it
      // is written regardless of whether the compacted copy is already
      // published (CompactionSpec pins its 64-file shape).
      onceSerialized(frag) {
        Tables.lineitem(w, d).repartition(64)
          .write.mode("overwrite").parquet(frag)
      }
      // size via the Hadoop FileSystem API, not java.io.File: the 100 TB
      // deployment this operator targets compacts object-store tables
      // (s3a://, hdfs://) where local listing is meaningless — same
      // dispatch the ingest path (tabjolt.Fetch) already uses. Driver-
      // side listing itself is right for a maintenance op: one RPC per
      // table, no data moves.
      val fragPath = new org.apache.hadoop.fs.Path(frag)
      val fs = fragPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(fragPath)  // throws FileNotFound if absent — never silently compacts nothing
        .filter(st => st.getPath.getName.startsWith("part-") &&
          st.getPath.getName.endsWith(".parquet"))
      val totalBytes = files.map(_.getLen).sum
      val targetBytesPerFile = 32L * 1024 * 1024
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytesPerFile).toInt)
      // the rewrite itself publishes atomically: build into a private
      // tmp sibling, rename into place, marker written last — a reader
      // (this query's own serve below, or a concurrent JVM) sees either
      // the previous complete copy or the new one, never a torn write
      val dir = IndexStore.ensure(compactDir(d), "data/_SUCCESS") { tmp =>
        w.read.parquet(frag).coalesce(nOut)
          .write.mode("overwrite").parquet(s"$tmp/data")
      }
      s.read.parquet(s"$dir/data")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.exactSum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Clustered (sorted) write — the data-layout lever that governs scan
    * cost at 100 TB: row groups written from ts-range-clustered,
    * within-file-sorted data carry tight min/max statistics, so a
    * time-range predicate skips whole row groups at the parquet reader
    * instead of decoding and discarding. The operator rewrites events
    * `repartitionByRange(ts).sortWithinPartitions(ts)` (range exchange +
    * local sort — no global sort barrier; each output file covers a
    * disjoint time slice) and serves a day-window scan from the
    * clustered copy. Content equality is the gate check; the skipping
    * effect itself (clustered scan emits ~the selected day from the
    * reader, unclustered emits every row) is pinned on scan metrics in
    * CompactionSpec. */
  val r07 = QueryDef(
    "r07_clustered_write",
    (s, d) => {
      // INT64-micros write via the child session: without the stats-
      // preserving encoding the clustered layout has no ts statistics
      // and the rewrite buys nothing. Atomic publication via IndexStore
      // (see compactDir): the day-window serve below can never read a
      // half-written clustered copy.
      val w = statsWriter(s)
      val dir = IndexStore.ensure(clusterDir(d), "data/_SUCCESS") { tmp =>
        Tables.events(w, d)
          .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
          .write.mode("overwrite").parquet(s"$tmp/data")
      }
      s.read.parquet(s"$dir/data")
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.exactSum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n,
           |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM events
           |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
           |  AND ts <  TIMESTAMP '2024-01-16 00:00:00'
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Bucketed co-located join — the shuffle-elimination lever for the
    * joins a warehouse runs EVERY day on the SAME key: orders ⋈
    * lineitem on orderkey. Both sides are written ONCE as Hive-style
    * bucketed tables (`bucketBy(8, orderkey)`, hash-partitioned at
    * write time into bucket files, registered as external tables), so
    * every subsequent join on the bucket key reads both sides already
    * co-partitioned: the sort-merge join's distribution requirement is
    * satisfied BY THE SCAN and the plan contains NO exchange under the
    * join (pinned programmatically in BucketedJoinSpec). At 100 TB this
    * converts the daily fact-to-fact join from "shuffle 100 TB twice"
    * into a zero-movement merge per bucket pair — the write-time
    * shuffle is paid once, amortized over every downstream join.
    * `hint("merge")` keeps the plan on the sort-merge path so the
    * contract is exercised at gate scale too (a broadcast of the small
    * side would be Catalyst's right call at sf0.01 but tests nothing).
    * The only exchanges left are the O(|priorities|) aggregate and the
    * final ORDER BY. Oracle: the same join+aggregate over the original
    * tables — bucketing must be invisible in values. */
  val r08 = QueryDef(
    "r08_bucketed_join",
    (s, d) => {
      val tag = Integer.toHexString(d.hashCode)
      val oTbl = s"graft_bkt_orders_$tag"
      val lTbl = s"graft_bkt_lineitem_$tag"
      // once per JVM like r06's fixture: the bucketed write is the
      // amortized setup cost, the join is the operator under test.
      // saveAsTable must run in THIS JVM even when the path survives a
      // previous one (the in-memory catalog is per-context), which
      // onceSerialized's per-JVM latch map gives exactly.
      onceSerialized(roundtripDir("bkt", d)) {
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", roundtripDir("bkt_orders", d))
          .saveAsTable(oTbl)
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", roundtripDir("bkt_lineitem", d))
          .saveAsTable(lTbl)
      }
      s.table(oTbl).hint("merge")
        .join(s.table(lTbl), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          graft.functions.Exact.exactSum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
           |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** XML sink + source round-trip — the fifth interchange format, via
    * Spark 4's NATIVE xml datasource (no external package): documents
    * written `rowTag=doc`, read back against the DECLARED source schema
    * — an explicit schema skips the inference sampling pass AND pins
    * the types against inference drift (a corpus slice whose text
    * column happens to be all-numeric must not come back as longs).
    * Value-exact round-trip is the gate check (oracle reads the
    * original table, like r05). Scale honesty: XML files are not
    * split-parallel the way parquet row groups are — a reader
    * parallelizes by FILE, so the write side's task fan-out (one file
    * per input partition here) is what sizes read parallelism; XML is
    * the legacy-feed ingest/egress format, not the analytics layout,
    * and the operator exists so those feeds enter the engine without a
    * side ETL. Fidelity limits, declared: the read sets
    * `ignoreSurroundingSpaces=false` (Spark 4's default of true would
    * silently trim leading/trailing whitespace in element text, which
    * only round-trips on a corpus verified whitespace-clean), but XML
    * 1.0 itself cannot encode most control characters (anything below
    * 0x20 except tab/LF/CR) — documents containing them do not survive
    * any conforming XML serializer, so binary-ish text belongs in the
    * parquet/ORC formats (r04/r05), not this one. */
  val r10 = QueryDef(
    "r10_xml_roundtrip",
    (s, d) => {
      val out = roundtripDir("xml", d)
      val src = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      src.write.mode("overwrite").option("rootTag", "docs")
        .option("rowTag", "doc").format("xml").save(out)
      s.read.schema(src.schema).option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .format("xml").load(out)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"))

  /** Morton/Z-order interleave of two 8-bit bucket coordinates: bit 2i
    * carries x's bit i, bit 2i+1 carries y's bit i. Plain codegen'd
    * integer arithmetic (16 shift-and-mask terms summed over disjoint
    * bits), evaluated once per row at write time. */
  private def zInterleave(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-order (multi-dimension) clustered rewrite — the layout lever r07
    * cannot provide: a linear ts-sort gives tight ts statistics but
    * leaves every file's user_id min/max spanning the whole table, so
    * only ONE dimension ever row-group-skips. The Z-order rewrite
    * quantizes BOTH dimensions into 256 RANGE buckets (monotone in the
    * raw values — a modulo bucket would decorrelate the bucket from the
    * column statistics and skip nothing), interleaves the bucket bits
    * into a Morton value, and range-partitions + sorts the write on it:
    * every output row group then covers a small rectangle of
    * (user_id, ts) space, so predicates on EITHER dimension (or both)
    * prune at the parquet statistics level — pinned against linear and
    * scrambled baselines in ZOrderSpec. The quantizer bounds come from
    * one tiny min/max aggregate at write time (a planning action —
    * driver-side like r06's listing; maintenance ops run once per
    * table, not per query).
    *
    * Scale: ONE range exchange + local sort, exactly r07's write cost;
    * the bucket arithmetic is per-row codegen. At 100 TB this is the
    * difference between a table that serves time-range queries OR
    * user-range queries and one layout that serves both — the standard
    * multi-tenant fact-table trade. */
  val r11 = QueryDef(
    "r11_zorder_write",
    (s, d) => {
      val w = statsWriter(s)
      // atomic publication via IndexStore (see compactDir); the bounds
      // aggregate and the rewrite both live inside the build lambda — a
      // warm published copy pays neither
      val dir = IndexStore.ensure(zorderDir(d), "data/_SUCCESS") { tmp =>
        val ev = Tables.events(w, d)
        val b = ev.agg(min(col("user_id")), max(col("user_id")),
          min(col("ts").cast("long")), max(col("ts").cast("long"))).head()
        // empty table -> all-null aggregate row: degrade to trivial bounds
        // and write/read the empty copy like every other roundtrip op
        def lng(i: Int): Long = if (b.isNullAt(i)) 0L else b.getLong(i)
        val (u0, u1) = (lng(0), lng(1))
        val (t0, t1) = (lng(2), lng(3))
        val uStep = (u1 - u0) / 256 + 1
        val tStep = (t1 - t0) / 256 + 1
        // floor-div: Column./ on longs is double division
        val zv = zInterleave(
          floor((col("user_id") - u0) / uStep).cast("int"),
          floor((col("ts").cast("long") - t0) / tStep).cast("int"))
        // 32 output partitions: each z-range prefix pins ~log2(32)=5
        // interleaved bucket bits, so every file's (user, ts) rectangle is
        // tight enough to prune on either dimension. Granularity comes
        // from the ROW-GROUP count at real scale (a 100 TB table has
        // thousands of 128MB row groups per partition — the prefix depth
        // grows with them); the bench-SF copy models that with file count.
        ev.withColumn("zv", zv)
          .repartitionByRange(32, col("zv")).sortWithinPartitions("zv")
          .drop("zv")
          .write.mode("overwrite").parquet(s"$tmp/data")
      }
      s.read.parquet(s"$dir/data")
        .filter(col("user_id") < 5 &&
          col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.exactSum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n,
           |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM events
           |WHERE user_id < 5
           |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
           |  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Shard count for [[r09]] — small at bench SF; a production export
    * sizes this to target-bytes-per-shard exactly like r06's compaction
    * arithmetic. */
  private val NumShards = 16

  /** Training-shard export + manifest — the LAST sink of a data
    * pipeline: every document is assigned a shard by a DETERMINISTIC
    * md5-derived hash of its id (the t17/sk* hash idiom — stable across
    * runs, engines, and cluster sizes, unlike a partitioner-dependent
    * or RNG assignment), the corpus is written partitioned by shard,
    * and the served result is the manifest a trainer consumes: per
    * shard, the doc count, total token budget, and id range. The gate
    * proves the WRITTEN layout (manifest is computed by reading the
    * export back) matches the declared assignment (oracle computes it
    * from the source table alone).
    *
    * Scale: the assignment is a per-row hash (no shuffle); the
    * partitioned write fans out by shard directory; the manifest is one
    * |shards|-group aggregate. Token counts ride the write so the
    * manifest read never re-tokenizes — at 100 TB the re-read costs the
    * manifest columns only (column pruning on the parquet export). */
  val r09 = QueryDef(
    "r09_shard_manifest",
    (s, d) => {
      val out = roundtripDir("shards", d)
      Tables.documents(s, d)
        .withColumn("shard",
          (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
            .cast("long") % NumShards).cast("integer"))
        .withColumn("n_tokens", size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      s.read.parquet(out)
        .groupBy(col("shard").cast("integer").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens_total"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    },
    Some(s"""WITH assigned AS (
           |  SELECT doc_id,
           |         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % $NumShards AS INTEGER) AS shard,
           |         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS n_tokens
           |  FROM documents)
           |SELECT shard, COUNT(*) AS n_docs,
           |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
           |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
           |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin))

  val st01 = QueryDef(
    "st01_stream_hourly_agg",
    (s, d) => graft.streaming.EventsStream.hourlyAgg(s, d),
    Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, event_type,
           |       COUNT(*) AS n,
           |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin))

  /** Streaming exact dedup: the t05 fingerprint aggregate computed by a
    * Structured Streaming query over a file stream of documents, drained
    * with AvailableNow into a memory sink. Complete mode: the dedup state
    * (one row per distinct fingerprint) is the product, not an artifact —
    * in production the same plan feeds a key-value sink and the state
    * store is RocksDB-backed. Equals the batch t05 exactly, so it shares
    * its oracle. */
  val st02 = QueryDef(
    "st02_stream_dedup",
    (s, d) => {
      import graft.functions.TextFunctions.fingerprint
      import org.apache.spark.sql.streaming.OutputMode
      // per-partition state-store commit overhead dominates a bounded
      // drain: the shared drain session scopes the stream to 4 stores
      // (see graft.streaming.Drain) without touching this session's conf
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_dedup", OutputMode.Complete) { s2 =>
        s2.readStream
          .schema(DocStreamSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(d)
          // (a pre-agg repartition fan-out measured FLAT here, unlike
          // st05: the fingerprint kernel is ~100x lighter than token
          // explosion, so the single scan task is not the bottleneck)
          .groupBy(fingerprint(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      }
      t.orderBy(col("fp"))
    },
    Some("""SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
           |       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
           |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin))

  /** Streaming sessionization under the hash gate: the
    * flatMapGroupsWithState sessionizer (custom per-key state — the
    * operator family Spark offers beyond SQL) drained with AvailableNow
    * equals the batch window-function sessionizer exactly, so it shares
    * e01's oracle: same boundaries (both gap on epoch-millis), same
    * MIN/MAX bounds, and a cents-exact sum that matches the decimal
    * aggregate bit-for-bit. sid is assigned after the drain — sessions
    * per user are disjoint in time, so numbering by start order
    * reproduces e01's cumulative-flag numbering. */
  val st03 = QueryDef(
    "st03_stream_sessionize",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.EventsStream
      val (q, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_sessions", OutputMode.Append) { s2 =>
        val ev = EventsStream.source(s2, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventsStream.Event]
        EventsStream.sessionize(ev).toDF()
      }
      // The bounded sessionizer flushes open sessions per micro-batch, so
      // it equals the batch oracle ONLY when every user's events land in
      // one batch. That holds because the source globs a single parquet
      // file with no maxFilesPerTrigger — assert it so a future multi-file
      // source can't silently fragment sessions into a corrupted gate.
      val fedBatches = q.recentProgress.count(_.numInputRows > 0)
      require(fedBatches <= 1,
        s"st03 drained $fedBatches micro-batches with input; the bounded " +
          "sessionizer is batch-equal only when all events arrive in one " +
          "(use EventsStream.sessionizeUnbounded for multi-batch input)")
      val w = Window.partitionBy(col("user_id")).orderBy(col("start"))
      t.withColumn("sid", row_number().over(w).cast("long"))
        .select(col("user_id"), col("sid"), col("start").as("start_ts"),
          col("end").as("end_ts"), col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("sid"))
    },
    Advanced.e01.oracle)

  /** Watermarked stream-stream inner join — clicks attributed to a view
    * by the same user within 10 minutes, both sides unbounded streams.
    * This is the streaming capability the other st entries don't cover:
    * two stateful sides buffering rows until the watermark proves no
    * more matches can arrive. Unlike st03's bounded sessionizer, this
    * plan is multi-batch-correct BY CONSTRUCTION (join state persists
    * across micro-batches and is evicted by watermark + the time-range
    * bound — StreamingSpec pins the two-batch case), so it needs no
    * single-batch precondition. Equals the batch/DuckDB interval join
    * exactly on a drained static input.
    *
    * Scale: state is bounded by (watermark delay + join window) x
    * arrival rate per side; both sides hash-partition on user_id, so
    * the join never rescans history. */
  val st04 = QueryDef(
    "st04_stream_stream_join",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.EventsStream
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_join", OutputMode.Append) { s2 =>
        // ONE streaming source feeding both join sides: two source()
        // calls would register two FileStreamSources that each list,
        // track offsets for, and decode the same parquet — a self-join
        // only needs the scan once (the join's two branches share the
        // batch plan; measured ~25% off st04's addBatch+planning)
        val ev = EventsStream.source(s2, d)
        EventsStream.viewClickJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"))
      }
      t.select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
          col("view_ts"), col("click_ts"))
        .orderBy(col("view_id"), col("click_id"))
    },
    Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           |       v.ts AS view_ts, c.ts AS click_ts
           |FROM events v JOIN events c
           |  ON c.user_id = v.user_id AND v.event_type = 'view'
           | AND c.event_type = 'click' AND c.ts > v.ts
           | AND c.ts <= v.ts + INTERVAL 10 MINUTE
           |ORDER BY view_id, click_id""".stripMargin))

  /** Streaming Count-Min sketch maintenance: the d × w counter array
    * (see [[Sketches.cmsCounters]]) kept by a streaming aggregation over
    * the document token stream and drained with AvailableNow. This is
    * the sketch family's mergeability REALIZED as streaming state — the
    * counter update is the merge law (sum per (rw, bucket)), so the
    * drained state equals the batch sketch exactly and shares its
    * algebra with per-day/per-slice merges. Complete mode because the
    * O(d × w) counter array IS the product (bounded: ≤ 4096 rows however
    * large the stream — the state store never grows with the corpus); in
    * production the same plan runs in Update mode feeding a key-value
    * sink whose writer sums deltas. */
  val st05 = QueryDef(
    "st05_stream_cms",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      graft.functions.TextExpressions.register(s)
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_cms", OutputMode.Complete) { s2 =>
        graft.functions.TextExpressions.register(s2)
        s2.readStream
          .schema(DocStreamSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(d)
          // the file source hands each batch's file to ONE task; fan the
          // corpus out BEFORE the token kernel or the whole CMS update
          // serializes on a single core (addBatch 1.9s -> 0.94s at
          // sf0.1). Width is byte-derived like every kernel fan-out
          // (r22, Fanout doc) — a streaming relation has no planner
          // stats, so the source file's on-disk bytes price it, times 16
          // because this kernel is ~16x denser per input byte than the
          // text kernels the divisor was tuned on (CmsDepth=4 md5
          // digests per token + a 4-way posexplode). Width A/B at sf0.1
          // (kernel stage wall / taskTimeSum): w32 559 ms / 16.6 s,
          // w12 726 ms / 7.7 s, w3 814 ms / 2.3 s — this kernel wants
          // every core even on 600 KB, so the x16 pricing keeps the full
          // width here while staying byte-derived (and therefore narrow)
          // at the tiny gate SFs. The shuffle moves raw doc rows once —
          // negligible against the kernel it parallelizes.
          .repartition(Fanout.widthForBytes(s2,
            16L * IndexStore.dirBytes(s"$d/documents.parquet")))
          .select(explode(call_function("graft_tokens", col("text"))).as("tok"))
          .select(posexplode(array((0 until Sketches.CmsDepth).map(i =>
            Sketches.cmsBucket(i, col("tok"))): _*)).as(Seq("rw", "bucket")))
          .groupBy(col("rw"), col("bucket"))
          .agg(count(lit(1)).as("c"))
      }
      t.orderBy(col("rw"), col("bucket"))
    },
    Some(graft.operators.TextDedup.TokCte + s""",
      |occ AS (SELECT unnest(toks) AS tok FROM tok),
      |rws AS (SELECT unnest(range(${Sketches.CmsDepth})) AS i)
      |SELECT r.i AS rw, ${Sketches.cmsBucketSql("r.i", "o.tok")} AS bucket,
      |       COUNT(*) AS c
      |FROM occ o CROSS JOIN rws r
      |GROUP BY 1, 2 ORDER BY rw, bucket""".stripMargin))

  /** Watermarked streaming dedup — `dropDuplicatesWithinWatermark` in
    * Append mode over a DELIBERATELY duplicated stream (the events scan
    * unioned with itself: the at-least-once delivery a real ingest
    * fights). Each event_id is emitted exactly once; unlike st02's
    * Complete-mode state dump, this is the production shape: per-key
    * state is EVICTED once the watermark passes (event time + delay),
    * so state is bounded by arrival-rate × delay, not by corpus keys.
    * DUPLICATES are handled under any batching (suppressed by live
    * state, or dropped as late below the watermark); a FIRST occurrence
    * below the watermark, however, is dropped with zero emissions, so
    * batch-parity with the oracle needs every event inside the
    * watermark when it arrives — guaranteed here by the single-file
    * drain (one micro-batch), and asserted below so a multi-file
    * source can't silently turn eviction into data loss. In production
    * the watermark delay is sized to the source's real disorder bound,
    * which is the same contract.
    *
    * Scale: state hash-partitions on event_id; the memory sink is the
    * gate's stand-in for a transactional sink. */
  val st06 = QueryDef(
    "st06_stream_watermark_dedup",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.EventsStream
      val (q, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_wm_dedup", OutputMode.Append) { s2 =>
        // one source referenced twice: union still duplicates every row
        // (each branch re-reads the micro-batch), but the directory is
        // listed/offset-tracked once instead of registering two
        // FileStreamSources over the same file
        val side = EventsStream.source(s2, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        side.union(side)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
      }
      // batch-parity precondition (see docstring): all events must land
      // in one micro-batch, or first occurrences below the advanced
      // watermark would be dropped as late — missing rows, not dedup
      val fedBatches = q.recentProgress.count(_.numInputRows > 0)
      require(fedBatches <= 1,
        s"st06 drained $fedBatches micro-batches with input; the batch-" +
          "parity oracle holds only when all events arrive inside the " +
          "watermark (single-batch drain)")
      t.orderBy(col("event_id"))
    },
    Some("""SELECT event_id, ts, user_id, event_type, value
           |FROM events ORDER BY event_id""".stripMargin))

  /** Stream-static enrichment join — the third join regime next to
    * st04's stateful stream-stream: a streaming fact (purchases)
    * enriched against a STATIC dimension (customer) and aggregated by
    * segment. The static side needs NO watermark and NO join state —
    * Spark re-plans it per micro-batch (broadcast at this size), so
    * the only stateful operator is the aggregate. This is the
    * workhorse shape of production streaming ETL: facts stream,
    * dimensions are tables.
    *
    * Scale: the dimension rebroadcasts per micro-batch (pin it with a
    * storage-level cache, or hash-join when it outgrows broadcast);
    * state is O(segments), not O(stream). Complete mode because the
    * running per-segment totals ARE the product. */
  val st07 = QueryDef(
    "st07_stream_static_join",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      import org.apache.spark.sql.types.DecimalType
      import graft.streaming.EventsStream
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_static", OutputMode.Complete) { s2 =>
        val cust = Tables.customer(s2, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        EventsStream.source(s2, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("value"))
          .join(cust, col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      }
      t.orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n,
           |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM events JOIN customer ON user_id = c_custkey
           |WHERE event_type = 'purchase'
           |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin))

  /** Streaming ingest × the maintenance ring — the two halves of the
    * pipeline finally composed: today's crawl slice arrives as a STREAM
    * and is admission-filtered against the promoted pair-ring's keep
    * verdict ([[TextDedup.PromotedPairIndex.maintained]] →
    * [[TextDedup.probeKeep]]) before it ever lands — duplicates of
    * yesterday's corpus are dropped in flight, not discovered by the
    * next nightly. The static side is the ring's PUBLISHED state (the
    * fold-policy reader view) as resolved when the stream is DEFINED:
    * the segment dirs, the fold-vs-union branch, and the parquet file
    * listing are all fixed before the first batch, so a night promoted
    * mid-stream is NOT picked up live (r16 review — the first draft of
    * this doc claimed st07-style per-batch re-planning, which holds
    * for the JOIN execution but not for the dir/listing resolution).
    * The deployment shape: restart the stream after each nightly
    * promotion — checkpoint recovery makes that a cheap offset replay
    * (measured in StreamingSpec's restart test), and the nightly cron
    * that publishes the state is the natural restart point.
    *
    * Scale: the stream side is stateless (filter + join — no
    * watermark, no store); the keep-mask side is ∝ the daily slice
    * (batch ids × their pair neighborhood, never corpus-sized) and at
    * deployment scale would be snapshotted to a table per night rather
    * than derived per batch — the derivation here IS that snapshot
    * body. Oracle: the c06/t25 keep calculus restricted to keepers,
    * joined back to the document metadata. */
  val st08 = QueryDef(
    "st08_stream_ring_filter",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_ring_filter", OutputMode.Append) { s2 =>
        val keep = TextDedup.probeKeep(s2, d,
            TextDedup.PromotedPairIndex.maintained(s2, d))
          .filter(col("keep")).select(col("doc_id"))
        s2.readStream
          .schema(DocStreamSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(d)
          .filter(col("doc_id") % 10 === 7)
          .join(keep, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("n_chars"))
      }
      t.orderBy(col("doc_id"))
    },
    Some(s"""WITH jp AS (${TextDedup.JaccardPairsSql}),
       |batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
       |${TextDedup.KeepDomCtes}
       |SELECT d.doc_id, d.lang, d.n_chars
       |FROM documents d
       |JOIN batch b ON d.doc_id = b.doc_id
       |LEFT JOIN dom ON d.doc_id = dom.doc_id
       |WHERE dom.doc_id IS NULL
       |ORDER BY d.doc_id""".stripMargin))

  /** The skew-hardened stream-stream join
    * ([[graft.streaming.EventsStream.viewClickJoinSubkeyed]]): st04's
    * attribution semantics with the join state sub-keyed by
    * (user, 10-minute time bucket). Same drain shape, same output
    * contract, SAME oracle as st04 — the gate pair differs only in the
    * state layout, so together they pin that the sub-keying is a pure
    * physical rewrite (any semantic drift breaks one hash and not the
    * other).
    *
    * Why it exists: the r17 stskew adversary (one user holding 25% of
    * 400k events) inflated st04's drain 16× — the hot key's
    * view×click candidate product is quadratic and lands on ONE
    * state-store task. Sub-keying bounds each probe to its two
    * buckets' rows and spreads the hot key across partitions
    * (measured in the `stskew` scale run, PLANS.md). st04 remains the default:
    * on un-skewed traffic the sub-keyed plan stores the view side
    * twice and pays an explode for no benefit. */
  val st09 = QueryDef(
    "st09_stream_join_subkeyed",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.EventsStream
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_join_subkeyed", OutputMode.Append) { s2 =>
        val ev = EventsStream.source(s2, d)
        EventsStream.viewClickJoinSubkeyed(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"))
      }
      t.select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
          col("view_ts"), col("click_ts"))
        .orderBy(col("view_id"), col("click_id"))
    },
    st04.oracle)

  /** Streaming ingest × the MEDIA ring — st08's admission-filter SHAPE
    * with the media family's published state as the verdict source (the
    * ring landed in r18; this is its streaming consumer, completing the
    * symmetry: text ring → st08, media ring → st10): tonight's arriving
    * media slice (doc_id % 10 = 6 — [[Multimodal.MediaIndex]]'s OWN
    * delta-slice convention, so the stream admits exactly the docs the
    * ring treats as tonight's growth) streams in and only the media
    * family's KEEPERS land ([[Multimodal.MediaIndex.keeperVerdict]]).
    *
    * The admission RULE deliberately differs from st08's (r18 review —
    * the first docstring here claimed st08 semantics): the text side's
    * dedupKeepMask lets a RESIDENT partner dominate unconditionally,
    * while the media family's verdict is global min-id per pHash group
    * (mm04's rule, the one mm06/c09 retract by). An arriving doc whose
    * id sorts below a same-hash resident is therefore ADMITTED — it is
    * the group's keeper, and the resident it displaces becomes the dup
    * that mm06's retraction arm removes. Admitting by any other rule
    * would make the stream disagree with the family's own served
    * verdict. The static side is the published (id, phash) artifact
    * resolved at stream DEFINITION, st08's contract (a promotion
    * mid-stream is picked up by restarting the stream — the same
    * checkpoint-replay deployment shape, measured in StreamingSpec's
    * restart test).
    *
    * Scale: the stream side is stateless (filter + join); the verdict
    * side is a warm parquet read + one window over metadata-sized
    * (id, phash) state — at deployment scale the nightly artifact the
    * ring already publishes. Oracle: the shared PhashKeeperCte joined
    * back to the document metadata. */
  val st10 = QueryDef(
    "st10_stream_media_filter",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_media_filter", OutputMode.Append) { s2 =>
        val keepers = Multimodal.MediaIndex.keeperVerdict(s2, d)
        s2.readStream
          .schema(DocStreamSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(d)
          .filter(col("doc_id") % 10 === Multimodal.MediaIndex.NewSliceRem)
          .join(keepers, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("n_chars"))
      }
      t.orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Multimodal.PhashCtes},
       |${Multimodal.PhashKeeperCte}
       |SELECT d.doc_id, d.lang, d.n_chars
       |FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
       |WHERE d.doc_id % 10 = ${Multimodal.MediaIndex.NewSliceRem}
       |ORDER BY d.doc_id""".stripMargin))

  /** Streaming media admission at HAMMING tolerance — st10's exact
    * rule upgraded to mm08's: tonight's arriving media slice lands
    * only when the doc is its hash group's radius-
    * [[Multimodal.MediaIndex.HammingTolerance]] keeper under the
    * served state's near-dup verdict
    * ([[Multimodal.MediaIndex.nearDupKeepers]] over the published
    * (id, phash) artifact). A re-encoded near-twin of resident content
    * — the case st10's exact rule waves through — drops in flight.
    * This completes the admission symmetry at both radii: mm04 → st10
    * (hamming-0), mm08 → st11 (hamming-d).
    *
    * The arriving docs' hashes are computed IN-STREAM with the same
    * [[Multimodal.phashFrameOver]] body every batch consumer runs
    * (stateless projection + typed mapPartitions — a batch/stream
    * kernel drift is impossible by construction), then joined on
    * phash against the verdict. Every arriving doc's hash IS in the
    * verdict (the ring's delta segment is tonight's slice), so the
    * inner join is total on the slice; admission = keep_id == id,
    * exactly mm08's per-doc !is_dup. Static side resolved at stream
    * DEFINITION (st08's restart contract).
    *
    * Scale: stream side stateless (kernel + broadcast join against
    * the keyspace-bounded keeper map — ≤ 2^16 rows by construction);
    * the verdict is the nightly artifact + the banded matching mm08
    * already prices. Oracle: the all-pairs near chain
    * ([[Multimodal.phashNearCtes]]) restricted to the slice. */
  val st11 = QueryDef(
    "st11_stream_media_near_filter",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_media_near_filter", OutputMode.Append) { s2 =>
        val keepers = Multimodal.MediaIndex.nearDupKeepers(
          Multimodal.MediaIndex.ring.maintained(s2, d))
        val arriving = s2.readStream
          .schema(DocStreamSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(d)
          .filter(col("doc_id") % 10 === Multimodal.MediaIndex.NewSliceRem)
        Multimodal.phashFrameOver(s2, arriving)
          .join(broadcast(keepers), Seq("phash"))
          .filter(col("keep_id") === col("id"))
          .select(col("id").as("doc_id"), col("phash"))
      }
      t.orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Multimodal.PhashCtes},
       |${Multimodal.phashNearCtes("ph", "")}
       |SELECT p.id AS doc_id, p.phash
       |FROM ph p JOIN nb ON p.phash = nb.phash
       |WHERE p.id % 10 = ${Multimodal.MediaIndex.NewSliceRem}
       |  AND nb.keep_id = p.id
       |ORDER BY doc_id""".stripMargin))

  /** Streaming ingest × the VECTOR ring — the st08/st10 admission shape
    * on the vector side, closing the last ring-streaming asymmetry (r19
    * VERDICT slate #4: text ring → st08, media ring → st10/st11, vector
    * ring → nothing): tonight's arriving embedding slice (vec_id %
    * [[Similarity.IvfIncIndex.NewSliceMod]] ==
    * [[Similarity.IvfIncIndex.NewSliceRem]] — the ring's OWN delta
    * convention) streams in, published takedowns drop IN FLIGHT
    * (stream-static anti-join against the instance-salted tombstone
    * store, [[Similarity.IvfIncIndex.publishedTombstones]] — a
    * retracted vector must never reach the index, not get cleaned up
    * nightly), and each surviving vector is ASSIGNED its IVF cell
    * against the frozen gen-1 centroids, in-stream and stateless.
    *
    * The stateless-argmin rewrite, stated precisely: the batch assign
    * ([[Similarity.IvfIncIndex.assign]]) ranks a centroid crossJoin
    * with a per-vec_id window — a stateful shape a streaming plan
    * cannot run. Here the K frozen centroids (a published,
    * metadata-sized artifact resolved at stream DEFINITION — st08's
    * restart contract; a recluster promotion lands by checkpoint
    * restart, witnessed in StreamingSpec) ride the plan as LITERALS,
    * and the argmin is `array_min` over a struct(score, cell) array —
    * min by score, ties to the smallest cell, exactly the window's
    * asc-(score, cell) rule. Each score is the SAME ‖c‖² − 2·x·c over
    * the same `graft_dot` sequential fold the batch path runs (‖c‖²
    * via graft_dot on the centroid literal — the same expression
    * evaluator, constant-folded), so stream and batch assignment are
    * bit-identical by construction: the st11 kernel contract on the
    * vector side. The oracle re-assigns the slice from the PERSISTED
    * centroids from scratch (s08's counterfactual chain), minus the
    * takedown batch.
    *
    * Scale: stream side stateless (filter + anti-join against the
    * metadata-sized tombstone set + a K-term per-row expression);
    * centroids are K rows by construction. */
  /** st12's stream body over corpus dir `d` — the ring artifacts
    * (frozen centroids, instance-`tombSalt` tombstone store) resolve at
    * stream DEFINITION, then the stateless literal-centroid argmin
    * kernel runs per arriving row. Factored out of the gate so the
    * restart witness (StreamingSpec) drains the SAME body through a
    * durable file sink — a spec-side copy would drift the kernel. */
  private[graft] def vectorAssignStream(s2: org.apache.spark.sql.SparkSession,
      d: String, tombSalt: String): org.apache.spark.sql.DataFrame = {
    import graft.operators.Similarity.IvfIncIndex
    graft.functions.VectorExpressions.register(s2)
    val bd = IvfIncIndex.ensureBase(s2, d)
    val cen = s2.read.parquet(s"$bd/centroids")
      .select(col("cell"), col("center")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1) // cell order = the struct-array tiebreak order
    val tombs = IvfIncIndex.publishedTombstones(s2, d, tombSalt)
      .getOrElse(sys.error(s"st12: tombstone store '$tombSalt' must be " +
        "published before the stream is defined"))
    val onDisk = s2.read.parquet(s"$d/embeddings.parquet").schema
    // layout dispatch: the testdata corpora ship embeddings.parquet as a
    // single FILE directly under d (streamed via a glob from the parent,
    // the st08/st10 shape); a written corpus (the restart witness, any
    // real ingest dir) is a DIRECTORY and streams directly. pathGlobFilter
    // matches LEAF file names, so the glob arm sees nothing on a dir.
    val src =
      if (new java.io.File(s"$d/embeddings.parquet").isDirectory)
        s2.readStream.schema(onDisk).parquet(s"$d/embeddings.parquet")
      else s2.readStream.schema(onDisk)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(d)
    val arriving = src
      .filter(col("vec_id") % IvfIncIndex.NewSliceMod ===
        IvfIncIndex.NewSliceRem)
      .join(tombs, Seq("vec_id"), "left_anti")
    val emb = transform(col("embedding"), x => x.cast("double"))
    def gdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val scored = array(cen.map { case (cell, c) =>
      val cl = typedlit(c)
      // coalesce to +inf-like: the batch assign window orders
      // asc_nulls_last so a NULL-scored centroid can never win; the
      // struct ordering under array_min would put NULL FIRST — pin the
      // stream kernel to the batch nulls-last rule (r20 ADVICE)
      struct(coalesce(gdot(cl, cl) - lit(2.0) * gdot(emb, cl),
          lit(Double.MaxValue)).as("score"),
        lit(cell).as("cell"))
    }: _*)
    arriving.select(col("vec_id"),
      array_min(scored).getField("cell").as("cell"))
  }

  val st12 = QueryDef(
    "st12_stream_vector_assign",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      import graft.operators.Similarity.IvfIncIndex
      // the ring artifacts resolve BEFORE the stream: frozen centroids
      // published once (the ring's base), the st12 takedown batch
      // published to the instance-salted tombstone store (idempotent —
      // the batch derivation is deterministic per corpus)
      IvfIncIndex.publishTombstones(s, d, "st12",
        Tables.embeddings(s, d)
          .filter(col("vec_id") % 13 === 9).select(col("vec_id")))
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_vector_assign", OutputMode.Append)(
        vectorAssignStream(_, d, "st12"))
      t.orderBy(col("vec_id"))
    },
    None,
    oracleLate = Some { sfDir =>
      s"""WITH ${Similarity.ivfAssignCtes(sfDir)}
         |SELECT vec_id, cell FROM ranked
         |WHERE arank = 1
         |  AND vec_id % ${Similarity.IvfIncIndex.NewSliceMod} = ${Similarity.IvfIncIndex.NewSliceRem}
         |  AND vec_id % 13 <> 9
         |ORDER BY vec_id""".stripMargin
    })

  /** Streaming re-encode admission at the PRODUCTION hash width — the
    * st11 shape for the wide (64-bit) family, completing the streaming
    * symmetry across widths: tonight's arriving batch is the
    * [[Multimodal.WideMediaIndex.TwinRem]] slice PLUS its in-flight
    * re-encodes (the twin derivation applied to the arriving rows —
    * the production case where tonight's uploads include re-encoded
    * copies of resident content), hashed IN-STREAM with the same
    * 64-cell kernel body every batch consumer runs
    * ([[Multimodal.phashFrameOverCells]] — stateless, so batch/stream
    * drift is impossible by construction), and admitted only when the
    * doc is its group's radius-4 keeper under the wide ring's
    * published verdict. A re-encode within radius 4 of its original
    * drops in flight (the original's id is smaller); a d > 4 re-encode
    * is genuinely new content and lands — the fixture plants both at
    * every SF (mm10's twin-distance bracket).
    *
    * The verdict side is corpus-proportional at this width, so the
    * static join rides the tier gate ([[IndexStore.tieredHint]] on
    * measured rows — broadcast at gate SFs; at deployment scale the
    * nightly artifact would be snapshotted, st08's note). Static side
    * resolves at stream DEFINITION (the restart contract every
    * admission stream shares, witnessed in StreamingSpec). Oracle: the
    * all-pairs two-half radius chain over the twin-augmented corpus,
    * restricted to the arriving ids. */
  val st13 = QueryDef(
    "st13_stream_wide_media_filter",
    (s, d) => {
      import org.apache.spark.sql.streaming.OutputMode
      import Multimodal.WideMediaIndex
      val (_, t) = graft.streaming.Drain.toTable(
        s, "graft_stream_wide_media", OutputMode.Append) { s2 =>
        val estRows = WideMediaIndex.estRowsFor(d)
        val keepers = WideMediaIndex.nearDupKeepers(
          s2, WideMediaIndex.ring.maintained(s2, d), estRows)
        val estK =
          if (estRows < 0) -1L
          else IndexStore.estimateBytes(estRows, estRows * 80L)
        val kSide = IndexStore.tieredHint(s2, keepers, estK)
        val arriving = s2.readStream
          .schema(DocStreamSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(d)
          .filter(col("doc_id") % 10 === WideMediaIndex.TwinRem)
        // the arriving batch ∪ its in-flight re-encodes — the SAME twin
        // derivation the ring corpus is built from, so every arriving
        // hash is in the published verdict (the join is total)
        val both = arriving.select(col("doc_id"), col("text"))
          .unionByName(arriving.filter(length(col("text")) >= 8)
            .select((col("doc_id") + WideMediaIndex.TwinIdOffset).as("doc_id"),
              expr(WideMediaIndex.TwinSql).as("text")))
        Multimodal.phashFrameOverCells(s2, both, Multimodal.Phash64Cells)
          .join(kSide, Seq("phash"))
          .filter(col("keep_id") === col("id"))
          .select(col("id").as("doc_id"), col("phash"))
      }
      t.orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Multimodal.WideMediaIndex.WideDocsCte},
      |${Multimodal.phashCtesOver("wd", Multimodal.Phash64Cells, "64")},
      |${Multimodal.phash64NearCtes("ph64", "64")}
      |SELECT p.id AS doc_id, p.phash
      |FROM ph64 p JOIN nb64 ON p.phash = nb64.phash
      |WHERE p.id % 10 = ${Multimodal.WideMediaIndex.TwinRem}
      |  AND nb64.keep_id = p.id
      |ORDER BY doc_id""".stripMargin))

  val catalog: Seq[QueryDef] =
    Seq(r01, r02, r03, r04, r05, r06, r07, r08, r09, r10, r11,
      st01, st02, st03, st04, st05, st06, st07, st08, st09, st10, st11,
      st12, st13)
}
