package graft

import org.apache.spark.sql.SparkSession

/** Session-creation defaults every graft entry point applies at BUILDER
  * time — the confs the engine's semantics assume, set before the first
  * plan and never mutated afterwards.
  *
  * Why builder-time and not `session.conf.set`: a runtime set on a
  * caller's session is a session-global mutation — it leaks into every
  * other plan that session runs (the r07 INT96 near-miss flipped 12/114
  * oracle dumps exactly this way, PLANS.md). Confs written into the
  * builder land in the context's SparkConf, so every `newSession()`
  * child (Drain's drain sessions, SourcesStreaming's stats writer)
  * inherits them at creation with no post-hoc mutation anywhere.
  *
  *  - `spark.sql.session.timeZone=UTC`: the oracle (DuckDB) reads naive
  *    timestamps; a UTC session zone makes Spark's session-zoned
  *    TimestampType value-identical.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the driver's events
  *    generator has shipped `ts` as a nanosecond parquet timestamp in
  *    some vintages — unreadable by Spark without this flag.
  *    [[Tables.events]] dispatches on the arrived type (raw long nanos
  *    vs TIMESTAMP_NTZ vs timestamp) and normalizes; the flag only
  *    changes how otherwise-unreadable TIMESTAMP(NANOS) columns arrive,
  *    so it is safe to pin globally.
  *  - `spark.sql.warehouse.dir` → a fresh temp dir: catalog-table
  *    writes (r08's bucketed tables) must not drop a `spark-warehouse`
  *    directory into whatever cwd the process launched from. A
  *    deployment embedding the library sets its real warehouse by
  *    adding its own `.config(...)` AFTER `graftDefaults` (later
  *    builder writes win).
  *  - `spark.buffer.pageSize=2m`: every execution-memory consumer (hash
  *    aggregate, sorter, hashed-join build) allocates through
  *    `MemoryConsumer.allocatePage`, which takes `max(pageSize,
  *    required)` bytes. Unset, Spark derives the page size from the
  *    execution pool, `nextPowerOf2(pool / cores / 16)` clamped to
  *    1-64 MB: 32 MB on a 7g ParallelGC `local[4]` driver, so a task
  *    holding a few hundred rows still zeroes a 32 MB `long[]` (a 10-key
  *    groupBy over 1000 rows: its final task peaks at 33.8 MB, 2.36 MB
  *    at 2m). A page still live at a young GC does not fit the survivor
  *    space and is promoted, so the old generation grew with the number
  *    of nights run, not with their data. Bound: a task's page table
  *    holds 8192 pages (`TaskMemoryManager`), so 2 MB caps one task at
  *    16 GB, above any heap the engine runs; 1 MB gave the same RSS but
  *    would cap a task at 8 GB. Measured with perfbench (4 cores,
  *    15 GiB, 7g heap, `--seconds 15`, alternating pairs): `daily_deep`
  *    median `peak_rss_mb` 4774 -> 3152 MB over seeds 11-22, lower in
  *    12 of 12 pairs, `warm_p50_s` 1.26 -> 1.14 s; in its GC log the
  *    old generation ends at 180 MB instead of 2.68 GB and young pauses
  *    take 11-28 ms instead of 17-139 ms; `catalog` median
  *    `peak_rss_mb` 3702 -> 3174 MB, wall times within noise.
  */
object Sessions {
  // ONE scratch warehouse per JVM, created lazily at first builder use:
  // graftDefaults is called by every entry point (often on builders
  // whose getOrCreate returns an existing session and ignores the
  // conf), so a per-call createTempDirectory would leak an empty dir
  // per invocation
  private lazy val scratchWarehouse: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  def graftDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", scratchWarehouse)
      // Codegen class cache sized to a CATALOG-serving workload: the
      // Spark default (100 compiled classes, a STATIC conf — settable
      // only here at builder time) thrashes when a session serves
      // hundreds of distinct recurring plans, recompiling every
      // whole-stage unit on every recurrence. 4096 entries holds the
      // full 128-query catalog's units (~1-2k) so recurring runs reuse
      // compiled classes (A/B in PLANS.md round 13).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Execution pages sized for small tasks (see the object doc).
      .config("spark.buffer.pageSize", "2m")
}
