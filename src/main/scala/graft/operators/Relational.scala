package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Relational operator catalog — every SURVEY.md §2 operator re-expressed
  * over the driver test tables, Spark-first.
  *
  * The reference (tabjolt_email.py:374-387) ships each of these shapes as a
  * Vertica SQL string; here each is a declarative DataFrame program so
  * Catalyst owns pushdown/pruning/join strategy (SURVEY.md §4). The tabjolt
  * package holds the same shapes over the reference's own file formats.
  *
  * Scale notes per query are on each member. Common rules:
  *  - filters/projections are plain `Column` ops => pushed into the scan;
  *  - aggregates are partial+final hash aggregates (map-side combine);
  *  - small dimension tables are `broadcast()`ed — no shuffle of the big
  *    side; the per-key aggregate side of the regression join is tiny
  *    (one row per key) so AQE broadcasts it at any data scale.
  */
object Relational {

  /** Pinned "run date" analogs of the reference's CURRENT_DATE
    * (SURVEY.md §2.2 E5): events span 2024-01-01..2024-01-30. */
  private val CurrentDay  = "2024-01-30 00:00:00"
  private val DayAfterEnd = "2024-01-31 00:00:00"
  /** Numeric-validity guard idiom (SURVEY.md §2.2 F3): the reference
    * regexp-guards stringly-typed columns before casting. */
  private val PropsGuard      = "^\\{\"k\": [0-9]+\\}$"
  private val PropsGuardDuck  = "^\\{\"k\": [0-9]+\\}$"

  private def ev(s: SparkSession, d: String)  = Tables.events(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  // ---------------------------------------------------------------- queries

  /** F1 + P1 + P2 + O1: equality filter, projection, alias, sort.
    * Scale: filter + projection push into the parquet scan (PushedFilters,
    * pruned ReadSchema); sort is the only shuffle. */
  val q01 = QueryDef(
    "q01_filter_project",
    (s, d) =>
      ord(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice").as("total"), col("o_orderdate"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, o_totalprice AS total, o_orderdate
            FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey"""))

  /** A1: ungrouped scalar MAX (reference Q4, tabjolt_email.py:378).
    * Scale: partial max per partition, single tiny final reduce. */
  val q02 = QueryDef(
    "q02_scalar_max",
    (s, d) => ev(s, d).agg(max(col("ts")).as("max_ts")),
    Some("SELECT max(ts) AS max_ts FROM events"))

  /** A2 + E1: AVG with cast-to-int (reference Q5, tabjolt_email.py:379).
    * FLOOR is pinned explicitly: Vertica rounds on double->int casts while
    * Spark truncates and DuckDB rounds-half-even — an unpinned cast is a
    * cross-engine trap. */
  val q03 = QueryDef(
    "q03_avg_cast_int",
    (s, d) =>
      ev(s, d)
        .filter(col("event_type") === "click")
        .agg(floor(exactAvg(col("value"))).cast(IntegerType).as("avg_value_int")),
    Some("""SELECT CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value)) AS INTEGER) AS avg_value_int
            FROM events WHERE event_type = 'click'"""))

  /** A3 + O1: day-wise average time-series (reference Q6, tabjolt_email.py:86).
    * Scale: one shuffle on the group key; partial aggregation first, so
    * shuffle volume is O(days), not O(rows). */
  val q04 = QueryDef(
    "q04_timeseries_daily",
    (s, d) =>
      ev(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(exactAvg(col("value")).as("avg_value"), count(lit(1)).as("n"))
        .orderBy(col("day")),
    Some("""SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value,
                   COUNT(*) AS n
            FROM events GROUP BY CAST(ts AS DATE) ORDER BY day"""))

  /** F2: case-insensitive LIKE and its negation (tabjolt_email.py:383). */
  val q05 = QueryDef(
    "q05_ilike",
    (s, d) =>
      Tables.documents(s, d)
        .filter(col("text").ilike("%SPARK%") && !col("text").ilike("%VECTOR%"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang, source FROM documents
            WHERE text ILIKE '%SPARK%' AND text NOT ILIKE '%VECTOR%'
            ORDER BY doc_id"""))

  /** F3 + E1: regexp numeric-validity guard then cast
    * (the reference's REGEXP_LIKE(x,'^[0-9]+$') AND x::INT idiom). */
  val q06 = QueryDef(
    "q06_rlike_guarded_cast",
    (s, d) =>
      ev(s, d)
        .filter(col("props").rlike(PropsGuard))
        .select(col("event_id"),
          regexp_extract(col("props"), "[0-9]+", 0).cast(IntegerType).as("k"))
        .orderBy(col("event_id")),
    Some(s"""SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS k
             FROM events WHERE regexp_matches(props, '$PropsGuardDuck')
             ORDER BY event_id"""))

  /** E4 + F4: epoch-millis / 1000 -> timestamp, range-filtered.
    * Faithful to TO_TIMESTAMP(CAST(ts AS BIGINT)/1000) >= CURRENT_DATE
    * (tabjolt_email.py:383): `/` promotes to double so fractional seconds
    * survive — integer div would truncate and flip midnight-boundary rows
    * (SURVEY.md §7.4). */
  val q07 = QueryDef(
    "q07_epoch_roundtrip",
    (s, d) =>
      ev(s, d)
        .select(col("event_id"),
          timestamp_seconds(unix_millis(col("ts")) / lit(1000)).as("ts2"))
        .filter(col("ts2") >= lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
        .orderBy(col("event_id")),
    Some("""SELECT event_id, make_timestamp(CAST(epoch_ms(ts) / 1000 * 1000000 AS BIGINT)) AS ts2
            FROM events
            WHERE make_timestamp(CAST(epoch_ms(ts) / 1000 * 1000000 AS BIGINT)) >= TIMESTAMP '2024-01-15 00:00:00'
            ORDER BY event_id"""))

  /** F5: interval arithmetic in a range filter
    * (CURRENT_DATE - interval '3 days', tabjolt_email.py:387). */
  val q08 = QueryDef(
    "q08_interval_filter",
    (s, d) =>
      ev(s, d)
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf(DayAfterEnd)) - expr("INTERVAL 3 DAYS"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
        .orderBy(col("event_type")),
    Some(s"""SELECT event_type, COUNT(*) AS n,
                    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             FROM events
             WHERE ts >= TIMESTAMP '$DayAfterEnd' - INTERVAL 3 DAY
             GROUP BY event_type ORDER BY event_type"""))

  /** J1 + A3 + E2 + E3 + F6 + O2 — the reference's centerpiece regression
    * query (tabjolt_email.py:385): per-key historical average LEFT OUTER
    * JOIN current samples, CASE-guarded percentage difference, kept where
    * current exceeds average, sorted pct DESC **NULLS FIRST** (Vertica's
    * DESC default; Spark's default is NULLS LAST — SURVEY.md §2.5 O2).
    *
    * Scale: the aggregate side is one row per key — broadcastable at any
    * data volume, so the big side never shuffles for the join; the groupBy
    * is the only full shuffle and is map-side-combined. */
  val q09 = QueryDef(
    "q09_regression_join",
    (s, d) => regressionJoin(s, d, currentFrom = CurrentDay)
      .filter(col("avg_value") < col("current_value"))
      .orderBy(col("pct_diff").desc_nulls_first, col("event_id")),
    Some(s"""SELECT avg_value, current_value, event_type, pct_diff, event_id FROM (
               SELECT aa.avg_value, bb.current_value, aa.event_type, bb.event_id,
                      CASE WHEN aa.avg_value = 0 THEN NULL
                           ELSE ((bb.current_value - aa.avg_value) / aa.avg_value) * 100.0 END AS pct_diff
               FROM (SELECT event_type,
                            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
                     FROM events
                     WHERE regexp_matches(props, '$PropsGuardDuck')
                     GROUP BY event_type) aa
               LEFT OUTER JOIN (SELECT event_id, value AS current_value, event_type
                                FROM events
                                WHERE ts >= TIMESTAMP '$CurrentDay'
                                  AND regexp_matches(props, '$PropsGuardDuck')) bb
                 ON aa.event_type = bb.event_type) ll
             WHERE avg_value < current_value
             ORDER BY pct_diff DESC NULLS FIRST, event_id"""))

  /** Q8b analog (tabjolt_email.py:387): 3-day current window, improvements
    * only, outer threshold pct_diff < -40. Intentional asymmetry with q09
    * preserved (SURVEY.md §3.4). */
  val q10 = QueryDef(
    "q10_improvement_join",
    (s, d) => regressionJoin(s, d, currentFrom = "2024-01-28 00:00:00")
      .filter(col("avg_value") > col("current_value"))
      .filter(col("pct_diff") < -40.0)
      .orderBy(col("pct_diff").desc_nulls_first, col("event_id")),
    Some(s"""SELECT avg_value, current_value, event_type, pct_diff, event_id FROM (
               SELECT aa.avg_value, bb.current_value, aa.event_type, bb.event_id,
                      CASE WHEN aa.avg_value = 0 THEN NULL
                           ELSE ((bb.current_value - aa.avg_value) / aa.avg_value) * 100.0 END AS pct_diff
               FROM (SELECT event_type,
                            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
                     FROM events
                     WHERE regexp_matches(props, '$PropsGuardDuck')
                     GROUP BY event_type) aa
               LEFT OUTER JOIN (SELECT event_id, value AS current_value, event_type
                                FROM events
                                WHERE ts >= TIMESTAMP '2024-01-28 00:00:00'
                                  AND regexp_matches(props, '$PropsGuardDuck')) bb
                 ON aa.event_type = bb.event_type) ll
             WHERE avg_value > current_value AND pct_diff < -40.0
             ORDER BY pct_diff DESC NULLS FIRST, event_id"""))

  /** Shared aa-LEFT-OUTER-bb shape of the two report queries. */
  private def regressionJoin(s: SparkSession, d: String, currentFrom: String): DataFrame = {
    val e = ev(s, d)
    val aa = e
      .filter(col("props").rlike(PropsGuard))
      .groupBy(col("event_type"))
      .agg(exactAvg(col("value")).as("avg_value"))
    val bb = e
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf(currentFrom)))
      .filter(col("props").rlike(PropsGuard))
      .select(col("event_id"), col("value").as("current_value"), col("event_type").as("bb_event_type"))
    aa.join(bb, aa("event_type") === bb("bb_event_type"), "left_outer")
      .select(
        col("avg_value"), col("current_value"), col("event_type"),
        when(col("avg_value") === 0, lit(null))
          .otherwise((col("current_value") - col("avg_value")) / col("avg_value") * 100.0)
          .as("pct_diff"),
        col("event_id"))
  }

  /** Star-schema rollup with explicit broadcast of the dimension tables.
    * Scale: nation/region are tiny at any SF -> `broadcast()` keeps the
    * fact-side scan shuffle-free for those joins; only customer⋈orders
    * shuffles on the key. */
  val q11 = QueryDef(
    "q11_star_rollup",
    (s, d) => {
      val o = ord(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  /** Window function top-k (beyond the reference — SURVEY.md §2.5 notes the
    * agg-then-join form could be a window; we support both). Deterministic
    * via the o_orderkey tiebreak in the frame ordering. */
  val q12 = QueryDef(
    "q12_window_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) t
            WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  /** Set op + distinct (beyond the reference). */
  val q13 = QueryDef(
    "q13_union_distinct",
    (s, d) => {
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      c.union(sup).distinct().orderBy(col("nationkey"))
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
            UNION
            SELECT s_nationkey AS nationkey FROM supplier
            ORDER BY nationkey"""))

  /** TPC-H Q1-shaped pricing summary: multi-aggregate groupBy with a
    * per-row arithmetic expression inside the sum. Exercises partial
    * aggregation + whole-stage codegen on the widest fact table. */
  val q14 = QueryDef(
    "q14_pricing_summary",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          exactSumDiscounted(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          exactAvg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** Exact distinct counts (expand-based multi-distinct aggregate). */
  val q15 = QueryDef(
    "q15_count_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps")),
    Some("SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem"))

  /** Semi/anti join — EXISTS / NOT EXISTS over orders, resolved in ONE
    * pass: distinct order custkeys left-joined to customer, membership =
    * join-key non-null. A semi + anti pair would scan orders twice and
    * union; this scans each table once, with the distinct collapsing
    * orders to at most one row per key before the join (the build side
    * carries keys only). At 100 TB this is the idiom for "flag a fact
    * table by membership in another" without a full join's row blowup —
    * one shuffle per side on the key, broadcastable when the key set is
    * small. */
  val q22 = QueryDef(
    "q22_semi_anti_join",
    (s, d) => {
      val c = Tables.customer(s, d)
      val ok = Tables.orders(s, d).select(col("o_custkey")).distinct()
      c.join(ok, c("c_custkey") === ok("o_custkey"), "left")
        .select(col("c_custkey"), col("o_custkey").isNotNull.as("has_orders"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
           |       EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_orders
           |FROM customer ORDER BY c_custkey""".stripMargin))

  /** Range join — per error event, clicks by the same user in the
    * preceding 5 minutes. The equi-key (user_id) carries the shuffle;
    * the time range is a residual join predicate evaluated inside the
    * matched key group, so the plan is a hash/sort-merge join on user,
    * never a cross product. (A band join with NO equi-key would need
    * the bucketed-interval overlap trick — bucket both sides by
    * floor(ts/5min) and probe adjacent buckets.) */
  val j02 = QueryDef(
    "j02_range_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("u2"), col("ts").as("click_ts"))
      errors.join(clicks,
          col("user_id") === col("u2") &&
            col("click_ts") >= col("ts") - expr("INTERVAL 5 MINUTES") &&
            col("click_ts") < col("ts"),
          "left_outer")
        .groupBy(col("event_id"))
        .agg(count(col("click_ts")).as("n_recent_clicks"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT e.event_id, COUNT(c.ts) AS n_recent_clicks
           |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
           |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
           |  ON e.user_id = c.user_id
           | AND c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts < e.ts
           |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin))

  /** Salted two-phase aggregation (graft.functions.Skew) under the hash
    * gate: spread each key across 8 deterministic sub-keys, partially
    * aggregate, re-combine. With a count and a DECIMAL-exact sum the
    * two-phase result is IDENTICAL to the direct GROUP BY — which is
    * exactly what the oracle runs, so the gate proves the skew-mitigation
    * rewrite is value-preserving, not just approximately right. At
    * 100 TB this is the lever for aggregate-side hot keys (one dominant
    * event_type pinning a reducer); join-side skew is AQE's job. */
  val q23 = QueryDef(
    "q23_salted_agg",
    (s, d) =>
      graft.functions.Skew.saltedAgg(
          Tables.events(s, d), "event_type", col("event_id"), salts = 8)(
          "n" -> count(lit(1)),
          "sum_dec" -> sum(col("value").cast("decimal(18,2)")))
        .select(col("event_type"), col("n"),
          col("sum_dec").cast("double").as("sum_value"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type, COUNT(*) AS n,
           |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** MERGE/upsert — the incremental-load primitive a daily batch ETL
    * (the reference's schedule, tabjolt_email.py's daily run) needs once
    * it stops truncate-and-reloading: a change batch of UPDATEs (status
    * flip + price adjustment on keys % 17 == 0) and INSERTs (new keys,
    * offset beyond the keyspace, from keys % 23 == 0) merged into the
    * base by key, change winning. The batch is DERIVED deterministically
    * from the base table so the gate needs no side input; the merge
    * itself is the generic `base FULL OUTER JOIN changes ON key,
    * COALESCE(change, base)` — exactly what MERGE WHEN MATCHED /
    * NOT MATCHED lowers to.
    *
    * Scale: one co-partitioned shuffle on the merge key (full outer
    * cannot broadcast); at 100 TB the merge pairs with the partitioned
    * layout r04 proves — group changes by partition value and rewrite
    * only affected partitions (copy-on-write), so the join touches the
    * changed slice, not the table. The price adjustment is a single
    * IEEE double add — identical in both engines, no accumulation. */
  val q26 = QueryDef(
    "q26_merge_upsert",
    (s, d) => {
      val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      val cur = Tables.orders(s, d)
        .select(col("o_orderkey") +: cols.map(col): _*)
      val upd = cur.filter(col("o_orderkey") % 17 === 0)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      val ins = cur.filter(col("o_orderkey") % 23 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
        .withColumn("o_orderstatus", lit("N"))
      val changes = upd.unionByName(ins)
      val base = cur.select(col("o_orderkey"), struct(cols.map(col): _*).as("c"))
      val delta = changes.select(col("o_orderkey"), struct(cols.map(col): _*).as("u"))
      base.join(delta, Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey") +:
          cols.map(f => coalesce(col(s"u.$f"), col(s"c.$f")).as(f)): _*)
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH cur AS (
           |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
           |  FROM orders),
           |upd AS (
           |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
           |         o_totalprice + 1.0 AS o_totalprice, o_orderdate
           |  FROM cur WHERE o_orderkey % 17 = 0),
           |ins AS (
           |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
           |         'N' AS o_orderstatus, o_totalprice, o_orderdate
           |  FROM cur WHERE o_orderkey % 23 = 0),
           |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
           |SELECT COALESCE(ch.o_orderkey, cur.o_orderkey) AS o_orderkey,
           |       COALESCE(ch.o_custkey, cur.o_custkey) AS o_custkey,
           |       COALESCE(ch.o_orderstatus, cur.o_orderstatus) AS o_orderstatus,
           |       COALESCE(ch.o_totalprice, cur.o_totalprice) AS o_totalprice,
           |       COALESCE(ch.o_orderdate, cur.o_orderdate) AS o_orderdate
           |FROM cur FULL OUTER JOIN ch ON cur.o_orderkey = ch.o_orderkey
           |ORDER BY o_orderkey""".stripMargin))

  /** Correlated scalar subquery — each customer's personal-best orders,
    * phrased as `WHERE o_totalprice = (SELECT MAX(...) correlated)`.
    * The point is the PLAN, not the answer: Catalyst's subquery
    * decorrelation (RewriteCorrelatedScalarSubquery) lowers the
    * per-row subquery into one aggregate over orders plus a join back
    * on the correlation key — the distributed form a naive engine
    * would execute as N subqueries. MAX on a double is
    * order-independent, so the equality filter is deterministic
    * cross-engine (no float accumulation anywhere).
    *
    * Scale: the rewrite is exactly the argmax-per-group plan — one
    * partial+final aggregate keyed by o_custkey (tiny output: one row
    * per customer) joined back to orders on the same key; AQE
    * broadcasts the aggregate side when it fits. */
  val q27 = QueryDef(
    "q27_correlated_subquery",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("q27_orders")
      graft.Lifecycle.defer { s.catalog.dropTempView("q27_orders"); () }
      s.sql("""
        SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
        FROM q27_orders o
        WHERE o.o_totalprice = (SELECT MAX(o2.o_totalprice)
                                FROM q27_orders o2
                                WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_custkey, o_orderkey""")
    },
    Some("""SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
           |FROM orders o
           |WHERE o.o_totalprice = (SELECT MAX(o2.o_totalprice)
           |                        FROM orders o2
           |                        WHERE o2.o_custkey = o.o_custkey)
           |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Set-operator surface beyond q13's UNION: INTERSECT and EXCEPT
    * (both DISTINCT forms), tagged and recombined — which nations have
    * both customers and suppliers, and which have customers only.
    * Spark lowers INTERSECT to a left-semi and EXCEPT to a left-anti
    * over aggregated (distinct) inputs — the same hash-join family as
    * q22, but reached through the set-algebra API.
    *
    * Scale: both sides aggregate to |nations| rows before joining, so
    * the exchanges carry key cardinality, not table cardinality. */
  val q28 = QueryDef(
    "q28_intersect_except",
    (s, d) => {
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      c.intersect(sup).withColumn("tag", lit("both"))
        .unionByName(c.except(sup).withColumn("tag", lit("customer_only")))
        .orderBy(col("nationkey"), col("tag"))
    },
    Some("""SELECT nationkey, 'both' AS tag FROM (
           |  SELECT c_nationkey AS nationkey FROM customer
           |  INTERSECT
           |  SELECT s_nationkey AS nationkey FROM supplier)
           |UNION ALL
           |SELECT nationkey, 'customer_only' AS tag FROM (
           |  SELECT c_nationkey AS nationkey FROM customer
           |  EXCEPT
           |  SELECT s_nationkey AS nationkey FROM supplier)
           |ORDER BY nationkey, tag""".stripMargin))

  /** LATERAL correlated subquery — top-3 customers by balance PER
    * nation, written as the per-row subquery a SQL user reaches for.
    * The other decorrelation family next to q27's scalar form: a
    * LATERAL emits ROWS per outer row, and Catalyst rewrites it into
    * the rank-window plan (DecorrelateInnerQuery) instead of executing
    * |nations| subqueries. The order key (c_acctbal DESC, c_custkey)
    * is total, so the LIMIT's cut is deterministic cross-engine.
    *
    * Scale: the rewrite is q12's window top-k — one hash exchange on
    * the correlation key, rank, filter; per-key state is the top-k
    * heap, never the group. */
  val q29 = QueryDef(
    "q29_lateral_topk",
    (s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("q29_nation")
      Tables.customer(s, d).createOrReplaceTempView("q29_customer")
      graft.Lifecycle.defer {
        s.catalog.dropTempView("q29_nation")
        s.catalog.dropTempView("q29_customer"); ()
      }
      s.sql("""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM q29_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM q29_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
        ORDER BY n_name, c_acctbal DESC, c_custkey""")
    },
    Some("""SELECT n.n_name, t.c_custkey, t.c_acctbal
           |FROM nation n, LATERAL (
           |  SELECT c_custkey, c_acctbal FROM customer c
           |  WHERE c.c_nationkey = n.n_nationkey
           |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
           |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin))

  /** CDC latest-wins compaction — the maintenance twin of [[q26]]'s
    * MERGE: treat the event stream as a change log keyed by
    * (user_id, event_type) and keep only each key's most recent row
    * (ts, then event_id as the total tiebreak — the upsert-stream
    * compaction every lakehouse table format runs). Raw column
    * pass-through (no arithmetic), so the double `value` hash-checks
    * untouched.
    *
    * Scale: rank <= 1 under a row_number window is Spark's
    * WindowGroupLimit shape (pinned in the spec) — each map partition
    * keeps one candidate row per key BEFORE the exchange, so the
    * shuffle carries O(keys) rows, not the log; that partial top-1 is
    * exactly how log-structured compaction stays linear at 100 TB. */
  val q30 = QueryDef(
    "q30_latest_compaction",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("last_event_id"), col("ts").as("last_ts"),
          col("value").as("last_value"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""SELECT user_id, event_type, event_id AS last_event_id,
           |       ts AS last_ts, value AS last_value
           |FROM (SELECT *, ROW_NUMBER() OVER (
           |        PARTITION BY user_id, event_type
           |        ORDER BY ts DESC, event_id DESC) AS rn
           |      FROM events)
           |WHERE rn = 1
           |ORDER BY user_id, event_type""".stripMargin))

  /** Typed JSON extraction over a semi-structured column — the
    * first-class form of what [[q06]] does with the reference's regex
    * guard: `from_json` with an explicit schema parses `props` once
    * into a typed struct (codegen'd Jackson parse, null on malformed —
    * the safe-cast contract), and the extracted field feeds ordinary
    * integer-exact aggregation. At 100 TB the schema-typed parse is the
    * scale path: one pass, no per-field re-parse (`get_json_object`
    * re-parses the document per call), and the struct projection prunes
    * to the fields named. */
  val q31 = QueryDef(
    "q31_json_extract",
    (s, d) => {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val schema = StructType(Seq(StructField("k", IntegerType)))
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"), schema).getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("k").cast("long")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           |       CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
           |       MAX(CAST(props->>'k' AS INTEGER)) AS max_k
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  val catalog: Seq[QueryDef] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13,
      q14, q15, q22, q23, q26, q27, q28, q29, q30, q31, j02)
}
