package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators.Fanout.SpreadSyntax
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators — the approximate corpus-statistics family
  * a 100 TB pipeline runs where exact aggregation would shuffle the full
  * key space: Count-Min frequency estimation (Cormode–Muthukrishnan) and
  * HyperLogLog-style cardinality (Flajolet et al.).
  *
  * Both sketches here are DETERMINISTIC: the hash family is md5-derived
  * (the t08 SimHash pattern — computable bit-identically in DuckDB via
  * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`), so "approximate"
  * does not mean "non-reproducible": the oracle recomputes the identical
  * sketch in SQL and the gate hash-matches estimates exactly, while the
  * ScalaTest suite asserts the sketch's accuracy contracts (CMS never
  * underestimates; HLL lands within its standard-error envelope).
  *
  * Scale design (100 TB):
  *  - the CMS counter array is O(d × w) rows (4096 here) REGARDLESS of
  *    vocab size, built by one map-side-combined aggregate: the shuffle
  *    carries at most d × w rows per map partition, vs O(distinct keys)
  *    for an exact vocab count — and counters merge by + across
  *    partitions, days, or streams;
  *  - HLL registers are O(m) rows (256 here), merged by max — the
  *    per-source / per-snapshot cardinality tracker that costs nothing
  *    to combine;
  *  - at gate scale the queries ALSO compute the exact values (that is
  *    the point of the gate: estimate vs truth side by side); at 100 TB
  *    the exact side is dropped and candidates come from per-partition
  *    local top-k.
  */
object Sketches {

  // ------------------------------------------------------------- CMS

  /** Count-Min depth (independent hash rows) and width (buckets/row). */
  private[graft] val CmsDepth = 4
  private val CmsWidth = 1024
  private val TopK = 20

  /** 60-bit md5-derived hash of `row:token` — the per-row CMS hash
    * (15 hex chars so the ANSI cast can never overflow a signed 64-bit;
    * see [[TextDedup.shingleHash60]] for the provenance of the trick). */
  private[graft] def cmsBucket(row: Int, tok: Column): Column =
    conv(substring(md5(concat(lit(s"$row:"), tok).cast("binary")), 1, 15), 16, 10)
      .cast("long") % CmsWidth

  private[graft] def cmsBucketSql(row: String, tok: String): String =
    s"CAST(('0x' || substr(md5($row || ':' || $tok), 1, 15)) AS BIGINT) % $CmsWidth"

  /** Token-occurrence stream (NOT distinct — CMS counts occurrences)
    * over an arbitrary documents frame, so sketches compose over any
    * corpus slice (and the spec can merge-test over halves). */
  private[operators] def tokenStream(s: SparkSession, docsDf: DataFrame): DataFrame = {
    graft.functions.TextExpressions.register(s)
    docsDf
      .spreadByBytes // parallelism (see shingleIndex)
      .select(explode(call_function("graft_tokens", col("text"))).as("tok"))
  }

  private def occurrences(s: SparkSession, d: String): DataFrame =
    tokenStream(s, graft.Tables.documents(s, d))

  /** The d × w counter array for a token-occurrence stream — the sketch
    * itself. MERGEABLE: counters from disjoint corpus slices (or stream
    * micro-batches, or days) combine by summing per (rw, bucket) —
    * pinned in SketchesSpec. The groupBy partial-aggregates map-side to
    * <= d × w rows per partition, so the exchange is O(4096) per
    * partition however large the corpus. */
  private[operators] def cmsCounters(occ: DataFrame): DataFrame =
    occ
      .select(posexplode(array((0 until CmsDepth).map(i =>
        cmsBucket(i, col("tok"))): _*)).as(Seq("rw", "bucket")))
      .groupBy(col("rw"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Count-Min heavy hitters: build the d × w counter array over the
    * corpus token stream, then report the exact top-[[TopK]] tokens with
    * their exact counts AND their CMS estimates (min over the d counters
    * each token hashes into) side by side. The estimate is an
    * overestimate by construction (collisions only ever add), bounded by
    * e/w × total occurrences with probability 1 − e^−d — both properties
    * pinned in SketchesSpec on real corpora. */
  def cmsTopK(s: SparkSession, d: String): DataFrame = {
    // The gate query carries the exact side anyway (estimate vs truth is
    // the point of the gate), so ONE kernel/scan pass builds the vocab
    // aggregate and the counters derive from it as a weighted fold —
    // identical to cmsCounters(occurrences) by linearity (sum of
    // per-token counts = count of occurrences; equality is pinned in
    // SketchesSpec). The production build path with no exact side is
    // [[cmsCounters]] over the raw stream — O(d x w) shuffle, no vocab
    // aggregate. vocab is materialized once (localCheckpoint, tiny:
    // O(distinct tokens) rows, freed by Lifecycle.release) because both
    // the counters and the top-k consume it; without the boundary each
    // consumer re-runs scan + tokenizer (measured 1.24s -> 0.69s at
    // sf0.1).
    val vocab = occurrences(s, d)
      .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .localCheckpoint()
    val counters = vocab
      .select(col("exact_cnt"),
        posexplode(array((0 until CmsDepth).map(i =>
          cmsBucket(i, col("tok"))): _*)).as(Seq("rw", "bucket")))
      .groupBy(col("rw"), col("bucket"))
      .agg(sum(col("exact_cnt")).as("c"))
    val top = vocab
      .orderBy(col("exact_cnt").desc, col("tok"))
      .limit(TopK)
    top
      .select(col("tok"), col("exact_cnt"),
        posexplode(array((0 until CmsDepth).map(i =>
          cmsBucket(i, col("tok"))): _*)).as(Seq("rw", "bucket")))
      .join(counters, Seq("rw", "bucket"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("tok").as("token"), col("exact_cnt"), col("cms_est"))
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  val sk01 = QueryDef(
    "sk01_cms_topk",
    (s, d) => cmsTopK(s, d),
    Some {
      val occCte = TextDedup.TokCte + """,
        |occ AS (SELECT unnest(toks) AS tok FROM tok),
        |rws AS (SELECT unnest(range(4)) AS i)""".stripMargin
      s"""$occCte,
        |counters AS (
        |  SELECT r.i AS rw, ${cmsBucketSql("r.i", "o.tok")} AS bucket, COUNT(*) AS c
        |  FROM occ o CROSS JOIN rws r GROUP BY 1, 2
        |),
        |top AS (
        |  SELECT tok, COUNT(*) AS exact_cnt FROM occ GROUP BY tok
        |  ORDER BY exact_cnt DESC, tok LIMIT $TopK
        |)
        |SELECT t.tok AS token, t.exact_cnt, MIN(c.c) AS cms_est
        |FROM top t CROSS JOIN rws r
        |JOIN counters c
        |  ON c.rw = r.i AND c.bucket = ${cmsBucketSql("r.i", "t.tok")}
        |GROUP BY t.tok, t.exact_cnt
        |ORDER BY exact_cnt DESC, token""".stripMargin
    })

  // ------------------------------------------------------------- HLL

  /** Register count m = 2^8; bucket = low 8 hash bits, rank from the
    * remaining 52. */
  private val HllBits = 8
  private val HllM = 1 << HllBits // 256
  private val RestBits = 60 - HllBits // 52

  /** alpha_m × m^2 × 2^RestBits as ONE double literal, computed once and
    * embedded identically (%.17e) on both engines so the estimate is a
    * single IEEE division of identically-constructed operands —
    * bit-identical across engines by construction. */
  private val HllNumerator: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM * math.pow(2.0, RestBits)
  private val HllNumeratorLit: String =
    "%.17e".formatLocal(java.util.Locale.ROOT, HllNumerator)

  /** HLL-style distinct-shingle estimate: 60-bit md5-derived hash per
    * (doc, shingle) row, register = max rank per low-8-bit bucket, raw
    * estimator E = alpha·m²/Σ2^−M_j. The float-sum hazard in Σ2^−M_j is
    * removed by scaling: Σ2^(RestBits − M_j) is an INTEGER (≤ m·2^52 <
    * 2^61), summed exactly, with empty registers contributing 2^RestBits
    * each — so the only floating-point steps are one int→double cast and
    * one division, both correctly rounded IEEE ops on identical operands
    * in both engines. The raw estimator (no small-range linear-counting
    * correction) is the declared semantics: the gate corpora sit above
    * the 2.5m crossover at sf0.01+, and the correction's ln() would
    * reintroduce cross-engine libm drift; a production deployment adds
    * it below 2.5m where the gate does not tread. */
  /** The m-register array for a shingle stream — the sketch itself.
    * MERGEABLE: registers from disjoint slices combine by max per
    * bucket (pinned in SketchesSpec). Absent buckets mean M_j = 0. */
  private[operators] def hllRegisters(shingles: DataFrame): DataFrame = {
    val h = TextDedup.shingleHash60(col("shingle"))
    val rest = shiftright(h, HllBits)
    // rank = leading zeros in the RestBits-bit field + 1
    //      = RestBits + 1 - bitlength(rest); bin() gives exact bitlength
    val rank = when(rest === 0, lit(RestBits + 1))
      .otherwise(lit(RestBits + 1) - length(bin(rest)))
    shingles
      .select((h % HllM).as("bucket"), rank.as("rnk"))
      .groupBy(col("bucket")).agg(max(col("rnk")).as("m_j"))
  }

  def hllDistinctShingles(s: SparkSession, d: String): DataFrame = {
    val regs = hllRegisters(TextDedup.shingleIndex(s, d))
    val exact = TextDedup.shingleIndex(s, d)
      .agg(countDistinct(col("shingle")).as("exact_distinct"))
    regs
      .agg(
        count(lit(1)).as("n_present"),
        // shiftleft(Column, Column) has no typed overload — call by name
        sum(call_function("shiftleft", lit(1L), lit(RestBits) - col("m_j")))
          .as("s_present"))
      .select(
        lit(HllM).cast("int").as("m"),
        (lit(HllM) - col("n_present")).cast("long").as("n_zero_registers"),
        (col("s_present") +
          (lit(HllM) - col("n_present")) * lit(1L << RestBits)).as("s_scaled"))
      .withColumn("hll_estimate",
        lit(HllNumerator) / col("s_scaled").cast("double"))
      .crossJoin(exact)
      .select(col("m"), col("n_zero_registers"), col("s_scaled"),
        col("hll_estimate"), col("exact_distinct"))
  }

  val sk02 = QueryDef(
    "sk02_hll_distinct",
    (s, d) => hllDistinctShingles(s, d),
    Some {
      s"""${TextDedup.ShingleCte},
        |hashed AS (
        |  SELECT CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
        |  FROM sh
        |),
        |ranked AS (
        |  SELECT h % $HllM AS bucket,
        |         CASE WHEN (h >> $HllBits) = 0 THEN ${RestBits + 1}
        |              ELSE ${RestBits + 1} - length(bin(h >> $HllBits)) END AS rnk
        |  FROM hashed
        |),
        |regs AS (SELECT bucket, MAX(rnk) AS m_j FROM ranked GROUP BY bucket),
        |agg AS (
        |  SELECT COUNT(*) AS n_present,
        |         SUM((CAST(1 AS BIGINT) << ($RestBits - m_j))) AS s_present
        |  FROM regs
        |)
        |SELECT CAST($HllM AS INTEGER) AS m,
        |       CAST($HllM - n_present AS BIGINT) AS n_zero_registers,
        |       CAST(s_present + ($HllM - n_present) * (CAST(1 AS BIGINT) << $RestBits) AS BIGINT) AS s_scaled,
        |       -- HUGEINT -> BIGINT FIRST, then -> DOUBLE: the direct
        |       -- hugeint->double path need not round like long->double
        |       $HllNumeratorLit / CAST(CAST(s_present + ($HllM - n_present) * (CAST(1 AS BIGINT) << $RestBits) AS BIGINT) AS DOUBLE) AS hll_estimate,
        |       (SELECT COUNT(DISTINCT shingle) FROM sh) AS exact_distinct
        |FROM agg""".stripMargin
    })

  /** Grouped HLL registers: one m-register sketch PER KEY — the
    * deployment shape of [[hllRegisters]] (distinct users per day,
    * distinct content per source). Mergeable per key by max per
    * (key, bucket), pinned in SketchesSpec. */
  private[operators] def hllRegistersBy(rows: DataFrame, key: String,
                                        hashed: Column): DataFrame = {
    val rest = shiftright(hashed, HllBits)
    val rank = when(rest === 0, lit(RestBits + 1))
      .otherwise(lit(RestBits + 1) - length(bin(rest)))
    rows
      .select(col(key), (hashed % HllM).as("bucket"), rank.as("rnk"))
      .groupBy(col(key), col("bucket")).agg(max(col("rnk")).as("m_j"))
  }

  /** Per-source distinct-shingle estimation — [[sk02]]'s sketch grouped
    * by source, the "how much distinct content does each feed
    * contribute" snapshot tracker a corpus pipeline runs per ingest.
    * Same integer-exact estimator (Σ2^(RestBits−M_j) summed as exact
    * longs, one division at the end); per-source cardinalities sit
    * above the 2.5m raw-estimator crossover at every gate SF (1063+
    * distinct shingles per source vs 640), so the declared
    * no-linear-counting semantics of sk02 carry over. The exact
    * COUNT(DISTINCT) audit rides along at gate scale and is the side a
    * 100 TB deployment drops: the sketch is O(sources × m) rows out of
    * the map-side combine, the exact side is a corpus-wide distinct
    * shuffle. Duplicate (source, shingle) rows need no pre-distinct —
    * registers are idempotent under duplicates (max), which is the
    * point of the sketch. */
  def hllDistinctBySource(s: SparkSession, d: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    val shs = graft.Tables.documents(s, d)
      .spreadByBytes
      .select(col("source"),
        explode(call_function("graft_shingles", col("text"))).as("shingle"))
    val regs = hllRegistersBy(shs, "source",
      TextDedup.shingleHash60(col("shingle")))
    val exact = shs.groupBy(col("source"))
      .agg(countDistinct(col("shingle")).as("exact_distinct"))
    regs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_present"),
        sum(call_function("shiftleft", lit(1L), lit(RestBits) - col("m_j")))
          .as("s_present"))
      .select(col("source"),
        (lit(HllM) - col("n_present")).cast("long").as("n_zero_registers"),
        (col("s_present") +
          (lit(HllM) - col("n_present")) * lit(1L << RestBits)).as("s_scaled"))
      .withColumn("hll_estimate",
        lit(HllNumerator) / col("s_scaled").cast("double"))
      .join(exact, Seq("source"))
      .orderBy(col("source"))
  }

  val sk05 = QueryDef(
    "sk05_hll_by_source",
    (s, d) => hllDistinctBySource(s, d),
    Some {
      s"""WITH shs AS (
        |  SELECT source, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS shingle
        |  FROM (SELECT source, toks, unnest(range(len(toks)-2)) AS i
        |        FROM (SELECT source,
        |                     list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
        |              FROM documents)
        |        WHERE len(toks) >= 3)
        |),
        |ranked AS (
        |  SELECT source, h % $HllM AS bucket,
        |         CASE WHEN (h >> $HllBits) = 0 THEN ${RestBits + 1}
        |              ELSE ${RestBits + 1} - length(bin(h >> $HllBits)) END AS rnk
        |  FROM (SELECT source, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
        |        FROM shs)
        |),
        |regs AS (SELECT source, bucket, MAX(rnk) AS m_j FROM ranked GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, COUNT(*) AS n_present,
        |         SUM((CAST(1 AS BIGINT) << ($RestBits - m_j))) AS s_present
        |  FROM regs GROUP BY source
        |),
        |ex AS (SELECT source, COUNT(DISTINCT shingle) AS exact_distinct
        |       FROM shs GROUP BY source)
        |SELECT a.source,
        |       CAST($HllM - n_present AS BIGINT) AS n_zero_registers,
        |       CAST(s_present + ($HllM - n_present) * (CAST(1 AS BIGINT) << $RestBits) AS BIGINT) AS s_scaled,
        |       $HllNumeratorLit / CAST(CAST(s_present + ($HllM - n_present) * (CAST(1 AS BIGINT) << $RestBits) AS BIGINT) AS DOUBLE) AS hll_estimate,
        |       ex.exact_distinct
        |FROM agg a JOIN ex ON ex.source = a.source
        |ORDER BY a.source""".stripMargin
    })

  // ------------------------------------------------------------ Bloom

  /** Bloom filter geometry: m = 2^16 bits, k = 4 positions per key, all
    * four sliced from ONE md5 digest (16 hex chars = 4 × 16-bit
    * positions — the standard one-strong-hash construction; the slices
    * are disjoint digest bits, so they behave as independent uniforms).
    * One digest per probed key instead of k quarters the per-row
    * hashing on BOTH engines; at sf0.1 the end-to-end gain is inside
    * the noise floor (~1.2s both forms — the pipeline is dominated by
    * the shingle derivation and the k broadcast builds, PLANS.md), but
    * per-row hashing is the term that grows with the corpus. At 5%
    * benchmark share of a 27k-shingle corpus the set fraction is
    * ~8.5%, so the false-positive rate is ~0.085^4 ≈ 5e-5. */
  private val BloomK = 4

  /** The shared digest; position i is hex chars [4i+1, 4i+4]. */
  private def bloomDigest(key: Column): Column =
    md5(concat(lit("B:"), key).cast("binary"))

  private def bloomPos(i: Int, digest: Column): Column =
    conv(substring(digest, 4 * i + 1, 4), 16, 10).cast("long")

  private def bloomPosSql(i: Int, digest: String): String =
    s"CAST(('0x' || substr($digest, ${4 * i + 1}, 4)) AS BIGINT)"

  private def bloomDigestSql(key: String): String = s"md5('B:' || $key)"

  /** Bloom-prefiltered benchmark decontamination — [[TextDedup.t15]]'s
    * exact contract (corpus docs sharing >= 5 distinct 3-token shingles
    * with any benchmark doc) computed the way a 100 TB deployment does:
    * the benchmark shingle set is compressed to a Bloom filter and the
    * corpus probes THAT before the exact join. Correctness is structural:
    * a Bloom filter has NO false negatives (every true benchmark shingle
    * passes), and false positives die in the exact verification join —
    * so the output is row-identical to t15 (pinned in SketchesSpec, and
    * the gate oracle replicates the Bloom pipeline position-by-position
    * so both engines run the same computation).
    *
    * Scale: t15 broadcasts the benchmark SHINGLE STRINGS — fine for one
    * eval suite, linear in its size. The Bloom filter broadcasts
    * O(m bits) = fixed 64Ki positions REGARDLESS of benchmark size (and
    * or-merges across benchmark shards); the corpus side still never
    * shuffles for the probe (broadcast join on position), and only
    * filter survivors — true contaminations plus a ~5e-5 sliver — reach
    * the string join. */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = TextDedup.shingleIndex(s, d)
    // the benchmark slice is materialized ONCE (localCheckpoint; tiny —
    // the eval-set shingles; freed by Lifecycle.release): three
    // consumers (the bits derivation and per-semi-join broadcast builds,
    // plus the final verification broadcast) would otherwise each re-run
    // the scan + kernel over the slice (measured 1.6s -> 1.2s at sf0.1)
    val bench = sh.filter(col("doc_id") % 20 === 7)
      .select(col("doc_id").as("bench_id"), col("shingle"))
      .localCheckpoint()
    // the filter: distinct set bit positions of the benchmark shingles
    val bits = bench
      .withColumn("dg", bloomDigest(col("shingle")))
      .select(explode(array((0 until BloomK).map(i =>
        bloomPos(i, col("dg"))): _*)).as("pos"))
      .distinct()
    // probe: a shingle survives iff ALL k of its positions are set.
    // The set positions live in [0, 2^16), so the whole filter is a
    // 65536-bit / 1024-word bitset — materialized once on the driver
    // (an 8 KB SKETCH, not data: the same aggregate-then-inline move
    // Spark's own InjectRuntimeFilter makes with its bloom aggregate)
    // and inlined as a plan-literal array probed with element_at +
    // bit_get inside one whole-stage-codegen filter. This replaced k=4
    // chained broadcast LEFT SEMI joins. Measured HONESTLY (r12 A/B at
    // sf0.1, min-of-3): 1.18s -> 1.17s — FLAT, because the query's cost
    // is the shingle kernel + exact-verify join, not the probe (the
    // semi joins were already pipelined broadcasts; the earlier
    // exploded join+HAVING form was the expensive one at 1.7s). Kept
    // anyway for the plan structure: four broadcast exchanges + hash
    // relations (64k entries each, built per executor) collapse into
    // an 8 KB task-closure constant and four shift-and-test
    // instructions — strictly less to build, ship, and schedule on a
    // 1000-executor cluster, with identical output.
    val words = new Array[Long](1 << 10)
    bits.collect().foreach { r =>
      val p = r.getLong(0)
      words((p >> 6).toInt) |= 1L << (p & 63)
    }
    var surv = sh.filter(col("doc_id") % 20 =!= 7)
      .withColumn("dg", bloomDigest(col("shingle")))
      .withColumn("bw", typedLit(words.toIndexedSeq))
    (0 until BloomK).foreach { i =>
      surv = surv.withColumn(s"p$i", bloomPos(i, col("dg")))
    }
    surv = surv.filter(expr((0 until BloomK).map(i =>
        s"bit_get(element_at(bw, CAST(shiftrightunsigned(p$i, 6) AS INT) + 1), " +
          s"CAST(p$i & 63 AS INT)) = 1").mkString(" AND ")))
      .drop("bw")
    // exact verification join on the surviving sliver only
    surv.join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  val sk03 = QueryDef(
    "sk03_bloom_decon",
    (s, d) => bloomDecontaminate(s, d),
    Some {
      s"""${TextDedup.ShingleCte},
        |bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 20 = 7),
        |corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 7),
        |bits AS (
        |  SELECT DISTINCT pos FROM (
        |    SELECT unnest([${(0 until BloomK)
                  .map(i => bloomPosSql(i, "dg")).mkString(", ")}]) AS pos
        |    FROM (SELECT ${bloomDigestSql("shingle")} AS dg FROM bench))
        |),
        |probe AS (
        |  -- ONE digest per corpus shingle; the four positions are
        |  -- slices of it, materialized BEFORE the joins so they
        |  -- hash-join as plain columns
        |  SELECT doc_id, shingle, ${(0 until BloomK)
              .map(i => s"${bloomPosSql(i, "dg")} AS p$i").mkString(", ")}
        |  FROM (SELECT doc_id, shingle, ${bloomDigestSql("shingle")} AS dg
        |        FROM corpus)
        |),
        |survivors AS (
        |  SELECT p.doc_id, p.shingle FROM probe p
        |  ${(0 until BloomK).map(i =>
             s"JOIN bits b$i ON b$i.pos = p.p$i").mkString(" ")}
        |)
        |SELECT s.doc_id, b.bench_id, COUNT(*) AS n_shared
        |FROM survivors s JOIN bench b ON s.shingle = b.shingle
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |ORDER BY doc_id, bench_id""".stripMargin
    })

  // ------------------------------------------------------ quantile hist

  /** Histogram bin width (chars) for the length-quantile sketch. */
  private val QBinWidth = 64
  /** Quantiles reported, as integer percents — integer arithmetic end to
    * end, so the target rank `ceil(p·n/100) = (p·n + 99) div 100` is
    * bit-identical across engines (a 0.99 double/decimal literal is NOT:
    * DuckDB parses it as exact DECIMAL, Spark as binary double). */
  private val QPercents = Seq(50, 90, 99)

  /** The per-language length histogram — the sketch itself. MERGEABLE:
    * (lang, bin) counts from disjoint corpus slices combine by sum
    * (pinned in SketchesSpec). O(langs × bins) rows regardless of corpus
    * size; the groupBy partial-aggregates map-side, so the exchange
    * carries at most the bin count per partition. */
  private[operators] def lengthHistogram(docsDf: DataFrame): DataFrame =
    docsDf
      .groupBy(col("lang"), expr(s"n_chars DIV $QBinWidth").as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-language length-quantile estimation from the mergeable
    * histogram, with the exact rank-quantile side by side — the
    * distribution tracker a corpus pipeline runs per source/snapshot
    * (are documents getting shorter? did a filter shift p99?) where an
    * exact per-key sort of 100 TB is not a job you schedule.
    *
    * Estimate: the first bin whose running count reaches the target rank
    * contains the exact quantile, so `est_hi` (that bin's inclusive
    * upper bound) is within one bin width above the truth —
    * `est_hi − (QBinWidth−1) <= exact <= est_hi`, pinned in
    * SketchesSpec. Exact side: rank-based (percentile_disc semantics,
    * `doc_id` tiebreak) — no cross-engine interpolation drift; at
    * production scale the exact side is dropped and the sketch answers
    * alone, merged across slices — or, when an exact audit IS required,
    * computed by [[lengthQuantilesGuided]] instead of this per-key sort. */
  def lengthQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dd = graft.Tables.documents(s, d)
    val hist = lengthHistogram(dd)
    val n = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
    val cum = hist.withColumn("run",
      sum(col("cnt")).over(Window.partitionBy(col("lang")).orderBy(col("bin"))))
    val tgt = n.crossJoin(broadcast(QPercents.toDF("p")))
      .withColumn("target", expr("(p * n + 99) DIV 100"))
    val est = tgt.join(cum, Seq("lang"))
      .filter(col("run") >= col("target"))
      .groupBy(col("lang"), col("p")).agg(min(col("bin")).as("ebin"))
      .withColumn("est_hi", (col("ebin") + 1) * QBinWidth - 1)
    val rk = dd.select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))))
      .drop(col("doc_id"))
    val exact = tgt.join(rk, Seq("lang"))
      .filter(col("rn") >= col("target"))
      .groupBy(col("lang"), col("p")).agg(min(col("n_chars")).as("exact"))
    est.join(exact, Seq("lang", "p"))
      .select(col("lang"), col("p"), col("est_hi"), col("exact"))
      .orderBy(col("lang"), col("p"))
  }

  /** HISTOGRAM-GUIDED exact selection — the 100 TB form of the exact
    * side of [[lengthQuantiles]] (result-identical, pinned in
    * SketchesSpec). The cumulative histogram pins the bin containing
    * each target rank, so only rows inside those ≤|percents| bins per
    * language are ranked: the global `target`-th smallest equals the
    * `(target − rows-below-bin)`-th smallest within its bin, because
    * bins partition the value domain. A per-key TOTAL sort of the corpus
    * (the [[lengthQuantiles]] exact side — unschedulable at 100 TB)
    * becomes one O(langs×bins) histogram plus a re-scan behind a
    * broadcast candidate-bin semi-join and a window over candidate rows
    * only; degenerate worst case (all rows in one bin) degrades to the
    * sort it replaced. NOT the bench path: at sf0.1 the longer stage
    * chain (histogram → candidate bins → broadcast → re-scan) measures
    * 1.27s vs 0.73s for the plain sort — the crossover needs per-key
    * data that dwarfs the candidate bins (PLANS.md, round-8 audit). */
  def lengthQuantilesGuided(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dd = graft.Tables.documents(s, d)
    val hist = lengthHistogram(dd)
    val n = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
    val cum = hist.withColumn("run",
      sum(col("cnt")).over(Window.partitionBy(col("lang")).orderBy(col("bin"))))
    val tgt = n.crossJoin(broadcast(QPercents.toDF("p")))
      .withColumn("target", expr("(p * n + 99) DIV 100"))
    // per (lang, p): the bin holding the target rank, rows strictly
    // below it, and the within-bin rank k of the quantile row
    val qb = tgt.join(cum, Seq("lang"))
      .filter(col("run") >= col("target"))
      .groupBy(col("lang"), col("p"), col("target"))
      .agg(min(col("bin")).as("ebin"))
      .join(cum.select(col("lang"), col("bin").as("ebin"),
        (col("run") - col("cnt")).as("below")), Seq("lang", "ebin"))
      .withColumn("k", col("target") - col("below"))
    val est = qb.withColumn("est_hi", (col("ebin") + 1) * QBinWidth - 1)
      .select(col("lang"), col("p"), col("est_hi"))
    val candBins = qb.select(col("lang"), col("ebin").as("bin")).distinct()
    val rkIn = dd.select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("bin", expr(s"n_chars DIV $QBinWidth"))
      .join(broadcast(candBins), Seq("lang", "bin"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"), col("bin"))
          .orderBy(col("n_chars"), col("doc_id"))))
      .select(col("lang"), col("bin").as("ebin"), col("n_chars"), col("rn"))
    val exact = qb.join(rkIn, Seq("lang", "ebin"))
      .filter(col("rn") >= col("k"))
      .groupBy(col("lang"), col("p")).agg(min(col("n_chars")).as("exact"))
    est.join(exact, Seq("lang", "p"))
      .select(col("lang"), col("p"), col("est_hi"), col("exact"))
      .orderBy(col("lang"), col("p"))
  }

  val sk04 = QueryDef(
    "sk04_quantile_hist",
    (s, d) => lengthQuantiles(s, d),
    Some(s"""WITH h AS (
      |  SELECT lang, n_chars // $QBinWidth AS bin, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2
      |),
      |n AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
      |cum AS (
      |  SELECT lang, bin,
      |         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS run
      |  FROM h
      |),
      |ps AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(p)),
      |tgt AS (SELECT lang, p, (p * n + 99) // 100 AS target FROM n CROSS JOIN ps),
      |est AS (
      |  SELECT t.lang, t.p, (MIN(c.bin) + 1) * $QBinWidth - 1 AS est_hi
      |  FROM tgt t JOIN cum c ON c.lang = t.lang AND c.run >= t.target
      |  GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT lang, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
      |  FROM documents
      |),
      |ex AS (
      |  SELECT t.lang, t.p, MIN(r.n_chars) AS exact
      |  FROM tgt t JOIN rk r ON r.lang = t.lang AND r.rn >= t.target
      |  GROUP BY 1, 2
      |)
      |SELECT e.lang, e.p, e.est_hi, x.exact
      |FROM est e JOIN ex x ON x.lang = e.lang AND x.p = e.p
      |ORDER BY e.lang, e.p""".stripMargin))

  val catalog: Seq[QueryDef] = Seq(sk01, sk02, sk03, sk04, sk05)
}
