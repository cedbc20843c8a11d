package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators.IndexStore.PublishSyntax
import graft.operators.Fanout.SpreadSyntax
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline half of the engine (BASELINE.json north
  * star). All per-row logic is built-in codegen'd functions; the pairwise
  * ops are formulated as joins/aggregations so they distribute.
  *
  * Scale design (100 TB):
  *  - per-row ops (tokens/fingerprint/quality/langid) are embarrassingly
  *    parallel, no shuffle;
  *  - exact dedup is a single hash-shuffle on a 32-hex-char key — the
  *    canonical groupBy-on-digest pattern;
  *  - all-pairs Jaccard uses an inverted shingle index (join on shingle),
  *    never a cross join; still quadratic in the worst case, so the
  *    MinHash+LSH variant (t07) is the scale path: candidate generation is
  *    linear in docs × bands, and only candidates are exactly verified;
  *  - SimHash (t08) compresses each doc to one 64-bit signature — 8 bytes
  *    per document of shuffle, the cheapest near-dup signal at scale.
  */
object TextDedup {

  private[operators] val JaccardThreshold = 0.6

  /** Shared DuckDB CTE: tokenized documents (mirror of
    * [[graft.functions.TextFunctions.tokens]]). */
  private[operators] def tokCteFrom(rel: String): String =
    s"""WITH tok AS (
      |  SELECT doc_id, lang, text, n_chars,
      |         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
      |  FROM $rel
      |)""".stripMargin
  private[operators] val TokCte = tokCteFrom("documents")

  /** DuckDB CTE for distinct 3-token shingles + per-doc shingle counts.
    * `rel` swaps the corpus relation (an outer CTE such as c07's
    * live-after-retraction set), so retraction oracles re-derive the
    * whole shingle chain from scratch over the reduced corpus instead
    * of mirroring the engine's pair filter. */
  private[operators] def shingleCteFrom(rel: String): String =
    tokCteFrom(rel) + """,
      |sh AS (
      |  SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS shingle
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks)-2)) AS i FROM tok WHERE len(toks) >= 3)
      |),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)""".stripMargin
  private[operators] val ShingleCte = shingleCteFrom("documents")

  /** Exact-verified Jaccard pairs SQL (used as the oracle for BOTH the
    * inverted-index query t06 and the MinHash+LSH query t07 — the LSH
    * banding parameters are chosen so recall at the 0.6 threshold is
    * exhaustive; see minHashBands). */
  private[operators] def jaccardPairsSqlFrom(rel: String): String =
    shingleCteFrom(rel) + s""",
      |pairs AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc1, doc2, inter * 1.0 / (x.n + y.n - inter) AS jaccard
      |FROM pairs JOIN sz x ON x.doc_id = doc1 JOIN sz y ON y.doc_id = doc2
      |WHERE inter * 1.0 / (x.n + y.n - inter) >= $JaccardThreshold
      |ORDER BY doc1, doc2""".stripMargin
  private[operators] val JaccardPairsSql = jaccardPairsSqlFrom("documents")

  /** The keep-mask DOMINATOR calculus as DuckDB CTEs — `und`
    * (symmetrized pair endpoints) + `dom` (batch docs dominated by a
    * non-batch partner or an earlier batch id), over caller-provided
    * `jp` and `batch` CTEs. The ONE oracle body for every
    * [[dedupKeepMask]] consumer (t25, c04, c06, c07, st08) — five
    * byte-identical copies would let a tiebreak fix desynchronize one
    * gate's oracle from the shipped calculus (r16 review). */
  /** [[KeepDomCtes]] generalized: CTE names and the batch-membership
    * predicate are parameters, so a gate whose batch is NOT the
    * doc_id%10==7 fixture slice (c08's per-night batches) instantiates
    * the SAME calculus instead of inlining a copy that a tiebreak fix
    * could silently miss (r17 review finding — the exact drift class
    * this constant exists to prevent). */
  private[operators] def keepDomCtesFor(und: String, dom: String, jp: String,
      batch: String, batchCond: String => String): String =
    s"""$und AS (SELECT doc1 AS b, doc2 AS partner FROM $jp
      |        UNION ALL SELECT doc2 AS b, doc1 AS partner FROM $jp),
      |$dom AS (
      |  SELECT DISTINCT b AS doc_id FROM $und JOIN $batch ON $und.b = $batch.doc_id
      |  WHERE NOT (${batchCond("partner")}) OR partner < b)""".stripMargin

  private[operators] val KeepDomCtes: String =
    keepDomCtesFor("und", "dom", "jp", "batch", c => s"$c % 10 = 7")

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** (doc_id, shingle) exploded distinct shingle index, via the native
    * one-pass [[graft.functions.ShingleSet]] kernel (byte-identical to
    * the `shingles3(tokens(text))` HOF chain — pinned in
    * TextExpressionsSpec — and ~1.5x faster end-to-end on t06: 1.63s ->
    * 1.10s at sf0.1). Being a single opaque expression it also needs no
    * protective exchange between tokenize and shingle (the HOF form did,
    * or CollapseProject re-ran the tokenizer per element — PLANS.md).
    * The repartition that remains is parallelism only: a small
    * single-file scan would pin the whole per-row pipeline to one task
    * (measured 4.7s -> 0.2s at sf0.1); at 100 TB the scan's file splits
    * provide this naturally. */
  private[graft] def shingleIndex(s: SparkSession, d: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    docs(s, d)
      .spreadByBytes
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"))).as("shingle"))
  }

  /** Exact Jaccard >= threshold on candidate pairs given a (doc1, doc2)
    * candidate DataFrame, over an explicit (doc_id, text) source frame —
    * the frame-generic core behind [[verifyJaccard]] and the
    * [[dedupNearPairs]] façade. Joins the per-doc shingle sets (one row
    * per doc — broadcastable at moderate doc counts; at extreme scale
    * replace with a semi-join back into the index). */
  private[graft] def verifyJaccardOf(src: DataFrame, cand: DataFrame,
      estSetsBytes: Long = -1L): DataFrame = {
    val s = src.sparkSession
    graft.functions.TextExpressions.register(s)
    val sets = src
      .spreadByBytes // parallelism (see shingleIndex)
      .select(col("doc_id"), call_function("graft_shingles", col("text")).as("sh"))
    // (measured: caching this is slower than recomputing both branches —
    // columnar-cache materialization breaks codegen fusion. The native
    // kernel is also immune to the old filter-pushdown substitution trap,
    // but a `size(sh) > 0` filter stays redundant: shingle-less docs
    // never appear in candidates.)
    // The planner must NEVER size this join from its own stats: the
    // sets side is CORPUS-SIZED in the worst case (one shingle-set row
    // per doc, text-derived arrays), and a doc_id-modulo filter
    // upstream (the ring's presentAt) stacks selectivity estimates
    // until Catalyst broadcasts it — observed in night 0's plan at
    // 125k docs: BOTH sets sides planned as 100k-row text-payload
    // broadcast relations (r15, PLANS.md). At a starved heap or real
    // scale that build is an OOM, not a slowdown. So the pin is
    // SIZE-GATED by the ONE tier calculus ([[IndexStore.tieredHint]],
    // shared with the media family's 64-bit matcher): a caller that can
    // price the sets side from the corpus's MEASURED bytes passes
    // `estSetsBytes`; below the session broadcast cap the join is an
    // explicit broadcast (unconditional SHUFFLE_HASH cost t34 1.34 s vs
    // 0.97 s, c04 1.48 s vs 1.08 s at sf0.1, r16); past the cap,
    // SHUFFLE_HASH only while the build PROVABLY fits (SHJ builds cannot
    // spill — the r16 2 GB failure); past that bound — or when the
    // caller cannot bound the frame at all (the façades' -1) —
    // sort-merge, the only unconditionally spill-safe shape. Never a
    // stats gamble.
    def pin(df: DataFrame): DataFrame = IndexStore.tieredHint(s, df, estSetsBytes)
    val s1 = pin(sets.select(col("doc_id").as("doc1"), col("sh").as("sh1")))
    val s2 = pin(sets.select(col("doc_id").as("doc2"), col("sh").as("sh2")))
    cand.join(s1, "doc1").join(s2, "doc2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
    // UNORDERED: gate entries order at the QueryDef boundary. A trailing
    // orderBy here survives as a Sort+Exchange INSIDE composed plans
    // (c04's union — EliminateSorts does not reach under Union) and is
    // wasted work for every index write.
  }

  /** In-memory expansion of a doc's shingle-set row over its share of
    * the compressed parquet text: long-array shingles ≈ 8 B/token vs
    * ~5 B/token snappy text, plus row/array overhead — ×4 upper-bounds
    * it comfortably (sf0.1: 0.6 MB parquet → ~2.4 MB est vs ~2 MB
    * actual broadcast). Overestimating is the SAFE direction: it can
    * only push the join toward SHUFFLE_HASH. */
  private val SetsExpandFactor = 4L

  /** [[verifyJaccardOf]]'s sets-side price for a corpus at `d` — the
    * table's MEASURED bytes, never planner stats. The full table even
    * when the caller verifies a filtered slice (presentAt, the delta's
    * candidate neighborhood): an upper bound stays memory-safe. */
  private def setsBytesFor(d: String): Long = {
    val b = IndexStore.corpusStats(d, "documents")._1
    if (b < 0) -1L else b * SetsExpandFactor
  }

  private[graft] def verifyJaccard(s: SparkSession, d: String, cand: DataFrame): DataFrame =
    verifyJaccardOf(docs(s, d), cand, setsBytesFor(d))

  /** Measured average bytes/doc for the corpus at `d` — listing bytes /
    * parquet-footer rows, no Spark job. -1 when either listing degrades
    * (callers then keep the full-table sets-side bound). */
  private def avgDocBytesFor(d: String): Long = {
    val (b, r) = IndexStore.corpusStats(d, "documents")
    if (b <= 0 || r <= 0) -1L else math.max(b / r, 1L)
  }

  // ---------------------------------------------------------------- catalog

  /** Token counting: whitespace tokens + a regex word-ish count
    * (BPE-ish lower bound) + source n_chars. */
  val t01 = QueryDef(
    "t01_token_count",
    (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+")).as("n_wordish"),
        col("n_chars"))
        .orderBy(col("doc_id")),
    Some(TokCte + """
      |SELECT doc_id, len(toks) AS n_tokens,
      |       len(regexp_extract_all(lower(text), '[a-z]+')) AS n_wordish,
      |       n_chars
      |FROM tok ORDER BY doc_id""".stripMargin))

  /** Document fingerprinting: md5 of whitespace-normalized text. */
  val t02 = QueryDef(
    "t02_fingerprint",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |       md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** DuckDB mirror of [[graft.functions.TextFunctions.qualityScore]] over
    * a `toks` list column — shared by t03 and the percentile curation cut
    * (Corpus.t13), so the two oracles can never drift apart. */
  private[operators] val QualitySql =
    """CASE WHEN len(toks) = 0 THEN 0.0 ELSE
      |       0.3 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
      |     + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |     + 0.2 * (1.0 - CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is'))) AS DOUBLE) / len(toks))
      |     + 0.2 * least(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) / 5.0, 1.0)
      |       END""".stripMargin

  /** Quality scoring: volume, diversity, stopword balance, token length.
    * One fused token pass (native textStats). */
  val t03 = QueryDef(
    "t03_quality_score",
    (s, d) => {
      val st = textStats(col("text"))
      docs(s, d)
        .select(col("doc_id"), st.getField("n_tokens").as("n_tokens"),
          st.getField("quality").as("quality"))
        .orderBy(col("doc_id"))
    },
    Some(TokCte + s"""
      |SELECT doc_id, len(toks) AS n_tokens,
      |       $QualitySql AS quality
      |FROM tok ORDER BY doc_id""".stripMargin))

  /** Language identification by marker-stopword scoring (fused native
    * textStats pass). */
  val t04 = QueryDef(
    "t04_langid",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          textStats(col("text")).getField("pred_lang").as("pred_lang"))
        .withColumn("is_match", col("pred_lang") === col("lang"))
        .orderBy(col("doc_id")),
    Some(TokCte + """
      |SELECT doc_id, lang, pred_lang, (pred_lang = lang) AS is_match FROM (
      |  SELECT doc_id, lang,
      |         CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
      |              WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
      |              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
      |              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
      |              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
      |              ELSE 'es' END AS pred_lang
      |  FROM (
      |    SELECT doc_id, lang, text,
      |           len(list_filter(toks, t -> t IN ('the','a','of','and','is'))) AS s_en,
      |           len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS s_de,
      |           len(list_filter(toks, t -> t IN ('le','la','les','et','est'))) AS s_fr,
      |           len(list_filter(toks, t -> t IN ('el','los','las','y','es'))) AS s_es
      |    FROM tok))
      |ORDER BY doc_id""".stripMargin))

  /** Exact deduplication: hash-groupBy on the md5 fingerprint; keeps the
    * lowest doc_id as the canonical representative. */
  val t05 = QueryDef(
    "t05_dedup_exact",
    (s, d) =>
      docs(s, d)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy(col("fp")),
    Some("""SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
           |       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
           |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin))

  /** N-gram Jaccard near-dup pairs via an inverted shingle index — exact,
    * no cross join: docs only meet if they share a shingle.
    *
    * The catalog entry runs the STATS-GATED plan: the skew escape
    * engages automatically when corpus df stats cross [[HotShingleDf]]
    * and the plan degrades to the direct self-join when they don't (AQE
    * collapses the empty-broadcast semi/anti joins). The hot set comes
    * from the PERSISTED [[HotShingleProfile]] (first run per corpus
    * fingerprint profiles and publishes; every later run reads the tiny
    * — usually empty — set and pays ~nothing for the gate: measured
    * 1.55s inline-profile vs 1.06s persisted vs 1.01s ungated direct at
    * sf0.1, min-of-3). [[jaccardPairsHatched]] keeps the inline-profile
    * form; [[jaccardPairsDirect]] survives as the identity-pin reference
    * (OperatorsSpec) and the SKEW comparison baseline (PLANS.md). */
  val t06 = QueryDef(
    "t06_jaccard_pairs",
    (s, d) => {
      val (hot, matchable) = HotShingleProfile.ensureBoth(s, d)
      jaccardPairsOnHot(s, d, hot, matchable = Some(matchable))
    },
    Some(JaccardPairsSql))

  /** The direct (un-hatched) inverted-index self-join. Correct and optimal
    * when no shingle is hot; kept as the exactness reference for the
    * stats-gated default. */
  private[graft] def jaccardPairsDirect(s: SparkSession, d: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    // ONE corpus pass: graft_shingles_n stamps the per-doc distinct
    // count on every generator element, so the jaccard denominator
    // needs no separate sz aggregate over a recomputed index (the
    // previous shape; 1.30s -> 0.98s at sf0.1). The count must ride
    // the GENERATOR OUTPUT: a computed column projected across the
    // explode is re-evaluated per generated row (19-22s, PLANS.md).
    // ReuseExchange dedups the self-join sides, so the kernel runs
    // once per document total; the join-group count IS the
    // intersection size because the index is distinct per doc.
    val sh = docs(s, d)
      .spreadByBytes
      .select(col("doc_id"),
        explode(call_function("graft_shingles_n", col("text"))).as("sh"))
      .select(col("doc_id"), col("sh.shingle").as("shingle"), col("sh.n").as("n"))
    val a = sh.select(col("doc_id").as("doc1"), col("n").as("n1"), col("shingle"))
      .hint("SHUFFLE_HASH")
    // SHUFFLE_HASH: the join output feeds a hash aggregate, so the
    // sort-merge join's per-partition sorts are pure waste; hashing
    // the build side instead is 0.95s -> 0.69s at sf0.1
    // (min-of-2). MEMORY FLOOR, measured (r13, starved heap): the build
    // map is per-partition and NOT spillable — per-task memory must
    // cover occurrences/shufflePartitions, or the stage dies with
    // "not enough memory to build hash map" (observed at 125k docs,
    // 6g heap, memory.fraction=0.1, 32 partitions; the SAME run
    // completes with partitions raised so builds fit). That is the
    // standard SHJ sizing rule — spark.sql.shuffle.partitions is the
    // knob a 100 TB deployment already sizes to its executors — and
    // the trade against SMJ (which spills through mis-sizing but
    // pays two sorts every run) is deliberate: this operator is a
    // scheduled index build, run with sized partitions. AQE splits
    // oversized partitions down to its advisory size as a first
    // backstop. ReuseExchange still dedups the two sides.
    val b = sh.select(col("doc_id").as("doc2"), col("n").as("n2"), col("shingle"))
      .hint("SHUFFLE_HASH")
    a.join(b, a("shingle") === b("shingle") && col("doc1") < col("doc2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("inter"), min(col("n1")).as("n1"), min(col("n2")).as("n2"))
      .withColumn("jaccard", col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** Hot-shingle escape hatch defaults: a shingle in >= [[HotShingleDf]]
    * docs routes through the blocked self-join ([[jaccardPairsHatched]]);
    * its pair fan-out is split across [[HotBlocks]] join keys. */
  private[graft] val HotShingleDf = 256
  // 32 blocks floor: with B blocks a hot shingle's pair fan-out splits
  // into B key-groups of df·(df/B) rows; at 16 the (4 hot shingles × 16)
  // = 64 groups packed unevenly over 32 reduce partitions (measured
  // maxTask 19s at df=7500 — one partition drew 4+ groups), at 32 the
  // 128 groups smooth out (maxTask ~10s, hash-packing noise). Cost of
  // more blocks is the a-side explode (occurrences × B rows) — cheap
  // against the df² fan-out it spreads.
  private[graft] val HotBlocks = 32

  /** Per-group output target for [[blocksFor]]: df²/2 pair rows per hot
    * shingle divided into ~4M-row groups keeps each salted task seconds-
    * scale regardless of how hot the key is. */
  private val HotRowsPerBlock = 4e6

  /** Adaptive block count from the PROFILED max hot df — a fixed block
    * count cannot serve both a df=7.5k key (32 groups of 1.8M) and a
    * df=100k key (32 groups of 312M: a straggler again). B =
    * ceil(maxDf²/2 / 4M), floored at [[HotBlocks]], capped at 4096 (the
    * a-side explode is occurrences × B — at the cap and df=1M that is
    * bounded by the candidate volume it spreads). Driver-side agg over
    * the hot set is safe: the set is bounded by |corpus|/HotShingleDf
    * and usually empty. Profiles persisted before the df column exist
    * degrade to the floor. */
  private[graft] def blocksForMax(maxDf: Long): Int = {
    val df = maxDf.toDouble
    math.min(4096,
      math.max(HotBlocks, math.ceil(df * df / 2 / HotRowsPerBlock).toInt))
  }

  /** ONE eager aggregate over the hot set serving every consumer of its
    * stats: (row count, shingle payload bytes, salting block count).
    * Profiles persisted before the df column existed (or an empty hot
    * set) degrade to the block floor. This is the single sizing code
    * path — [[blocksFor]] and [[jaccardPairsOnHot]] both read it, so the
    * spec-pinned helper can never drift from the plan's inline logic
    * (r14 review finding). */
  private[graft] def hotStats(hot: DataFrame): (Long, Long, Int) = {
    val st = hot.agg(count(lit(1)), sum(octet_length(col("shingle"))),
      (if (hot.columns.contains("df")) max(col("df")) else max(lit(0L)))).head()
    val nBlocks = if (st.isNullAt(2)) HotBlocks else blocksForMax(st.getLong(2))
    (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1), nBlocks)
  }

  private[graft] def blocksFor(hot: DataFrame): Int = hotStats(hot)._3

  /** t06's default plan: the inverted-index self-join with a stats-gated
    * hot-shingle escape hatch. EXACT (result-identical to
    * [[jaccardPairsDirect]] — pinned in OperatorsSpec, and checked on a
    * skew-stress corpus in PLANS.md), but skew-immune.
    *
    * A shingle shared by m docs emits m^2/2 join rows all carrying ONE
    * join key — at web scale a boilerplate shingle in 30% of a shard
    * lands the whole m^2 fan-out on one task (AQE can split a skewed
    * probe partition, but not a single key group). The hatch:
    *  1. shingle df via groupBy (the partial agg kills input skew:
    *     map-side combine reduces each partition to distinct shingles);
    *  2. hot = df >= threshold — a tiny set by construction, broadcast;
    *  3. cold rows self-join directly (one key per shingle, as t06);
    *  4. hot rows block-join: the left side is replicated once per block
    *     j in [0, B), the right side joins on (shingle, j = hash(doc2) %
    *     B) — each (doc1, doc2) pair matches EXACTLY once (at j =
    *     b2), so the union of cold and hot pair streams aggregates to
    *     the same inter counts, while the hot key group's fan-out is
    *     spread over B keys (per-key output m^2/B, build side m/B).
    *  5. per-pair intersections from both streams combine in ONE
    *     groupBy(doc1, doc2).
    *
    * Why this is the DEFAULT (r10): at 100x the corpus a single
    * boilerplate shingle puts the m^2/2 fan-out on one task and no
    * runtime mechanism can split it after the fact — the engine must
    * flip itself on observed df stats, not wait for a deployment to.
    * The gate corpus has max df = 25 at sf0.1 (measured histogram in
    * PLANS.md), so here the hot set is empty and the hatch degrades to
    * the direct plan plus the df-profile pass: AQE sees the empty hot
    * broadcast, rewrites the semi join to an empty relation (killing
    * the whole hot branch, kernel included) and the anti join to its
    * stream side. Measured cost of the gate at sf0.1: within noise of
    * the direct plan (PLANS.md r10). */
  private[graft] def jaccardPairsHatched(
      s: SparkSession, d: String,
      hotDf: Int = HotShingleDf, blocks: Int = -1): DataFrame = {
    // localCheckpoint: jaccardPairsOnHot's broadcast gate PROBES the hot
    // frame eagerly (one tiny agg) before the join consumes it — an
    // uncached profile aggregate would run its full corpus pass twice.
    // The persisted-profile catalog path reads parquet (cheap either
    // way); this inline variant materializes once. Blocks are freed by
    // Lifecycle.release like every other checkpoint.
    val hot = shingleFrame(s, d).groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= hotDf).select(col("shingle"), col("df"))
      .localCheckpoint()
    jaccardPairsOnHot(s, d, hot, blocks)
  }

  /** The (doc_id, shingle, n) inverted-index frame both hatched forms
    * share — n is the per-doc distinct count stamped by the generator
    * (see [[jaccardPairsDirect]] for why it must ride the generator
    * output). */
  private[graft] def shingleFrame(s: SparkSession, d: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    docs(s, d)
      .spreadByBytes
      .select(col("doc_id"),
        explode(call_function("graft_shingles_n", col("text"))).as("sh"))
      .select(col("doc_id"), col("sh.shingle").as("shingle"), col("sh.n").as("n"))
  }

  /** Persisted shingle-stats profile — the ANALYZE-stats analog for the
    * near-dup path, two artifacts from one df aggregate:
    *  - `hot` (df >= [[HotShingleDf]]): usually EMPTY at gate scale,
    *    ALWAYS tiny (bounded by |corpus| / df-threshold) — safe to
    *    broadcast unconditionally;
    *  - `matchable` (df >= 2): sheds the df=1 majority from the pair
    *    join; NOT bounded — it tracks the corpus's duplicate
    *    vocabulary, so consumers must let Catalyst's size statistics
    *    pick broadcast vs shuffled semi-join (the parquet scan carries
    *    them; jaccardPairsOnHot deliberately does not hint it).
    * Both pass the materialize-once calculus the raw posting list fails
    * (NEGATIVE note above): small artifacts whose derivation is a full
    * corpus pass. A deployment refreshes them with each corpus snapshot
    * exactly like its other table stats; every t06 run then plans skew
    * dispatch and the dead-input shed from the persisted profile
    * instead of re-profiling the corpus. */
  object HotShingleProfile {
    private[operators] def indexDirFor(d: String, hotDf: Int): String =
      IndexStore.stateDir("hotsh_l1", d, "documents", s"_df$hotDf")

    /** Persist BOTH stats artifacts from ONE df aggregate: `hot`
      * (df >= hotDf, the skew-hatch routing set) and `matchable`
      * (df >= 2 — the only shingles that can ever produce a cross-doc
      * pair; df=1 dominates real corpora, so the pair join semi-joins
      * against this to shed dead input, the t32 prefilter applied via
      * the persisted profile at zero per-run aggregate cost). The
      * completion marker is matchable's, so profiles persisted before
      * this artifact existed rebuild once. */
    def ensureBoth(s: SparkSession, d: String,
        hotDf: Int = HotShingleDf): (DataFrame, DataFrame) = {
      val dir = IndexStore.ensure(indexDirFor(d, hotDf), "matchable/_SUCCESS") { tmp =>
        val df = shingleFrame(s, d)
          .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .localCheckpoint() // one aggregate feeds both artifacts
        // hot keeps its df: [[blocksFor]] sizes the salting from the
        // profiled max (the r14 adaptive-blocks change; layout salt l1)
        df.filter(col("df") >= hotDf).select(col("shingle"), col("df"))
          .publishTo(s"$tmp/hot")
        df.filter(col("df") >= 2).select(col("shingle"))
          .publishTo(s"$tmp/matchable")
      }
      (s.read.parquet(s"$dir/hot"), s.read.parquet(s"$dir/matchable"))
    }

  }

  /** The hatched join plan against an externally supplied hot-shingle
    * set (inline-profiled by [[jaccardPairsHatched]], persisted by
    * [[HotShingleProfile]] for the catalog default). */
  private[graft] def jaccardPairsOnHot(
      s: SparkSession, d: String, hot: DataFrame,
      blocks: Int = -1, // <= 0: adaptive from the hot set's df ([[blocksFor]])
      matchable: Option[DataFrame] = None): DataFrame = {
    // ONE combined eager stats pass over the hot set serves both the
    // broadcast gate and the adaptive block sizing (two separate
    // driver-blocking jobs otherwise — r14 review). Empty set: count 0,
    // null sums → estimate 0 (broadcasts) and the block floor.
    val (hotRowsN, hotPayload, statBlocks) = hotStats(hot)
    val nBlocks = if (blocks > 0) blocks else statBlocks
    val hotEst = IndexStore.estimateBytes(hotRowsN, hotPayload)
    // the df column has done its job (block sizing above); project it
    // away so the broadcast relation / join side carries only the
    // shingle key — 8 dead bytes per row otherwise (r14 review)
    val hotKeys = hot.select(col("shingle"))
    val raw = shingleFrame(s, d)
    // optional matchable prefilter (df >= 2, from the persisted profile):
    // df=1 shingles can never produce a cross-doc pair, so dropping them
    // before the self-join is value-neutral and sheds the dominant share
    // of a real corpus's index. n (the jaccard denominator) is stamped
    // per element from the FULL per-doc shingle count, so filtering rows
    // cannot perturb it. Broadcast is gated on MEASURED bytes
    // ([[IndexStore.broadcastIfFits]]): matchable grows with the
    // corpus's duplicate vocabulary, and Catalyst's own stats gate
    // under-states string-heavy sets (compressed parquet size) — the
    // r13 starved-heap run killed this exact join through a
    // planner-chosen broadcast before this gate existed. Past the cap
    // the semi-join runs SHUFFLE_HASH (the hint also SUPPRESSES the
    // planner's stats-based broadcast) — still O(occurrences), never a
    // failure. Same gate for `hot`: bounded by |corpus|/HotShingleDf
    // so it virtually always broadcasts, but "virtually" is not a
    // memory-safety argument.
    val sh = matchable.fold(raw) { m =>
      val mSide = IndexStore.broadcastIfFits(s, m,
        octet_length(col("shingle")))(_.hint("SHUFFLE_HASH"))
      raw.join(mSide, Seq("shingle"), "left_semi")
    }
    val hotSide = IndexStore.broadcastIfFitsPre(s, hotKeys, hotEst)(
      _.hint("SHUFFLE_HASH"))
    val cold = sh.join(hotSide, Seq("shingle"), "left_anti")
    val hotRows = sh.join(hotSide, Seq("shingle"), "left_semi")
    val coldPairs = {
      val a = cold.select(col("doc_id").as("doc1"), col("n").as("n1"), col("shingle"))
      val b = cold.select(col("doc_id").as("doc2"), col("n").as("n2"), col("shingle"))
        .hint("SHUFFLE_HASH")
      a.join(b, a("shingle") === b("shingle") && col("doc1") < col("doc2"))
        .select(col("doc1"), col("doc2"), col("n1"), col("n2"))
    }
    val hotPairs = {
      // The explicit fixed-N repartition is the TEETH of the salting —
      // two planner behaviors silently collapse it otherwise (both
      // measured at df=7500, PLANS.md SKEW-DEEP):
      //  1. without any redistribution the planner broadcasts the small
      //     b-side and REUSES the shingle-partitioned exchange for `a`,
      //     so the whole hot fan-out is produced on the few unsalted
      //     shingle partitions (hatched maxTask 35.7s == direct's
      //     34.5s straggler — salting reduced to a join predicate);
      //  2. a SHUFFLE_HASH hint does exchange on (shingle, block), but
      //     AQE's BYTE-based coalescing then folds the ~25 MB salted
      //     shuffle into ONE partition — it cannot see the join's 234x
      //     output amplification (maxTask 83.8s, worse than unhatched).
      // A user repartition with an explicit partition count is exempt
      // from AQE coalescing, pins the distribution on the FULL salted
      // key, and lets the planner broadcast the tiny b-side over it —
      // no b-side shuffle at all (maxTask 34.5s -> 3.6s).
      val a = hotRows
        .select(col("doc_id").as("doc1"), col("n").as("n1"), col("shingle"),
          explode(lit((0 until nBlocks).toArray)).as("j"))
        .repartition(s.sparkContext.defaultParallelism,
          col("shingle"), col("j"))
      val b = hotRows.select(col("doc_id").as("doc2"), col("n").as("n2"), col("shingle"),
        pmod(xxhash64(col("doc_id")), lit(nBlocks.toLong)).as("b2"))
      a.join(b, a("shingle") === b("shingle") && col("j") === col("b2") &&
          col("doc1") < col("doc2"))
        .select(col("doc1"), col("doc2"), col("n1"), col("n2"))
    }
    coldPairs.unionByName(hotPairs)
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("inter"), min(col("n1")).as("n1"), min(col("n2")).as("n2"))
      .withColumn("jaccard", col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
      .orderBy(col("doc1"), col("doc2"))
  }

  // MinHash parameters: 64 permutations in 32 bands of 2 rows. Miss
  // probability for a pair at the 0.6 threshold is (1 - 0.6^2)^32 ~= 6e-7,
  // and candidates are exactly verified — so the output equals the exact
  // inverted-index result (t06) and shares its oracle.
  private val NumHashes = 64

  /** MinHash signatures: one row per doc, NumHashes min-aggregates over
    * per-permutation re-hashes of the shingle hash.
    *
    * Each permutation is `xxhash64(j, h)` — full-avalanche mixing of the
    * permutation index with the base hash. The textbook
    * `(a_j*h + b_j) mod p` family is a TRAP here: under ANSI arithmetic
    * the products wrap the 2^61-1 prime at most once, so every "permutation"
    * is quasi-monotonic in h — effectively ONE permutation repeated 64
    * times — and a near-dup pair whose unique shingle holds the minimum h
    * misses ALL bands (~2% of 0.99-jaccard pairs in the 20k-doc scale
    * test; caught by the exact-twin cross-check, fixed by this rehash). */
  private[graft] def minHashSignature(s: SparkSession, d: String): DataFrame = {
    val mins = (0 until NumHashes).map { j =>
      min(xxhash64(lit(j), col("h"))).as(s"mh$j")
    }
    shingleIndex(s, d)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding near-dup pairs, exact-verified. The scale path:
    * candidate generation shuffles O(docs x bands) rows, never all pairs.
    * Signatures come from the per-row [[graft.functions.MinHashBands]]
    * kernel (same XXH64 statics/seed/fold order as the xxhash64
    * aggregate formulation it replaces — equality pinned in
    * TextExpressionsSpec), so there is no 64-column min-aggregate
    * shuffle: the only exchanges left are the band self-join (deduped by
    * ReuseExchange) and the verify joins. */
  /** (doc_id, band_idx, band_hash) LSH band signatures for the whole
    * corpus — the ONE banding projection shared by the full build
    * ([[lshPairs]]) and the incremental maintenance step ([[t34]]), so
    * a banding change (seed, band count, kernel) can never desynchronize
    * the persisted PairIndex from its delta — the invariant
    * PairIndexDeltaSpec pins. */
  private[graft] def bandsOf(src: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val s = src.sparkSession
    graft.functions.TextExpressions.register(s)
    src
      .spreadByBytes
      .select(col("doc_id") +: carry.map(col) :+
        posexplode(call_function("graft_minhash_bands", col("text")))
          .as(Seq("band_idx", "band_hash")): _*)
  }

  private[graft] def bandsFrame(s: SparkSession, d: String): DataFrame =
    bandsOf(docs(s, d))

  /** Corpus-fingerprinted persisted band-signature table — the SigIndex
    * pattern ([[Similarity.SigIndex]]) for the text side: every doc's
    * (band_idx, band_hash) LSH assignments, a pure fixed-seed function
    * of the corpus, published once per corpus fingerprint and read by
    * the maintenance path ([[pairDelta]]) so a nightly delta never
    * re-runs the tokenize+shingle+minhash kernel over the RESIDENT
    * corpus. Publication/staleness contract: [[IndexStore]]. */
  object BandIndex {
    // _l1: layout-version salt (the SourcesStreaming.RewriteLayoutV
    // convention) — a banding change (NumHashes/rows per band/kernel seed)
    // must not be served from a warm pre-change publication
    private[graft] def indexDirFor(d: String): String =
      IndexStore.stateDir("bands_l1", d, "documents")

    def ensure(s: SparkSession, d: String): DataFrame = {
      val dir = IndexStore.ensure(indexDirFor(d), "bands/_SUCCESS") { tmp =>
        bandsFrame(s, d).publishTo(s"$tmp/bands")
      }
      s.read.parquet(s"$dir/bands")
    }
  }

  /** Above this documents.parquet size the band signatures come from the
    * persisted [[BandIndex]]; below it they are recomputed inline. The
    * inline kernel wins at gate scale (the r8 posting-list negative
    * result: a parquet round-trip of a derivation costs more than the
    * fused scan it replaces when the corpus is small), but the kernel
    * pass is CPU-∝-corpus while the persisted read is IO-∝-signatures —
    * at 125k docs the corpus-side recompute is ~the whole t34 wall
    * (PLANS.md SIG table), and at 100 TB it is a nightly full-corpus
    * pass a deployment cannot afford. 4 MiB keeps every gate SF inline
    * (sf0.1 documents = 584 KiB) and flips the deep /tmp corpora. */
  private[operators] val BandsPersistBytes = 4L * 1024 * 1024

  /** The corpus band signatures, from the persisted [[BandIndex]] or the
    * inline kernel per the size gate above. Both paths are bit-identical
    * by construction (the index IS the kernel's output, fixed seed, no
    * trained state) — pinned in PairIndexDeltaSpec. */
  private[graft] def corpusBands(s: SparkSession, d: String): DataFrame =
    if (IndexStore.corpusBytes(d, "documents") > BandsPersistBytes)
      BandIndex.ensure(s, d)
    else bandsFrame(s, d)

  /** Band self-join candidate pairs → exact verification, over an
    * explicit band frame — the ONE pairing body shared by the full build
    * ([[lshPairs]]) and the resident-only build
    * ([[DailyPairIndex]]). */
  private def lshPairsFromBands(src: DataFrame, bands: DataFrame,
      estSetsBytes: Long = -1L): DataFrame = {
    val x = bands.select(col("doc_id").as("doc1"), col("band_idx"), col("band_hash"))
    val y = bands.select(col("doc_id").as("doc2"), col("band_idx").as("bi2"), col("band_hash").as("bh2"))
    val cand = x.join(y,
        x("band_idx") === y("bi2") && x("band_hash") === y("bh2") &&
          col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2")).distinct()
    verifyJaccardOf(src, cand, estSetsBytes)
  }

  /** The LSH near-dup pipeline itself: band self-join candidates,
    * exact-verified. [[PairIndex]] persists its result; consumers
    * (t07, t11, t19) go through the index, not this. Bands come from
    * the size-gated [[corpusBands]] so a full rebuild at scale reads
    * the persisted signature table instead of re-running the kernel
    * the [[BandIndex]] already paid for (r14 review finding). */
  private[graft] def lshPairs(s: SparkSession, d: String): DataFrame =
    lshPairsFromBands(docs(s, d), corpusBands(s, d), setsBytesFor(d))

  /** Library façade: exact-verified MinHash/LSH near-dup pairs over ANY
    * DataFrame — `(doc1, doc2, jaccard)` for every pair with 3-token-
    * shingle Jaccard ≥ [[JaccardThreshold]], doc1 < doc2 under the id
    * column's own ordering (ids must be orderable and distinct). The
    * same banded pipeline the fixture gates run (t07 is exactly
    * `dedupNearPairs(documents, "doc_id", "text")` behind its persisted
    * index): candidates from the band self-join — shuffle
    * O(rows × bands), never all-pairs — then exact verification, so the
    * result equals the exact inverted-index answer (recall gate:
    * SimilarityRecallSpec). Unordered; callers sort. For repeated use
    * over one corpus, persist the result ([[PairIndex]] pattern) rather
    * than recomputing. */
  def dedupNearPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val src = df.select(col(idCol).as("doc_id"), col(textCol).cast("string").as("text"))
    lshPairsFromBands(src, bandsOf(src))
  }

  /** The delta body shared by [[pairDelta]] (fixture slice convention)
    * and the [[dedupNearPairsDelta]] façade: `freshBands`' bands probe
    * the full `bands`, candidates with ≥1 fresh endpoint are
    * exact-verified against only their own shingle sets.
    *
    * Sets-side pricing (r16 ADVICE): the verify join's sets side is
    * semi-joined down to the candidate NEIGHBORHOOD, so pricing it at
    * the whole-table bound forces the nightly path — the one that runs
    * most often — to sort-merge a side that is actually tiny and
    * broadcastable. When the caller supplies `avgDocBytes` (measured:
    * corpus bytes / footer row count, [[IndexStore.corpusRows]]), the
    * candidate set is checkpointed once (also deduplicating the band
    * probe, which otherwise appears in the plan twice via the ids
    * semi-join), its distinct endpoints counted — a metadata-cheap job
    * over the checkpoint — and the estimate becomes
    * ids × avgDocBytes × [[SetsExpandFactor]] × 2 (the ×2 guards
    * doc-length skew: duplicated docs are often long templates, and
    * an average-priced neighborhood of the corpus's longest docs
    * would underprice). Capped by the full-table bound, which remains
    * the always-safe ceiling. */
  private def bandDelta(src: DataFrame, bands: DataFrame, freshBands: DataFrame,
      estSetsBytes: Long = -1L, avgDocBytes: Long = -1L): DataFrame = {
    val fresh = freshBands
      .select(col("doc_id").as("da"), col("band_idx").as("bi"),
        col("band_hash").as("bh"))
    val corpus = bands
      .select(col("doc_id").as("db"), col("band_idx").as("bi2"),
        col("band_hash").as("bh2"))
    val cand0 = fresh.join(corpus,
        fresh("bi") === corpus("bi2") && fresh("bh") === corpus("bh2") &&
          col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc1"),
        greatest(col("da"), col("db")).as("doc2"))
      .distinct()
    val priceNeighborhood = estSetsBytes >= 0 && avgDocBytes > 0
    val cand = if (priceNeighborhood) cand0.localCheckpoint() else cand0
    // verification touches ONLY the candidate neighborhood: semi-join
    // the doc scan down to candidate endpoints BEFORE the shingle
    // kernel, so the delta's verify cost is ∝ candidates (without this
    // the verify step re-shingles the whole corpus — PLANS.md SIG).
    // Value-neutral: a doc's shingle set does not depend on which other
    // docs are examined.
    val idsU = cand.select(col("doc1").as("doc_id"))
      .unionByName(cand.select(col("doc2").as("doc_id"))).distinct()
    val est =
      if (!priceNeighborhood) estSetsBytes
      else math.min(estSetsBytes,
        idsU.count() * avgDocBytes * SetsExpandFactor * 2)
    verifyJaccardOf(src.join(idsU, Seq("doc_id"), "left_semi"), cand, est)
  }

  /** Library façade: INCREMENTAL near-dup pairs over ANY frame — exactly
    * the pairs with at least one endpoint where `isNew` holds (including
    * new-internal pairs), at O(new × bands) candidate cost, never
    * re-pairing the resident rows. Appending the result to the
    * resident-only [[dedupNearPairs]] output reconstructs the full pair
    * set bit-exactly (the t34/c04 append invariant, hash-gated there;
    * FacadeSpec pins it for this entry point). Unordered. */
  def dedupNearPairsDelta(df: DataFrame, idCol: String, textCol: String,
      isNew: Column): DataFrame = {
    // a NULL flag is a contract violation, not a resident row: silently
    // treating it as resident would drop its cross pairs from the delta
    // and break the append invariant with no signal (the snapshotDiff
    // null-semantics lesson, r14 review) — fail loudly instead
    val flag = when(isNew.isNull,
        raise_error(lit("dedupNearPairsDelta: isNew must be non-null")))
      .otherwise(isNew.cast("boolean"))
    val src = df.select(col(idCol).as("doc_id"),
      col(textCol).cast("string").as("text"), flag.as("is_new"))
    // ONE banding projection (bandsOf) shared with dedupNearPairs and
    // the gate pipelines — an inline copy here could desynchronize the
    // facade pair from a future banding change (review finding)
    val bands = bandsOf(src, carry = Seq("is_new"))
    bandDelta(src.select(col("doc_id"), col("text")),
      bands, bands.filter(col("is_new")))
  }

  /** Corpus-fingerprinted persisted near-dup pair table (doc1, doc2,
    * jaccard) — built ONCE per corpus by the [[lshPairs]] LSH pipeline
    * and read by every consumer. The pair set is THE expensive dedup
    * artifact at 100 TB; before this index the catalog ran the full LSH
    * pipeline three times per pass (t07 itself, t11's edge stream at
    * Corpus' connected components, t19's leakage audit — the round-7
    * `weak` finding). Deterministic: candidates are exactly verified, so
    * the persisted rows equal the exact inverted-index result
    * regardless of build timing. Publication/staleness contract:
    * [[IndexStore]]. */
  object PairIndex {
    private[graft] def indexDirFor(d: String): String =
      IndexStore.stateDir("pairs", d, "documents")

    /** The pair frame for corpus `d`, building + publishing first if
      * this corpus fingerprint has no index yet. Unordered — consumers
      * impose their own order. */
    def ensure(s: SparkSession, d: String): DataFrame = {
      val dir = IndexStore.ensure(indexDirFor(d), "pairs/_SUCCESS") { tmp =>
        lshPairs(s, d).publishTo(s"$tmp/pairs")
      }
      s.read.parquet(s"$dir/pairs")
    }
  }

  /** NEGATIVE RESULT (r8, measured): a [[PairIndex]]-style persisted
    * posting list for the raw (doc_id, shingle) pairs LOSES to
    * re-deriving from the source — sk03 1.26s -> 1.92s, t15 0.56s ->
    * 0.65s, sk02 0.25s -> 0.34s at sf0.1 (min-of-3, quiet window).
    * The exploded posting list is ~3x the corpus bytes, so the parquet
    * round-trip plus the re-spread exchange costs more than the fused
    * scan + shingle kernel it replaces. Materialize-once pays only
    * when the artifact is SMALLER than its derivation is expensive
    * (PairIndex: LSH + exact verify compressed to a sparse pair set);
    * raw posting lists fail that test at any scale — same calculus at
    * 100 TB, where the posting list would be ~300 TB of intermediate.
    */
  val t07 = QueryDef(
    "t07_minhash_lsh",
    (s, d) => PairIndex.ensure(s, d).orderBy(col("doc1"), col("doc2")),
    Some(JaccardPairsSql))

  /** Incremental batch dedup — the shape a DAILY ingest actually runs:
    * today's batch (doc_id % 10 == 7 stands in for the new crawl slice)
    * is deduped against the whole corpus WITHOUT re-pairing the corpus,
    * by probing the persisted near-dup pair index. A batch doc is
    * dropped iff it near-dups (Jaccard >= 0.6) a corpus-resident
    * document, or an EARLIER batch document (smaller id — so the batch
    * is also internally deduped, deterministically).
    *
    * Scale: the expensive artifact (the pair set) is built once and
    * amortized ([[PairIndex]]); the incremental query is a filter on the
    * batch plus one anti-join for the keep mask — cost proportional to
    * the batch and its pair neighborhood, not the corpus. At 100 TB with
    * a ~1% daily batch this is the difference between re-sharding the
    * corpus shingle index nightly and a bounded index probe. */
  /** Library façade: the dedup PROBE of the incremental ring — given a
    * near-dup pair frame (doc1, doc2, …) and the id set of the new
    * batch, return (doc_id, keep) for every batch id: a batch doc is
    * dropped iff it near-dups a NON-batch doc (the resident corpus
    * always wins) or an EARLIER batch doc (smaller id — so the batch is
    * also internally deduped, deterministically). Together with
    * [[dedupNearPairs]] (full build) and [[dedupNearPairsDelta]]
    * (append) this is the complete maintenance ring as DataFrame APIs.
    *
    * Scale: one semi-shape join of the symmetrized pairs against the
    * batch ids plus one hash lookup for partner-membership — cost ∝ the
    * batch's pair neighborhood, never the corpus. Unordered — callers
    * impose their order. */
  def dedupKeepMask(pairFrame: DataFrame, batchIds: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val pairs = pairFrame.select(col("doc1"), col("doc2"))
    // explicit id column (a positional columns.head would silently mask
    // over the wrong column of a multi-column frame) and distinct ids
    // (the mask contract is one row per batch id, whatever the input's
    // multiplicity)
    val batch = batchIds.select(col(idCol).as("doc_id")).distinct()
    // batch-filter each direction BEFORE the union symmetrizes: only
    // pair rows with a batch endpoint on that side survive into the
    // doubled stream, so the partner-membership join downstream sees
    // the batch's pair neighborhood, not 2x the whole index (r14
    // VERDICT slate #6 touch-up). batch is distinct, so the inner join
    // preserves pair-row multiplicity exactly.
    def endpointRows(bc: String, pc: String): DataFrame =
      pairs.join(batch.select(col("doc_id").as(bc)), Seq(bc))
        .select(col(bc).as("b"), col(pc).as("partner"))
    val und = endpointRows("doc1", "doc2")
      .unionByName(endpointRows("doc2", "doc1"))
    val inBatch = batch.select(col("doc_id").as("partner"), lit(true).as("pb"))
    val dominated = und
      .join(inBatch, Seq("partner"), "left")
      .filter(col("pb").isNull || col("partner") < col("b"))
      .select(col("b").as("doc_id")).distinct()
    batch.join(dominated.withColumn("dom", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dom").isNull.as("keep"))
  }

  /** Library façade: atomically PUBLISH a pair frame as a resident
    * state — the promotion step of the maintenance ring over ANY frame,
    * completing the API family: [[dedupNearPairs]] (build) →
    * [[dedupNearPairsDelta]] (grow) → publishPairs (promote) →
    * [[dedupKeepMask]] (probe). Rename + completeness-marker
    * publication ([[IndexStore.ensure]]): a crash mid-promotion leaves
    * the previous state serving, concurrent publishers converge on one
    * winner, and an already-published dir is NOT rewritten (promotion
    * is once per state — pass a new dir per night, the
    * [[PromotedPairIndex]] convention). Returns the PUBLISHED frame (a
    * parquet read), which is what the next night must build on. */
  def publishPairs(pairs: DataFrame, dir: String): DataFrame = {
    val s = pairs.sparkSession
    IndexStore.ensure(dir, "pairs/_SUCCESS") { tmp =>
      pairs.publishTo(s"$tmp/pairs")
    }
    s.read.parquet(s"$dir/pairs")
  }

  /** Library façade: RETRACT documents from a published pair state —
    * the DELETE arm of the maintenance ring (takedowns, opt-outs, TTL
    * expiry: the one lifecycle direction build → grow → promote → fold
    * never covers). Near-dup pairs are pairwise-independent, so
    * dropping every pair with a tombstoned endpoint yields EXACTLY the
    * pair set a from-scratch build over the reduced corpus would
    * produce — no recompute, no rebuild (the c07 gate hash-checks that
    * equivalence end to end, RetractionSpec pins it directly). A doc
    * whose only dominators were tombstoned is REINSTATED by the next
    * [[dedupKeepMask]] probe over the retracted frame.
    *
    * Scale: retraction is a metadata-sized operation — two anti-joins
    * of the pair state against a tombstone set that is tiny relative
    * to the corpus (broadcast by the planner from its true size), cost
    * ∝ pair-state scan, never corpus-shaped. Physical reclamation
    * happens for free at the next ratio-gated fold: fold the RETRACTED
    * frame ([[publishPairs]] of `retractPairs(maintained, tombs)`) and
    * the dropped rows leave the layout. */
  def retractPairs(pairFrame: DataFrame, tombstoneIds: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val t = tombstoneIds.select(col(idCol)).distinct()
    pairFrame
      .join(t.select(col(idCol).as("doc1")), Seq("doc1"), "left_anti")
      .join(t.select(col(idCol).as("doc2")), Seq("doc2"), "left_anti")
      // a using-column join floats its key to the front — restore the
      // caller's column order (a façade must not silently reorder)
      .select(pairFrame.columns.map(col).toIndexedSeq: _*)
  }

  /** t25's probe core over an EXPLICIT pair frame: [[dedupKeepMask]]
    * instantiated on the fixture's daily-slice convention
    * (doc_id % 10 == 7, shared with t34/s08). Factored so the
    * nightly-maintenance composition (c04) can probe the GROWN
    * (resident ∪ delta) index it just maintained, while t25 probes the
    * published full index. */
  private[graft] def probeKeep(s: SparkSession, d: String, pairFrame: DataFrame): DataFrame =
    dedupKeepMask(pairFrame,
      docs(s, d).filter(col("doc_id") % 10 === 7).select(col("doc_id")))

  val t25 = QueryDef(
    "t25_incremental_dedup",
    (s, d) => probeKeep(s, d, PairIndex.ensure(s, d)).orderBy(col("doc_id")),
    Some(s"""WITH jp AS ($JaccardPairsSql),
       |batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
       |${KeepDomCtes}
       |SELECT batch.doc_id, dom.doc_id IS NULL AS keep
       |FROM batch LEFT JOIN dom ON batch.doc_id = dom.doc_id
       |ORDER BY batch.doc_id""".stripMargin))

  /** 60-bit md5-derived shingle hash, computable bit-identically in
    * DuckDB (`CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`) — which is
    * what makes the whole SimHash pipeline oracle-able. 15 hex chars,
    * not 16: a full 64-bit value can exceed Long.MaxValue and the ANSI
    * cast of conv's decimal string would throw. */
  private val SimHashBits = 60
  private[graft] def shingleHash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** SimHash near-dup pairs: 60-bit signature per doc (sign of the
    * per-bit vote over md5-derived shingle hashes), candidates via
    * 16-bit chunk banding, kept when Hamming distance <= 6. The oracle
    * replicates the banding semantics exactly (a pair must share a chunk
    * AND pass the Hamming cut — 6 flipped bits can straddle all 4
    * chunks, so the chunk condition is not implied); at oracle scale an
    * all-pairs join with the same predicate is exact. Cross-validated
    * against exact Jaccard in the ScalaTest suite. */
  val t08 = QueryDef(
    "t08_simhash_pairs",
    (s, d) => {
      graft.functions.TextExpressions.register(s)
      // per-row signature kernel: no explode + 60-vote aggregate shuffle;
      // bit-parity with the aggregate formulation pinned in the spec
      val sig = docs(s, d)
        .spreadByBytes
        .select(col("doc_id"),
          call_function("graft_simhash60", col("text")).as("sig"))
        .filter(col("sig").isNotNull)
      val chunks = sig.select(col("doc_id"), col("sig"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("chunk_idx", "chunk")))
      val x = chunks.select(col("doc_id").as("doc1"), col("sig").as("sig1"), col("chunk_idx"), col("chunk"))
      val y = chunks.select(col("doc_id").as("doc2"), col("sig").as("sig2"), col("chunk_idx").as("ci2"), col("chunk").as("ch2"))
      x.join(y, x("chunk_idx") === y("ci2") && x("chunk") === y("ch2") && col("doc1") < col("doc2"))
        .select(col("doc1"), col("doc2"), col("sig1"), col("sig2")).distinct()
        .withColumn("hamming", bit_count(col("sig1").bitwiseXOR(col("sig2"))))
        .filter(col("hamming") <= 6)
        .select(col("doc1"), col("doc2"), col("hamming"))
        .orderBy(col("doc1"), col("doc2"))
    },
    Some {
      val votes = (0 until SimHashBits)
        .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
        .mkString(",\n      |         ")
      val sigBits = (0 until SimHashBits)
        .map(i => s"CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END")
        .mkString(" + ")
      val chunkEq = (0 until 4)
        .map(c => s"((a.sig >> ${c * 16}) & 65535) = ((b.sig >> ${c * 16}) & 65535)")
        .mkString(" OR ")
      s"""$ShingleCte,
      |hashed AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
      |  FROM sh
      |),
      |votes AS (
      |  SELECT doc_id,
      |         $votes
      |  FROM hashed GROUP BY doc_id
      |),
      |sig AS (SELECT doc_id, $sigBits AS sig FROM votes)
      |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
      |       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE ($chunkEq)
      |  AND bit_count(xor(a.sig, b.sig)) <= 6
      |ORDER BY doc1, doc2""".stripMargin
    })

  /** Benchmark decontamination — the train/eval hygiene pass every LLM
    * data pipeline runs: corpus documents sharing >= 5 distinct 3-token
    * shingles with any benchmark document are flagged with the overlap
    * count. The benchmark stand-in is a deterministic ~5% slice of
    * documents (doc_id % 20 == 7); a real deployment feeds the eval-set
    * table instead.
    *
    * Scale: the join is corpus-shingles x BENCHMARK-shingles — eval sets
    * are tiny relative to a 100 TB corpus, so the benchmark side
    * broadcasts and the corpus side never shuffles for the join; only
    * the per-(doc, bench) overlap count aggregates. Exactly the t06
    * inverted-index shape with one side bounded. */
  val t15 = QueryDef(
    "t15_decontamination",
    (s, d) => {
      val sh = shingleIndex(s, d)
      val bench = sh.filter(col("doc_id") % 20 === 7)
        .select(col("doc_id").as("bench_id"), col("shingle"))
      val corpus = sh.filter(col("doc_id") % 20 =!= 7)
      corpus.join(broadcast(bench), "shingle")
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy(col("doc_id"), col("bench_id"))
    },
    Some(ShingleCte + """
      |SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
      |FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 7) c
      |JOIN (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 20 = 7) b
      |  ON c.shingle = b.shingle
      |GROUP BY 1, 2 HAVING COUNT(*) >= 5
      |ORDER BY doc_id, bench_id""".stripMargin))

  /** Intra-document repetition ratio — the repeated-n-gram quality
    * signal (the Gopher/C4-style filter): 1 - distinct/total 3-token
    * shingles. Pure per-row compute, no shuffle, no protective exchange:
    * `size(tokens(text))` evaluates the tokenizer once, and the distinct
    * count comes from the opaque native kernel. */
  val t16 = QueryDef(
    "t16_repetition_ratio",
    (s, d) => {
      graft.functions.TextExpressions.register(s)
      docs(s, d)
        .select(col("doc_id"),
          greatest(size(tokens(col("text"))) - 2, lit(0)).as("n_shingles"),
          size(call_function("graft_shingles", col("text"))).as("n_distinct"))
        .withColumn("rep_ratio",
          when(col("n_shingles") === 0, lit(0.0))
            .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_shingles")))
        .orderBy(col("doc_id"))
    },
    Some(TokCte + """
      |SELECT doc_id,
      |       CAST(GREATEST(len(toks) - 2, 0) AS INTEGER) AS n_shingles,
      |       CAST(CASE WHEN len(toks) >= 3 THEN len(list_distinct(
      |              list_transform(range(len(toks) - 2),
      |                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
      |            ELSE 0 END AS INTEGER) AS n_distinct,
      |       CASE WHEN len(toks) < 3 THEN 0.0
      |            ELSE 1.0 - CAST(CASE WHEN len(toks) >= 3 THEN len(list_distinct(
      |                   list_transform(range(len(toks) - 2),
      |                     i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
      |                 ELSE 0 END AS DOUBLE) / (len(toks) - 2) END AS rep_ratio
      |FROM tok ORDER BY doc_id""".stripMargin))

  /** Corpus-frequency boilerplate cut: shingles appearing in >= this
    * many docs count as boilerplate (shared headers/footers/templates at
    * web scale; ~14% of distinct shingles at sf0.01). */
  private val BoilerplateDf = 3

  /** CROSS-doc frequent-n-gram boilerplate ratio — the corpus-cleaning
    * measure the within-doc t16 (repetition) and per-doc-ranked t10
    * (tf-idf) don't cover: what fraction of a doc's distinct shingles is
    * corpus-common (document frequency >= [[BoilerplateDf]]). A cleaning
    * pipeline drops or strips high-ratio docs (boilerplate-heavy pages).
    * Scale: the shingle df is a whole-partition window over ONE hash
    * exchange on shingle (no self-join), then one groupBy(doc) exchange
    * — O(corpus shingles) rows end to end, same two-shuffle shape as
    * t10. */
  val t20 = QueryDef(
    "t20_boilerplate_ngrams",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      shingleIndex(s, d)
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= BoilerplateDf, 1L).otherwise(0L)).as("n_common"))
        .withColumn("common_ratio", col("n_common") * lit(1.0) / col("n_shingles"))
        .orderBy(col("doc_id"))
    },
    Some(ShingleCte + s""",
      |dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
      |SELECT s.doc_id, COUNT(*) AS n_shingles,
      |       CAST(SUM(CASE WHEN dfc.df >= $BoilerplateDf THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |       CAST(SUM(CASE WHEN dfc.df >= $BoilerplateDf THEN 1 ELSE 0 END) AS BIGINT) * 1.0
      |         / COUNT(*) AS common_ratio
      |FROM sh s JOIN dfc ON s.shingle = dfc.shingle
      |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------- t21: rule-based filter

  /** Gopher-style rule verdicts (conjunctive keep flag). Each rule's
    * bounds are corpus-tuning knobs; these values exercise both outcomes
    * on the test corpus. */
  private val MinTokens = 10
  private val MaxTokens = 5000
  private val MinMeanWl = 2.0
  private val MaxMeanWl = 6.0
  private val MinStopHits = 2
  private val MaxTopTokFrac = 0.125

  /** Rule-based quality filter (the Gopher/C4 heuristic family): per-doc
    * token stats -> named boolean rule verdicts -> conjunctive keep flag.
    * Unlike t03's scalar score, this is the auditable form production
    * cleaning runs: per-rule verdicts let a pipeline report WHY each
    * document was dropped and tune one rule without re-running the rest.
    *
    * Rules (bounds are corpus-tuning knobs):
    *  - r_len:  token count within [MinTokens, MaxTokens];
    *  - r_mwl:  mean word length within [MinMeanWl, MaxMeanWl];
    *  - r_stop: at least MinStopHits function-word occurrences
    *            (Gopher's "contains >= 2 stopwords" form);
    *  - r_rep:  no single token exceeds MaxTopTokFrac of the doc.
    *
    * Scale: pure per-row compute over the tokens kernel — no shuffle, no
    * UDF; every stat is one pass over a bounded token array. The
    * top-token count is O(distinct x n) per row via nested HOFs, fine for
    * natural documents (n bounded by doc length); a corpus of pathological
    * multi-MB single-doc token arrays would move that one stat to an
    * explode + per-doc groupBy instead. */
  val t21 = QueryDef(
    "t21_quality_rules",
    (s, d) => {
      val toks = tokens(col("text"))
      val topCnt = array_max(transform(array_distinct(col("toks")),
        t => size(filter(col("toks"), x => x === t))))
      docs(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_wl"),
          size(filter(col("toks"), t => t === "the" || t === "a")).as("n_stop"),
          topCnt.as("top_cnt"))
        .withColumn("mean_wl",
          when(col("n_tokens") === 0, lit(null))
            .otherwise(col("sum_wl").cast("double") / col("n_tokens")))
        .withColumn("top_frac",
          when(col("n_tokens") === 0, lit(null))
            .otherwise(col("top_cnt").cast("double") / col("n_tokens")))
        .withColumn("r_len",
          col("n_tokens") >= MinTokens && col("n_tokens") <= MaxTokens)
        .withColumn("r_mwl",
          coalesce(col("mean_wl") >= MinMeanWl && col("mean_wl") <= MaxMeanWl, lit(false)))
        .withColumn("r_stop", col("n_stop") >= MinStopHits)
        .withColumn("r_rep", coalesce(col("top_frac") <= MaxTopTokFrac, lit(false)))
        .withColumn("keep",
          col("r_len") && col("r_mwl") && col("r_stop") && col("r_rep"))
        .select(col("doc_id"), col("n_tokens"), col("mean_wl"), col("n_stop"),
          col("top_frac"), col("r_len"), col("r_mwl"), col("r_stop"),
          col("r_rep"), col("keep"))
        .orderBy(col("doc_id"))
    },
    Some(TokCte + s"""
      |SELECT doc_id, n_tokens, mean_wl, n_stop, top_frac,
      |       r_len, r_mwl, r_stop, r_rep,
      |       (r_len AND r_mwl AND r_stop AND r_rep) AS keep
      |FROM (
      |  SELECT doc_id, n_tokens, mean_wl, n_stop, top_frac,
      |         (n_tokens >= $MinTokens AND n_tokens <= $MaxTokens) AS r_len,
      |         COALESCE(mean_wl >= $MinMeanWl AND mean_wl <= $MaxMeanWl, FALSE) AS r_mwl,
      |         (n_stop >= $MinStopHits) AS r_stop,
      |         COALESCE(top_frac <= $MaxTopTokFrac, FALSE) AS r_rep
      |  FROM (
      |    SELECT doc_id,
      |           CAST(len(toks) AS INTEGER) AS n_tokens,
      |           CASE WHEN len(toks) = 0 THEN NULL
      |                ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
      |                     / len(toks) END AS mean_wl,
      |           CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS INTEGER) AS n_stop,
      |           CASE WHEN len(toks) = 0 THEN NULL
      |                ELSE CAST(list_max(list_transform(list_distinct(toks),
      |                       t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
      |                     / len(toks) END AS top_frac
      |    FROM tok))
      |ORDER BY doc_id""".stripMargin))

  // ------------------------------------- t22: corpus-frequency statistics

  /** Tokens with corpus frequency below this count as rare. */
  private val RareCf = 100L

  /** Per-document corpus-frequency statistics — the unigram-LM quality
    * proxy (CCNet-family): score each document by how common its tokens
    * are in the corpus. Rare-token-heavy documents are OCR noise or
    * gibberish; all-boilerplate-token documents carry no signal. Emits
    * min/mean corpus frequency and the rare-occurrence ratio per doc.
    * (Mean frequency instead of mean log-prob: integer frequency sums
    * hash-match the oracle exactly, while ln() is not guaranteed
    * correctly-rounded across engines — same determinism contract as the
    * rest of the gate.)
    *
    * Scale: two shuffles — the vocab count is a partial+final aggregate
    * carrying O(distinct tokens per partition), and the occurrence->vocab
    * join is a hash join on token. At web scale the vocab is zipfian:
    * AQE's skew-join splitting handles the hot head, or broadcast the
    * top-K head vocab and hash-join only the tail. */
  val t22 = QueryDef(
    "t22_token_cf_stats",
    (s, d) => {
      val occ = docs(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val vocab = occ.groupBy(col("token")).agg(count(lit(1)).as("cf"))
      occ.join(vocab, "token")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          min(col("cf")).as("min_cf"),
          sum(col("cf")).as("sum_cf"),
          sum(when(col("cf") < RareCf, 1L).otherwise(0L)).as("n_rare"))
        .withColumn("mean_cf", col("sum_cf").cast("double") / col("n_tokens"))
        .withColumn("rare_ratio", col("n_rare").cast("double") / col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("min_cf"), col("mean_cf"),
          col("n_rare"), col("rare_ratio"))
        .orderBy(col("doc_id"))
    },
    Some(TokCte + s""",
      |occ AS (SELECT doc_id, unnest(toks) AS token FROM tok),
      |vocab AS (SELECT token, COUNT(*) AS cf FROM occ GROUP BY token)
      |SELECT doc_id, COUNT(*) AS n_tokens, MIN(cf) AS min_cf,
      |       CAST(SUM(cf) AS DOUBLE) / COUNT(*) AS mean_cf,
      |       CAST(SUM(CASE WHEN cf < $RareCf THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |       CAST(SUM(CASE WHEN cf < $RareCf THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*) AS rare_ratio
      |FROM occ JOIN vocab USING (token)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** t22 with the zipfian-head escape hatch for the LARGE-VOCAB regime:
    * when the vocabulary outgrows the broadcast threshold, the
    * occurrence->vocab join becomes a shuffle join and the zipfian head
    * ("the", "of", ...) concentrates a large fraction of ALL occurrence
    * rows on a handful of join keys. The hatch splits the vocab at the
    * top-[[headK]] by corpus frequency: head occurrences join against a
    * BROADCAST head vocab (no exchange, so hot rows stay where the scan
    * put them), tail occurrences shuffle-join the remaining vocab — in
    * which no key is hot by construction. Result-identical to t22
    * (pinned in OperatorsSpec); same downstream per-doc aggregate.
    *
    * The catalog t22 keeps the direct plan: at gate scale the whole
    * vocab broadcasts, which is the same skew-immunity for free
    * (measured in the ZIPF scale run — see PLANS.md). */
  private[graft] def t22HeadHatch(s: SparkSession, d: String, headK: Int = 1000): DataFrame = {
    val occ = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = occ.groupBy(col("token")).agg(count(lit(1)).as("cf"))
    // deterministic head cut: cf desc, token tiebreak
    val head = vocab.orderBy(col("cf").desc, col("token")).limit(headK)
    val tailV = vocab.join(broadcast(head.select(col("token"))), Seq("token"), "left_anti")
    val joined = occ.join(broadcast(head), "token")
      .unionByName(occ.join(tailV, "token"))
    joined
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("cf")).as("min_cf"),
        sum(col("cf")).as("sum_cf"),
        sum(when(col("cf") < RareCf, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("mean_cf", col("sum_cf").cast("double") / col("n_tokens"))
      .withColumn("rare_ratio", col("n_rare").cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("min_cf"), col("mean_cf"),
        col("n_rare"), col("rare_ratio"))
      .orderBy(col("doc_id"))
  }

  /** t20 with the hot-shingle escape hatch: the boilerplate window
    * (count over partitionBy(shingle)) cannot be skew-split — a window
    * partition IS one key group, so a boilerplate shingle in 30% of a
    * shard serializes those rows through one task, and AQE cannot help
    * (it splits shuffle partitions, not window keys). The hatch computes
    * df as a partial+final AGGREGATE (map-side combine collapses every
    * partition's hot-shingle rows to one) and maps it back with a
    * BROADCAST join — no exchange on shingle at all, so hot rows stay
    * where the scan put them. Result-identical (pinned in
    * OperatorsSpec). Trade-off: the shingle kernel subtree evaluates
    * twice and the df frame must broadcast — the catalog t20 keeps the
    * window (measured faster un-skewed, r5); a deployment flips on
    * corpus df stats, like [[jaccardPairsHatched]]. */
  private[graft] def t20AggHatch(s: SparkSession, d: String): DataFrame = {
    val sh = shingleIndex(s, d)
    val dfc = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(broadcast(dfc), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= BoilerplateDf, 1L).otherwise(0L)).as("n_common"))
      .withColumn("common_ratio", col("n_common") * lit(1.0) / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Non-overlapping token span length for t26 chunk dedup. */
  private val ChunkTokens = 16

  /** Span-level exact dedup — the sub-document granularity the document
    * ops (t05/t06/t07) cannot see: each document is cut into consecutive
    * [[ChunkTokens]]-token spans, exact-duplicate spans are removed
    * corpus-wide keeping the first occurrence (lowest (doc_id, cidx) —
    * a total, engine-independent order), and each document is
    * re-assembled from its surviving spans. This is the distributed
    * approximation of exact-substring training-data dedup (suffix-array
    * family): boilerplate repeated INSIDE otherwise-distinct documents
    * is removed without dropping the documents. Emits the per-doc audit
    * (span counts) plus the scrubbed text.
    *
    * Scale: one per-row chunking pass (HOF over the token array — the
    * protective exchange before it both parallelizes the single-file
    * scan and stops CollapseProject from re-tokenizing per span), then
    * a first-occurrence window keyed by span text and a per-doc
    * re-assembly aggregate — two shuffles, both on bounded rows (spans,
    * ~n_tokens/16 per doc). A production deployment keys the window on
    * a span digest instead of the text to cut shuffle bytes; the gate
    * keeps the text key (same partitioning, and the span is shuffled
    * for re-assembly anyway). Span-frequency skew (a boilerplate span
    * in 30% of docs) concentrates a window partition exactly like
    * t20's hot shingle; the same aggregate hatch applies. */
  val t26 = QueryDef(
    "t26_chunk_dedup",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .spreadByBytes
      val spans = toks.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            ceil(size(col("toks")) / lit(ChunkTokens.toDouble)).cast("int") - 1),
          i => array_join(slice(col("toks"), i * ChunkTokens + 1, lit(ChunkTokens)), " ")))
          .as(Seq("cidx", "chunk")))
      val w = Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("cidx"))
      spans.withColumn("rk", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(when(col("rk") === 1,
              struct(col("cidx"), col("chunk"))))),
            x => x("chunk")), " ").as("kept_text"))
        .orderBy(col("doc_id"))
    },
    Some(TokCte + s""",
      |pos AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS p
      |        FROM tok WHERE len(toks) > 0),
      |ch AS (SELECT doc_id, p // $ChunkTokens AS cidx,
      |              string_agg(tok, ' ' ORDER BY p) AS chunk
      |       FROM pos GROUP BY 1, 2),
      |rk AS (SELECT doc_id, cidx, chunk,
      |              ROW_NUMBER() OVER (PARTITION BY chunk
      |                                 ORDER BY doc_id, cidx) AS rk
      |       FROM ch)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |       CAST(COUNT(*) FILTER (rk = 1) AS BIGINT) AS n_kept,
      |       COALESCE(string_agg(chunk, ' ' ORDER BY cidx) FILTER (rk = 1), '')
      |         AS kept_text
      |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Blocklist / opt-out scrub — the compliance primitive of a
    * training-data pipeline (takedown requests, opt-out registries,
    * license revocations): given a blocklist of exact content
    * fingerprints, drop every corpus document whose normalized-text
    * digest matches, and report the per-source audit (how many
    * documents each source lost). The blocklist here is a deterministic
    * stand-in slice (every 31st document's fingerprint — an "opt-out
    * set" the gate can reproduce); production swaps in the registry
    * table unchanged.
    *
    * The scrub IS a broadcast LEFT ANTI join on the digest — the
    * first-class form of "NOT IN (blocklist)" (no null-semantics trap,
    * no shuffle of the corpus side); the audit counts the complement
    * with the matching LEFT SEMI. At 100 TB the corpus never shuffles:
    * an opt-out registry is small by nature, so both probes are
    * broadcast hash joins pipelined in the scan stage, and only
    * per-source counters cross the exchange. (A single-pass
    * left-join-plus-conditional-count emits the same audit; the
    * two-probe form is deliberate — semi and anti are the operators a
    * user of the scrub actually calls, and each branch map-side
    * combines to |sources| rows before the tiny final join.) */
  val t29 = QueryDef(
    "t29_blocklist_scrub",
    (s, d) => {
      val dg = docs(s, d)
        .select(col("source"), fingerprint(col("text")).as("digest"))
      val block = docs(s, d).filter(col("doc_id") % 31 === 5)
        .select(fingerprint(col("text")).as("digest"))
      val blocked = dg.join(broadcast(block), Seq("digest"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_blocked"))
      val kept = dg.join(broadcast(block), Seq("digest"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      kept.join(blocked, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("n_kept"), lit(0L)) +
            coalesce(col("n_blocked"), lit(0L))).as("n_docs"),
          coalesce(col("n_blocked"), lit(0L)).as("n_blocked"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    Some("""WITH dg AS (
      |  SELECT source,
      |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS digest
      |  FROM documents
      |), b AS (
      |  SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS digest
      |  FROM documents WHERE doc_id % 31 = 5
      |)
      |SELECT dg.source,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(COUNT(*) FILTER (WHERE b.digest IS NOT NULL) AS BIGINT) AS n_blocked,
      |       CAST(COUNT(*) FILTER (WHERE b.digest IS NULL) AS BIGINT) AS n_kept
      |FROM dg LEFT JOIN b ON b.digest = dg.digest
      |GROUP BY dg.source ORDER BY dg.source""".stripMargin))

  /** Minimum token length admitted to typo matching — unigrams and
    * bigrams are one edit from half the alphabet and carry no typo
    * signal. */
  private val TypoMinLen = 3

  /** Maximum edit distance for typo matching (SymSpell depth — the
    * deletion neighborhood is generated to this depth). */
  private val TypoMaxDist = 2

  /** Fuzzy vocabulary matching via the DELETION-NEIGHBORHOOD banded
    * join (the SymSpell construction): every token emits itself plus
    * every way of deleting up to [[TypoMaxDist]] characters as join
    * keys; two tokens within [[TypoMaxDist]] edits always share a key
    * (each edit is covered by deleting at most one character per side),
    * so a hash join on the key generates every candidate and an exact
    * `levenshtein <= 2` verify discards the collisions (unrelated
    * tokens that happen to share a depth-2 deletion). The fuzzy-match
    * family the string-identity dedups (t05 exact, t06–t08 token-set)
    * don't cover: OCR/typo variant collapse over a corpus vocabulary.
    *
    * Scale: candidate generation is O(Σ|token|²) keys off the tiny
    * vocab aggregate (never the corpus — the only corpus-sized work is
    * the token count t22 already pays), the join is banded by key
    * exactly like t07's LSH bands, and the verify is
    * per-candidate-pair. The oracle is the QUADRATIC all-pairs
    * levenshtein join — so the gate hash-match PROVES the neighborhood
    * join exhaustive at this distance, the s01-vs-lshPairs argument
    * applied to edit distance. */
  val t30 = QueryDef(
    "t30_typo_pairs",
    (s, d) => {
      val vocab = docs(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .filter(length(col("token")) >= TypoMinLen)
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      // the token, its single deletions, and its double deletions
      // (ordered position pairs i < j) — SymSpell depth 2
      val delKeys =
        "concat(array(token)," +
          " transform(sequence(0, length(token) - 1)," +
          "   i -> concat(substr(token, 1, i), substr(token, i + 2)))," +
          " CASE WHEN length(token) < 2 THEN array()" +
          " ELSE flatten(transform(sequence(0, length(token) - 2)," +
          "   i -> transform(sequence(i + 1, length(token) - 1)," +
          "     j -> concat(substr(token, 1, i)," +
          "                 substr(token, i + 2, j - i - 1)," +
          "                 substr(token, j + 2))))) END)"
      val keys = vocab.select(col("token"), col("n"),
        explode(array_distinct(expr(delKeys))).as("key"))
      val a = keys.select(col("key"), col("token").as("token_a"), col("n").as("n_a"))
      val b = keys.select(col("key"), col("token").as("token_b"), col("n").as("n_b"))
      a.join(b, Seq("key"))
        .filter(col("token_a") < col("token_b"))
        .select(col("token_a"), col("token_b"), col("n_a"), col("n_b"))
        .distinct()
        .filter(levenshtein(col("token_a"), col("token_b")) <= TypoMaxDist)
        .orderBy(col("token_a"), col("token_b"))
    },
    Some(TokCte + s""",
      |vocab AS (
      |  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(toks) AS tok FROM tok)
      |  WHERE len(tok) >= $TypoMinLen
      |  GROUP BY tok
      |)
      |SELECT a.token AS token_a, b.token AS token_b, a.n AS n_a, b.n AS n_b
      |FROM vocab a JOIN vocab b ON a.token < b.token
      |WHERE levenshtein(a.token, b.token) <= $TypoMaxDist
      |ORDER BY token_a, token_b""".stripMargin))

  /** Minimum verbatim-run length (in tokens) reported by t32. The
    * published exact-substring dedup threshold is ~50 tokens on web
    * corpora; on the synthetic corpus the chance-collision tail ends at
    * 5 tokens and the injected near-dup overlaps start at 10 (measured
    * distribution in the Scaladoc below), so 8 separates them with
    * margin at every SF. */
  private[graft] val SpanMinTokens = 8

  /** Shingles present in more than this many DISTINCT documents are
    * excluded from span matching as boilerplate — they are t20's
    * subject matter, and keeping them makes every template page "share"
    * spans with every other. The exclusion is part of the operator's
    * semantics (both engines apply it), not an approximation. */
  private[graft] val SpanMaxDf = 10

  /** Verbatim-span detection — the exact-substring dedup primitive
    * (the "memorized passage" finder): for every cross-document pair,
    * every maximal run of >= [[SpanMinTokens]] consecutive identical
    * tokens, reported with its start position in both documents. The
    * set-based dedups (t06-t08: Jaccard/MinHash/SimHash) answer "are
    * these documents similar?"; this answers "WHICH passage is copied
    * and where" — the signal that drives snippet-level scrubbing
    * rather than whole-document dropping. Measured span distribution on
    * the synthetic corpus: chance collisions are all 3-5 tokens; the
    * near-dup clusters inject verbatim runs of 10-95 tokens.
    *
    * Mechanics: positional 3-shingles (the native
    * `graft_pos_shingles` kernel + posexplode), inverted-index join on
    * shingle text across doc pairs, then gaps-and-islands per
    * (doc1, doc2, diagonal): two matched positions lie on the same
    * copied run iff p1 - p2 is constant and p1 is consecutive, so
    * p1 - row_number() within the diagonal groups a maximal run, and a
    * run of R matched 3-shingles spans R + 2 tokens.
    *
    * Scale: the positional index is O(corpus tokens) (same cost class
    * as the t06 shingle index — no distinct, so strictly cheaper to
    * build); the pair join is banded by shingle with fan-out bounded by
    * [[SpanMaxDf]]^2 per shingle — both sides are prefiltered by a
    * SEMI-join against the MATCHABLE set (df in [2, SpanMaxDf]: the
    * hot tail above the cap is excluded by semantics, and df=1
    * shingles — the majority of a real corpus — cannot produce a
    * cross-doc match). The matchable set tracks duplicate mass, so
    * the broadcast is RUNTIME-GATED on its measured BYTE size against
    * the session's autoBroadcastJoinThreshold and degrades to a
    * shuffled semi-join when it outgrows the cap; the
    * island grouping is ONE window shuffle keyed by (doc1, doc2, diag)
    * whose partitions are individual runs — no skew, no global sort.
    * At 100 TB this is exactly the shape the suffix-array substring
    * dedups linearize to when sharded: banded candidate generation +
    * per-pair linear stitching. */
  /** The t32 core, parameterized so a corpus-growth experiment can
    * scale the df-cap with corpus replication (a k x replicated corpus
    * pushes every shingle's df up by k; a FIXED cap would classify the
    * whole corpus as boilerplate and measure an empty join). */
  private[graft] def spanDedup(s: SparkSession, d: String,
      minTokens: Int, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.TextExpressions.register(s)
    val psh = docs(s, d)
      .spreadByBytes // parallelism (see shingleIndex)
      .select(col("doc_id"),
        posexplode(call_function("graft_pos_shingles", col("text")))
          .as(Seq("pos", "sh")))
    // MATCHABLE shingle set: df in [2, maxDf]. The lower bound is a pure
    // optimization with identical semantics — a shingle occurring in ONE
    // document can never produce a cross-doc match, and most distinct
    // shingles are df=1 (sf0.1: 27.2k distinct, 16.9k matchable; the
    // semi-join halves the pair-join input 261k -> 129k occurrences).
    // The upper bound is the boilerplate exclusion (operator semantics,
    // oracle applies it too). Materialized once (localCheckpoint, freed
    // by Lifecycle.release) since it feeds BOTH sides of the self-join;
    // its size tracks the corpus's DUPLICATE mass, so it broadcasts at
    // bench scale — a corpus whose duplicate vocabulary outgrows the
    // broadcast threshold falls back to a shuffled semi-join (drop the
    // broadcast hint; the plan stays O(occurrences)).
    val matchable = psh.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("sh"))
      .localCheckpoint()
    // stats-gated broadcast: the checkpoint materialized the set, so one
    // tiny aggregate over it yields the ACTUAL payload size — rows alone
    // are a bad proxy (1M multi-token shingle strings can be 50-100 MB).
    // Measured bytes gated against the session's own
    // autoBroadcastJoinThreshold ([[IndexStore.broadcastIfFits]]), so
    // tuning the session cap tunes this operator too; past the cap the
    // same plan runs as a shuffled semi-join (the matchable set tracks
    // duplicate mass and is NOT bounded at scale).
    val mSide = IndexStore.broadcastIfFits(s, matchable,
      octet_length(col("sh")))(_.hint("SHUFFLE_HASH"))
    // materialized ONCE: the filtered occurrence set feeds BOTH sides of
    // the pair self-join, and without the pin each side re-runs the
    // whole scan → graft_pos_shingles → posexplode → semi-join kernel
    // (r21 plan audit: THREE kernel passes per t32 run — matchable's
    // aggregate plus one per join branch, the b-branch additionally
    // rebuilt into a broadcast). Guide §8's rule: run the expensive
    // kernel once, join on the materialized proxy. Size is bounded by
    // the corpus's DUPLICATE mass (occurrences of df∈[2,maxDf] shingles
    // — 129k rows of 261k total at sf0.1), the same class as the pair
    // join's own shuffle, so the pin never exceeds work the join was
    // already paying. Freed by Lifecycle.release.
    val cold = psh.join(mSide, Seq("sh"), "left_semi").localCheckpoint()
    val m = cold.select(col("sh"), col("doc_id").as("doc1"), col("pos").as("p1"))
      .join(cold.select(col("sh"), col("doc_id").as("doc2"), col("pos").as("p2")), "sh")
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"), col("p1"), col("p2"),
        (col("p1") - col("p2")).as("diag"))
    val w = Window.partitionBy(col("doc1"), col("doc2"), col("diag"))
      .orderBy(col("p1"))
    m.withColumn("island", col("p1") - row_number().over(w))
      .groupBy(col("doc1"), col("doc2"), col("diag"), col("island"))
      .agg(min(col("p1")).cast("long").as("start1"),
        min(col("p2")).cast("long").as("start2"),
        (count(lit(1)) + 2).cast("integer").as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select(col("doc1"), col("doc2"), col("start1"), col("start2"),
        col("span_tokens"))
      .orderBy(col("doc1"), col("doc2"), col("start1"), col("start2"))
  }

  val t32 = QueryDef(
    "t32_span_dedup",
    (s, d) => spanDedup(s, d, SpanMinTokens, SpanMaxDf),
    Some(TokCte + s""",
      |psh AS (
      |  SELECT doc_id, i AS pos, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS sh
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks)-2)) AS i FROM tok WHERE len(toks) >= 3)
      |),
      |hot AS (SELECT sh FROM psh GROUP BY sh HAVING COUNT(DISTINCT doc_id) > $SpanMaxDf),
      |m AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2,
      |         a.pos - b.pos AS diag
      |  FROM psh a JOIN psh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  WHERE a.sh NOT IN (SELECT sh FROM hot)
      |),
      |runs AS (
      |  SELECT d1, d2, diag, p1, p2,
      |         p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS island
      |  FROM m
      |)
      |SELECT d1 AS doc1, d2 AS doc2,
      |       CAST(MIN(p1) AS BIGINT) AS start1, CAST(MIN(p2) AS BIGINT) AS start2,
      |       CAST(COUNT(*) + 2 AS INTEGER) AS span_tokens
      |FROM runs GROUP BY d1, d2, diag, island
      |HAVING COUNT(*) + 2 >= $SpanMinTokens
      |ORDER BY doc1, doc2, start1, start2""".stripMargin))

  /** Held-out slice that plays the language model for [[t33]] — disjoint
    * from t15's benchmark slice (doc_id % 20 == 7) so decontamination
    * and novelty scoring never share a reference set. */
  private val LmSliceMod = 11

  /** Language-model novelty scoring — the distribution-shift signal the
    * heuristic (t03), rule (t21), and trained-model (c02) scorers don't
    * carry: what fraction of a document's token BIGRAMS never occur in a
    * reference corpus (a held-out slice here; the previous training mix
    * in production). High OOV ratio = novel-or-garbage, the axis
    * perplexity filters cut on — this is the count-based skeleton of
    * that filter with none of the float hazards (the ratio is ONE
    * division of two longs, so both engines produce the identical
    * double; a log-prob sum would be hostage to transcendental libm
    * differences).
    *
    * Scale: the reference vocabulary is a distinct-aggregate of the
    * slice (vocab-sized, not corpus-sized); the membership probe is a
    * hash LEFT join of corpus bigrams against it — at extreme vocab
    * sizes this is the sk03 Bloom-prefilter composition point. The
    * bigram explode materializes toks across an exchange first
    * (CollapseProject would otherwise substitute the tokenizer into
    * every element access — the shingleIndex note). */
  val t33 = QueryDef(
    "t33_oov_novelty",
    (s, d) => {
      val bigrams = docs(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .spreadByBytes
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 2)," +
            " i -> concat_ws(' ', toks[i], toks[i+1]))")).as("bg"))
      val lm = bigrams.filter(col("doc_id") % 20 === LmSliceMod)
        .select(col("bg")).distinct()
        .withColumn("known", lit(1))
      bigrams.filter(col("doc_id") % 20 =!= LmSliceMod)
        .join(lm, Seq("bg"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ratio",
          col("n_oov").cast("double") / col("n_bigrams"))
        .orderBy(col("doc_id"))
    },
    Some(TokCte + s""",
      |bg AS (
      |  SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS bg
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks)-1)) AS i
      |        FROM tok WHERE len(toks) >= 2)
      |),
      |lm AS (SELECT DISTINCT bg FROM bg WHERE doc_id % 20 = $LmSliceMod)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(CASE WHEN lm.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST(SUM(CASE WHEN lm.bg IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*) AS oov_ratio
      |FROM (SELECT * FROM bg WHERE doc_id % 20 <> $LmSliceMod) c
      |LEFT JOIN lm ON c.bg = lm.bg
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Incremental pair-index MAINTENANCE — the text-side analog of s08's
    * frozen-centroid delta step, and the missing half of t25 (which
    * PROBES the persisted pair index but does not grow it): today's
    * crawl slice (doc_id % 10 == 7 stands in for it) is banded against
    * the corpus and exact-verified, producing exactly the NEW near-dup
    * pairs — every pair with at least one endpoint in the slice,
    * including slice-internal ones — without re-pairing the resident
    * corpus. A deployment appends this frame to the published PairIndex
    * (an r09-style partitioned write) as its nightly maintenance job.
    *
    * Scale: candidate generation is the band join with the SLICE on one
    * side — O(slice × bands) shuffle rows probing the corpus's band
    * index, never corpus × corpus; verification touches only the
    * candidates' shingle sets. Band signatures are per-row pure
    * functions of the fixed-seed kernel (no trained state), so the
    * corpus side reads the persisted signature table ([[BandIndex]],
    * the [[Similarity.SigIndex]] pattern) whenever the size gate says
    * the corpus out-costs the round-trip ([[corpusBands]]); small
    * corpora keep the inline kernel (the r8 posting-list NEGATIVE
    * result). Oracle equality rests on the same premise as t07's gate:
    * banding at these parameters finds every pair at or above the
    * threshold (recall gate: SimilarityRecallSpec). */
  /** t34's delta body over the size-gated [[corpusBands]] source: the
    * slice's bands probe the corpus's, candidates with ≥1 slice endpoint
    * are exact-verified. When the gate selects the persisted
    * [[BandIndex]], the corpus side is a parquet read of the signature
    * table — the deployment shape; inline recompute survives for small
    * corpora where the kernel pass beats the round-trip. */
  private[graft] def pairDelta(s: SparkSession, d: String): DataFrame = {
    val bands = corpusBands(s, d)
    bandDelta(docs(s, d), bands, bands.filter(col("doc_id") % 10 === 7),
      setsBytesFor(d), avgDocBytesFor(d))
  }

  /** The pair rings' kernel: night 0's from-scratch LSH build over the
    * docs present, or a grow night's band delta — the arriving batch's
    * bands probe the present corpus's ([[bandDelta]]: O(slice × bands),
    * never ∝ corpus). Both read the size-gated [[corpusBands]], so at
    * scale the corpus side is a parquet read of the persisted
    * [[BandIndex]]. Oracle equality rests on t07's premise: banding at
    * these parameters finds every pair at or above the threshold
    * (recall gate: SimilarityRecallSpec). */
  private def pairKernel(s: SparkSession, d: String, present: Column,
      batch: Option[Column]): DataFrame = {
    val bands = corpusBands(s, d).filter(present)
    batch match {
      case None =>
        lshPairsFromBands(docs(s, d).filter(present), bands, setsBytesFor(d))
      case Some(b) =>
        bandDelta(docs(s, d).filter(present), bands, bands.filter(b),
          setsBytesFor(d), avgDocBytesFor(d))
    }
  }

  /** A pair [[Ring]]: (doc1, doc2, jaccard) rows under `pairs/`,
    * retracted by dropping every pair with a tombstoned endpoint
    * ([[retractPairs]]). */
  private def pairRing(name: String, steps: Ring.Step*): Ring =
    new Ring(Ring.Schedule(name, steps: _*), "pairs", pairKernel,
      retractPairs(_, _, "id"))

  /** The one-night maintenance split over the daily slice
    * (doc_id % 10 == 7, the t25/t34 convention): night 0 is the
    * RESIDENT pair index — yesterday's snapshot, the state a nightly job
    * starts from — and night 1's segment is the [[pairDelta]] product
    * persisted once per corpus fingerprint. c04 grows the resident with
    * the live delta and gates resident ∪ delta against the full
    * rebuild; t35's incremental clustering reads both published
    * segments instead of re-running the band probe per pass. */
  private[graft] val DailyPairIndex: Ring = pairRing("daily", Ring.Grow(7))

  /** N-night PROMOTION ring over the persisted pair index — the piece
    * that closes the maintenance LOOP: each night ENDS by publishing its
    * delta segment, and night k+1 STARTS from night k's published state
    * (never a recompute). Slices arrive as doc_id % 10 == 3, then == 7
    * (the daily-slice convention, so the last night is exactly the
    * fixture's "today"), and the ratio-gated [[Ring.Fold]] after the
    * last night bounds the read tail a year of segments would open.
    *
    * The loop invariant — EVERY night's state equals a from-scratch
    * rebuild over the docs present that night — is what c05 hash-checks
    * (`segmented` per night); c06 gates the folded `maintained` view,
    * and CompactionSpec pins arm equality and the policy edges. Scale:
    * the nightly write is ∝ the slice's pairs, the delta is
    * O(slice × bands), the previous state is READ (measured: PLANS.md
    * RING-LOOP). Reference anchor: the daily cron shape, `README.md:9`,
    * `tabjolt_email.py:345-394`. */
  private[graft] val PromotedPairIndex: Ring =
    pairRing("promo", Ring.Grow(3), Ring.Grow(7), Ring.Fold)

  /** The multi-night SOAK ring — every lifecycle arm is individually
    * hash-gated (c04 grow, c05 promote, c06 fold, c07 retract), but none
    * of those can see state corruption that only appears after CHAINED
    * maintenance over one corpus:
    *
    *  - night 0: from-scratch build (slices 3, 7 and 1 not yet arrived);
    *  - nights 1-2: slices 3 and 7 GROW the state; night 2 then FOLDS
    *    when the ratio policy says so;
    *  - night 3: a tombstone batch (doc_id % 17 == 3 — deliberately
    *    UNALIGNED with the slices, straddling resident, delta and folded
    *    layouts) is RETRACTED and the reduced state published as the
    *    new resident;
    *  - night 4: a late slice (doc_id % 10 == 1, minus its tombstoned
    *    members) GROWS the post-retraction state — a delta append on top
    *    of a retraction, where a resurrected pair would surface.
    *
    * The c08 gate hash-checks, for EVERY night, the served pair set AND
    * the keep-mask probe of that night's batch against a from-scratch
    * DuckDB derivation over that night's present set, both generated
    * from this one schedule. The N-night cost curve at 125k docs is the
    * `soak` scale run (PLANS.md r17). */
  private[graft] val SoakRing: Ring = pairRing("soak",
    Ring.Grow(3), Ring.Grow(7), Ring.Fold, Ring.Retract(17, 3), Ring.Grow(1))

  val t34 = QueryDef(
    "t34_pair_index_delta",
    (s, d) => pairDelta(s, d).orderBy(col("doc1"), col("doc2")),
    Some(ShingleCte + s""",
      |pairs AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc1, doc2, inter * 1.0 / (x.n + y.n - inter) AS jaccard
      |FROM pairs JOIN sz x ON x.doc_id = doc1 JOIN sz y ON y.doc_id = doc2
      |WHERE inter * 1.0 / (x.n + y.n - inter) >= $JaccardThreshold
      |  AND (doc1 % 10 = 7 OR doc2 % 10 = 7)
      |ORDER BY doc1, doc2""".stripMargin))

  val catalog: Seq[QueryDef] =
    Seq(t01, t02, t03, t04, t05, t06, t07, t08, t15, t16, t20, t21, t22, t25,
      t26, t29, t30, t32, t33, t34)
}
