package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators.IndexStore.PublishSyntax
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond per-row scoring and pair generation: duplicate CLUSTERS (not
  * just pairs), deterministic train/val/test splits, percentile-based
  * quality cuts, and PII scrubbing.
  *
  * Scale design (100 TB):
  *  - duplicate clustering is iterative hash-min label propagation —
  *    each round is one join + one min-aggregate on (vertex, label)
  *    pairs, converging in O(cluster diameter) rounds (near-dup clusters
  *    are shallow; the alternating large-star/small-star variant halves
  *    rounds if ever needed). Lineage is cut per round with
  *    localCheckpoint, or the plan tree grows exponentially;
  *  - the split is a pure per-row hash comparison — no shuffle, no RNG
  *    state, reproducible on any cluster size, stable under re-runs and
  *    backfills (the property that matters for train/test hygiene);
  *  - the quality cut is one window per language — a single shuffle on
  *    lang (salt the window key if one language dominates the corpus);
  *  - PII scrubbing is per-row regexp_replace, codegen'd, no shuffle.
  */
object Corpus {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // ------------------------------------------------------- t11: dup clusters

  /** localCheckpoint + handles to the RDD blocks it pinned, so a
    * superseded round's blocks can be freed mid-iteration.
    * `Dataset.unpersist` only clears catalog-cache entries; checkpoint
    * blocks live as persisted RDDs, reachable via
    * `SparkContext.getPersistentRDDs` — diff around the call (the
    * persist mark registers at mark time for lazy checkpoints too).
    * `eager = false` defers materialization to the caller's FIRST ACTION
    * on the returned frame — the CC loop's convergence probe doubles as
    * the materializing action, fusing what was a separate count job per
    * round into the probe job (r21, guide §2.4: one fewer barrier per
    * round; Spark self-heals a partial materialization by recomputing
    * missing partitions at job end, and the probe computes every
    * partition anyway). */
  private def checkpointPinned(df: DataFrame, eager: Boolean = true)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(eager)
    val pinned = sc.getPersistentRDDs.collect {
      case (id, r) if !before.contains(id) => r
    }.toSeq
    (out, pinned)
  }

  /** Connected components by iterative hash-min label propagation WITH
    * per-round pointer-jump shortcutting: every vertex starts labeled
    * with itself; each round pushes labels across edges, keeps the
    * minimum, then SHORTCUTS label(v) ← label(label(v)) — path halving,
    * so labels reach the component minimum in O(log diameter) rounds
    * instead of O(diameter). Plain propagation is fine on shallow
    * near-dup clusters (diameter 2-3) but a CHAIN-shaped component —
    * doc i near-dups doc i+1, the syndication-chain adversary — makes
    * rounds ∝ component length: on a planted half-corpus component
    * (62.5k docs as chained 20-doc cliques, 1.8M pairs, diameter
    * ~3.1k) the shortcut converges in 12 rounds / 23.5s while plain
    * propagation was still running at its 40-round abort cap —
    * the ccskew scale run, PLANS.md r17 (the r16 VERDICT's skew
    * bracket). The shortcut join is
    * exact, not approximate: label values are vertex ids of the same
    * component (propagation moves them only along edges, shortcutting
    * only through label cells), every label value exists as a vertex
    * row (labels start as self-ids and min() keeps one), labels stay
    * monotone decreasing and bounded by the component min m (whose own
    * label is pinned at m) — so the fixpoint is unchanged: min id per
    * component, which is what the recursive-CTE oracles of every
    * consumer (t11/t23/t35/c03/c08) hash-check.
    *
    * Superseded label checkpoints and edge frames are unpersisted as
    * soon as nothing references them —
    * block-store residency stays at two label generations + edges,
    * independent of round count. The FINAL labels checkpoint backs the
    * returned frame and is released by Lifecycle.release sweep. */
  private[graft] def connectedComponents(und: DataFrame): DataFrame = {
    val sess = und.sparkSession
    // One propagate+shortcut round per materialize-and-probe cycle.
    // Fusing two rounds per sync was a MEASURED negative result (r21):
    // it halves the barriers but DOUBLES the per-sync join/agg work,
    // and the extra work dominated on every shallow-diameter consumer
    // (c03 task time 19.3 s vs 7.6 s, t23 fn 1.84 s vs 1.10 s, t11 jobs
    // 33 vs 23 — full table in OPTIMIZATION_r21.md).
    // und: (src, dst), already symmetrized. Materialize once — it feeds
    // every round's join AND the initial vertex set. This first
    // checkpoint stays on the CALLER's session (AQE on): the edge KERNEL
    // pass is corpus-sized work that wants coalescing.
    val (edgesParent, edgeBlocks) = checkpointPinned(und)
    // Loop placement by MEASURED state bytes (r21, guide §1/§2.4 — see
    // LoopExec doc): small checkpointed state runs its rounds on the
    // static-planning child session (one job per round instead of one
    // per AQE stage materialization); big state stays here, where AQE's
    // skew-join splitting earns its per-stage barriers. SHUFFLE_HASH is
    // hinted only on the static path — the planner has no stats for
    // checkpointed state and would sort-merge every round; on the AQE
    // path strategy choice is left to the runtime as before.
    val edgeBytes = LoopExec.pinnedBytes(sess.sparkContext, edgeBlocks)
    val staticLoop = edgeBytes >= 0 && edgeBytes <= LoopExec.staticMaxBytes(sess)
    lastStatic = staticLoop
    val loopParts = LoopExec.partitionsFor(sess, edgeBytes)
    val loopSess = if (staticLoop) LoopExec.session(sess, loopParts) else sess
    // src/dst are non-null by construction (symmetrized id pairs); the
    // EXPLICIT filter exists so the optimizer's null-filter inference
    // adds nothing — the shortcut join's two agg copies otherwise end
    // up with ASYMMETRIC inferred isnotnull filters (the build copy
    // needs isnotnull(dst) through its join key, the probe copy does
    // not), their exchanges stop being canonically equal, ReuseExchange
    // stops deduping them, and every round computes the propagate join
    // TWICE (observed in the r21 static-plan probe; same latent risk on
    // the AQE path).
    // materialize WIDE, iterate PRE-PARTITIONED (r22; the r21 shape
    // iterated narrow via coalesce): the edge KERNEL pass above runs at
    // whatever parallelism the producer chose, but the edge FRAME never
    // changes across rounds — yet every round's propagate join was
    // re-shuffling it by src (one O(E) exchange per round, visible as
    // `Exchange hashpartitioning(src)` in plans/r21/cc_round_static_
    // after.txt). The static path now pays that shuffle ONCE: bridge to
    // the loop session, hash-repartition by the propagate key at the
    // byte-derived loop width, and checkpoint THAT layout —
    // Dataset.localCheckpoint preserves the physical outputPartitioning
    // in its LogicalRDD, so every round's join sees hash(src, loopParts)
    // already satisfied and EnsureRequirements adds no edges exchange
    // (guide §2.4 remove shuffles outright). The labels INIT rides the
    // same partitioning for free (its distinct keys on v = src). The
    // attribute-remint hazard that forced the labels' partitioning-FREE
    // re-wrap (see pinState) does not apply here: edges appear once per
    // round plan, never as a self-join clone. The explicit isNotNull
    // filter is baked into the materialized rows; the inference the
    // filter used to pre-empt lands above the single edges scan and is
    // harmless there.
    // The eager copy is the static path's only reader of edgesParent,
    // so its blocks are freed as soon as the copy is in; the AQE path
    // reads edgesParent every round and frees it after convergence.
    val (edges, loopEdgeBlocks) =
      if (staticLoop) {
        val copy = checkpointPinned(
          LoopExec.bridge(loopSess, edgesParent)
            .filter(col("src").isNotNull && col("dst").isNotNull)
            .repartition(loopParts, col("src")))
        edgeBlocks.foreach(org.apache.spark.GraftRdds.free(_, blocking = false))
        copy
      } else
        (edgesParent.filter(col("src").isNotNull && col("dst").isNotNull),
          Seq.empty[org.apache.spark.rdd.RDD[_]])
    // Loop-state pin: lazy checkpoint, and on the static path RE-WRAP
    // the checkpointed frame through the bridge. Dataset.localCheckpoint
    // preserves the physical plan's outputPartitioning inside its
    // LogicalRDD — partitioning expressions that carry ATTRIBUTE IDS,
    // which the analyzer re-mints per self-join clone, so the two
    // RDDScanExecs over the SAME blocks stop being canonically equal and
    // ReuseExchange silently stops deduping the shortcut join's agg copy
    // (r21 static-plan probe: only the edges exchange — whose frame came
    // through the partitioning-free bridge — was reused; the label and
    // agg exchanges computed twice per round). The bridge wrap drops the
    // preserved partitioning (worthless here: every round re-shuffles)
    // and restores the dedup.
    def pinState(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val (ck, blocks) = checkpointPinned(df, eager = false)
      (if (staticLoop) LoopExec.bridge(loopSess, ck) else ck, blocks)
    }
    var (labels, labelBlocks) = pinState(
      edges.select(col("src").as("v")).distinct()
        .withColumn("label", col("v")))
    // Convergence probe: labels are MONOTONE under min-propagation (a
    // vertex's label can only decrease, the vertex set is fixed), so the
    // label sum is strictly decreasing until the fixpoint — sum unchanged
    // <=> every label unchanged. One 1-row aggregate per round replaces
    // the join-and-compare probe (a hash-join shuffle over all vertices).
    // decimal(38,0): an ANSI Long sum could overflow at extreme vertex
    // counts; the decimal sum cannot.
    // The probe reads the ALREADY-CHECKPOINTED labels RDD directly: the
    // DataFrame aggregate it replaces planned an AQE query per round
    // (partial-agg stage + single-partition exchange + final — 2 jobs
    // of pure floor over in-memory blocks; QueryProf r21). This is one
    // shuffle-free single-stage job: per-partition exact sums (longs
    // with overflow spill into BigInteger — same no-overflow guarantee
    // as the decimal(38,0) aggregate it replaces) reduced on the
    // driver; k partition partials, not data, cross to the driver.
    // Probe-only code: the labels DATA path stays entirely in codegen.
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigInteger = {
      val idx = df.schema.fieldIndex("label")
      // The read below hits the raw InternalRow slot: an accessor of the
      // wrong width would silently sum garbage and could falsely signal
      // convergence — so the type is dispatched explicitly and anything
      // non-integral fails loud (r21 ADVICE; the guard immediately
      // caught mm11's 16-bit-phash INT labels riding the previously
      // hardcoded getLong). Labels are non-null by construction (they
      // start as `v` itself and every round min-aggregates over inner
      // joins), but the ANALYZED schema may still say nullable — so
      // nulls are trapped per row rather than asserted away here.
      val isLong = df.schema(idx).dataType match {
        case org.apache.spark.sql.types.LongType => true
        case org.apache.spark.sql.types.IntegerType => false
        case other => throw new IllegalArgumentException(
          s"connectedComponents probe needs an integral label, got $other")
      }
      df.queryExecution.toRdd.mapPartitions { it =>
        var acc = 0L
        var big = java.math.BigInteger.ZERO
        while (it.hasNext) {
          val row = it.next()
          if (row.isNullAt(idx))
            throw new IllegalStateException(
              "connectedComponents probe saw a NULL label — loop invariant broken")
          val v = if (isLong) row.getLong(idx) else row.getInt(idx).toLong
          val s = acc + v
          if (((acc ^ s) & (v ^ s)) < 0) { // signed-overflow test
            big = big.add(java.math.BigInteger.valueOf(acc)); acc = v
          } else acc = s
        }
        Iterator.single(big.add(java.math.BigInteger.valueOf(acc)))
        // empty RDD (no near-dup pairs in the corpus): fold's zero makes
        // the probe converge on round one instead of NPE-ing
      }.fold(java.math.BigInteger.ZERO)(_.add(_))
    }
    var prevSum = labelSum(labels)
    var converged = false
    // ONE propagate + shortcut round as a lazy plan
    def round(lbl0: DataFrame): DataFrame = {
      // explicit non-null (true by construction) for the same
      // ReuseExchange reason as the edges filter above
      val lbl = lbl0.filter(col("v").isNotNull && col("label").isNotNull)
      val rhs = if (staticLoop) lbl.hint("SHUFFLE_HASH") else lbl
      val prop = edges.join(rhs, edges("src") === rhs("v"))
        .select(edges("dst").as("v"), col("label"))
      val agg = lbl.unionByName(prop)
        .groupBy(col("v")).agg(min(col("label")).as("label"))
      // pointer-jump shortcut: label(v) ← label(label(v)). Inner join is
      // total (every label value is a vertex row, see docstring); the
      // agg subplan appears on both sides but its inner exchange is
      // deduped by ReuseExchange — the round pays the two join
      // exchanges, and buys rounds ∝ log diameter.
      val lookup0 = agg.select(col("v").as("lv"), col("label").as("label2"))
      val lookup = if (staticLoop) lookup0.hint("SHUFFLE_HASH") else lookup0
      agg.join(lookup, col("label") === col("lv"))
        .select(col("v"), col("label2").as("label"))
    }
    while (!converged) {
      // cut lineage (iterative joins stack plans); lazy — the probe
      // below is the materializing action, one job for round + probe
      val (next, nextBlocks) = pinState(round(labels))
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // the convergence probe above materialized; the previous round's
      // labels are unreachable from here on — free their blocks now
      labelBlocks.foreach(org.apache.spark.GraftRdds.free(_, blocking = false))
      labels = next
      labelBlocks = nextBlocks
    }
    if (!staticLoop) edgeBlocks.foreach(org.apache.spark.GraftRdds.free(_, blocking = false))
    loopEdgeBlocks.foreach(org.apache.spark.GraftRdds.free(_, blocking = false))
    // hand the result back on the CALLER's session: consumers compose
    // further plans (and join corpus-scale frames) under the caller's
    // conf, not the loop child's. The labels blocks are materialized
    // (the final probe ran), so the bridge shares them without copying.
    if (staticLoop) LoopExec.bridge(sess, labels) else labels
  }

  /** Whether the last [[connectedComponents]] run took the static-loop
    * path (LoopExec byte gate) — diagnostic only, read by LoopExecSpec
    * to prove both paths are exercised. Never consulted by the engine. */
  @volatile private[graft] var lastStatic: Boolean = false

  /** Near-duplicate CLUSTERS from the t06/t07 pair stream: connected
    * components over jaccard >= 0.6 edges, each doc labeled with the
    * minimum doc_id of its component — the form a dedup pipeline
    * actually consumes (keep one doc per cluster, drop the rest).
    * Oracle: DuckDB recursive CTE computing the same transitive
    * closure + min-label. */
  val t11 = QueryDef(
    "t11_dup_clusters",
    (s, d) => {
      // Edges from the PERSISTED MinHash+LSH pair index (t07's product),
      // not the exact inverted index (t06): the pair sets are identical
      // (LSH candidates are exactly verified; equality with t06 is
      // pinned in OperatorsSpec and re-proven at 5k/20k/60k docs,
      // PLANS.md), and reading the corpus-fingerprinted index means
      // the LSH pipeline runs ONCE per corpus across t07/t11/t19 —
      // exactly the producer/consumer split a production CC stage has.
      // The oracle still recomputes edges exactly.
      val pairs = TextDedup.PairIndex.ensure(s, d).select(col("doc1"), col("doc2"))
      val und = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
        .unionByName(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      connectedComponents(und)
        .select(col("v").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id"))
    },
    Some(ccOracleSql))

  /** The connected-components CTE chain appended after
    * [[TextDedup.ShingleCte]]: exact Jaccard edges at the t06/t07
    * threshold, symmetrized, transitively closed by a recursive CTE,
    * min-labeled as `cc(doc_id, cluster_id)`. Shared by the t11 and t23
    * oracles so the two transitive closures can never drift apart (the
    * enclosing WITH must be rewritten to WITH RECURSIVE). */
  private def CcCteSql: String =
    s""",
      |pairs AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |edges AS (
      |  SELECT doc1, doc2
      |  FROM pairs JOIN sz x ON x.doc_id = doc1 JOIN sz y ON y.doc_id = doc2
      |  WHERE inter * 1.0 / (x.n + y.n - inter) >= ${TextDedup.JaccardThreshold}
      |),
      |und AS (SELECT doc1 AS a, doc2 AS b FROM edges
      |        UNION ALL SELECT doc2, doc1 FROM edges),
      |reach AS (
      |  SELECT a AS v, a AS label FROM und
      |  UNION
      |  SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.v
      |),
      |cc AS (SELECT v AS doc_id, MIN(label) AS cluster_id
      |       FROM reach GROUP BY v)""".stripMargin

  /** The full from-scratch CC oracle (recursive closure + min-label
    * over exact Jaccard edges) — ONE text for the batch gate (t11) and
    * the incremental gate (t35): the two entries must answer the same
    * question by different computations, and a drifted oracle copy
    * would let them pass against different questions. */
  private def ccOracleSql: String =
    (TextDedup.ShingleCte + CcCteSql + """
      |SELECT doc_id, cluster_id FROM cc ORDER BY doc_id""".stripMargin)
      .replaceFirst("^WITH ", "WITH RECURSIVE ")

  /** Persisted resident CLUSTER LABELS — yesterday's label table, the
    * state the incremental step (t35) maintains: connected components
    * over the resident pair index, published once per corpus
    * fingerprint (the [[IndexStore]] convention). */
  private[operators] object LabelIndex {
    private[graft] def indexDirFor(d: String): String =
      IndexStore.stateDir("labels_l1", d, "documents")
    def ensure(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
      val dir = IndexStore.ensure(indexDirFor(d), "labels/_SUCCESS") { tmp =>
        val pairs = TextDedup.DailyPairIndex.segment(s, d, 0)
          .select(col("doc1"), col("doc2"))
        val und = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
          .unionByName(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
        connectedComponents(und)
          .select(col("v").as("doc_id"), col("label").as("cluster_id"))
          .publishTo(s"$tmp/labels")
      }
      s.read.parquet(s"$dir/labels")
    }
  }

  /** INCREMENTAL cluster maintenance — the delta path for t11, the one
    * pair-consumer that had none (dedup has t25/t34, the IVF index has
    * s08): when the daily slice arrives, recompute connected components
    * ONLY over the clusters the delta's pair neighborhood touches and
    * splice the survivors' labels through unchanged.
    *
    *  1. yesterday's labels: the persisted [[LabelIndex]] (CC over the
    *     resident pair index);
    *  2. the delta's pairs ([[TextDedup.pairDelta]] — slice bands probe
    *     the corpus index, t34's product);
    *  3. AFFECTED clusters = resident clusters containing any delta-pair
    *     endpoint. Every possible label change passes through a delta
    *     pair (resident↔resident connectivity is already closed), so a
    *     cluster with no delta endpoint cannot change — its rows splice
    *     through byte-identical;
    *  4. recompute CC over (affected clusters' resident pairs ∪ delta
    *     pairs) — a resident pair's endpoints share a cluster by
    *     construction, so membership tests one endpoint;
    *  5. output = unaffected resident labels ∪ recomputed labels.
    *
    * The identity this rests on is the t34/c04 append invariant
    * (resident ∪ delta == full pairs, FacadeSpec): CC over that union
    * is exactly t11's answer, so the gate's oracle is t11's
    * from-scratch recursive closure — the incremental path must
    * reproduce it row for row.
    *
    * Scale: the iterative CC — many rounds of corpus-sized shuffles at
    * 100 TB — runs only over the delta's cluster neighborhood (∝ the
    * daily slice and its duplicates, not the corpus); everything else
    * is one label-table anti-join splice. Measured honestly at 125k
    * docs (the ccdelta scale run, re-run r17 with the pointer-jump CC and
    * the neighborhood-priced delta): 1.6× over re-pair+full-CC on the
    * DENSE replica corpus (1.3M pairs; was 1.2× in r16) and a LOSS
    * (0.7×, was 0.5×) on the sparse one, where full re-pairing from
    * warm bands is trivially cheap — the step pays for itself in
    * proportion to the corpus-to-slice ratio and the duplicate
    * density; a corpus with near-zero dup structure should just
    * re-cluster. */
  val t35 = QueryDef(
    "t35_cluster_delta",
    (s, d) => {
      val resident = LabelIndex.ensure(s, d)
      // the delta arrives from its PERSISTED product (t34's artifact,
      // TextDedup.DailyPairIndex's night 1) — the nightly split where the band
      // probe runs once per slice and every consumer reads; the gate's
      // live cost is the splice + the delta-bounded CC (r17)
      val delta = TextDedup.DailyPairIndex.segment(s, d, 1)
        .select(col("doc1"), col("doc2"))
      val endpoints = delta.select(col("doc1").as("doc_id"))
        .unionByName(delta.select(col("doc2").as("doc_id"))).distinct()
      val affected = resident.join(endpoints, Seq("doc_id"))
        .select(col("cluster_id")).distinct()
      val residentPairs = TextDedup.DailyPairIndex.segment(s, d, 0)
        .select(col("doc1"), col("doc2"))
      val affectedPairs = residentPairs
        .join(resident.select(col("doc_id").as("doc1"), col("cluster_id")),
          Seq("doc1"))
        .join(affected, Seq("cluster_id"), "left_semi")
        .select(col("doc1"), col("doc2"))
      val sub = affectedPairs.unionByName(delta)
      val und = sub.select(col("doc1").as("src"), col("doc2").as("dst"))
        .unionByName(sub.select(col("doc2").as("src"), col("doc1").as("dst")))
      val recomputed = connectedComponents(und)
        .select(col("v").as("doc_id"), col("label").as("cluster_id"))
      val unaffected = resident
        .join(affected, Seq("cluster_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"))
      unaffected.unionByName(recomputed).orderBy(col("doc_id"))
    },
    Some(ccOracleSql))

  // --------------------------------------------------- t12: stratified split

  /** The split's hash bucket: first hex byte of md5 over the STRATUM KEY
    * `source|doc_id`, compared to fixed thresholds (0xe6/256 ~ 90%,
    * 0xf3/256 ~ 95%). Hashing within the (source, doc_id) pair makes the
    * assignment hash-uniform INSIDE each source stratum, so every source
    * lands ~90/5/5 — not just the corpus in aggregate (a global-hash
    * split can starve a small stratum of val/test entirely). */
  private def splitBucket: Column =
    substring(md5(concat_ws("|", col("source"), col("doc_id").cast("string"))
      .cast("binary")), 1, 2)

  private[operators] def splitCol: Column =
    when(splitBucket < "e6", "train").when(splitBucket < "f3", "val")
      .otherwise("test")

  /** Deterministic stratified train/val/test assignment. Pure per-row
    * compute — no RNG, no shuffle, identical on every cluster size and
    * re-run, and a document never migrates between splits when the
    * corpus grows (the hygiene property sample() lacks); per-stratum
    * proportions are pinned in CorpusSpec. */
  val t12 = QueryDef(
    "t12_stratified_split",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"), col("source"), splitCol.as("split"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source,
           |       CASE WHEN substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
           |            WHEN substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
           |            ELSE 'test' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------- t13: quality-quartile cut

  /** Per-language quality cut: keep each language's top quality quartile
    * (ntile(4) = 1 over quality DESC with doc_id tiebreak — rank-based,
    * so no cross-engine percentile-interpolation drift). One window
    * shuffle on lang. */
  val t13 = QueryDef(
    "t13_quality_cut",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          textStats(col("text")).getField("quality").as("quality"))
        .withColumn("tile", ntile(4).over(w))
        .filter(col("tile") === 1)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(TextDedup.TokCte + s""",
      |scored AS (
      |  SELECT doc_id, lang, $QualityRef AS quality FROM tok
      |)
      |SELECT doc_id, lang, quality FROM (
      |  SELECT doc_id, lang, quality,
      |         ntile(4) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS tile
      |  FROM scored)
      |WHERE tile = 1 ORDER BY doc_id""".stripMargin))

  private def QualityRef: String = TextDedup.QualitySql

  // ----------------------------------------------------------- t14: PII scrub

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing: emails, phone numbers, IPv4 literals replaced with
    * typed placeholder tokens; per-row counts retained for audit. The
    * patterns are RE2-compatible so the DuckDB oracle runs the identical
    * automaton; output carries md5(scrubbed) rather than the full text
    * (the gate compares fingerprints, the pipeline would write the
    * scrubbed column itself). */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        IpRe, "<IP>"),
      PhoneRe, "<PHONE>")

  val t14 = QueryDef(
    "t14_pii_scrub",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
          regexp_count(col("text"), lit(IpRe)).as("n_ips"),
          md5(scrub(col("text")).cast("binary")).as("scrub_fp"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
            |       len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
            |       len(regexp_extract_all(text, '$IpRe')) AS n_ips,
            |       md5(regexp_replace(
            |             regexp_replace(
            |               regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
            |               '$IpRe', '<IP>', 'g'),
            |             '$PhoneRe', '<PHONE>', 'g')) AS scrub_fp
            |FROM documents ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------- t19: split leakage audit

  /** DuckDB mirror of [[splitCol]] (shared by t12 and t19). */
  private val SplitCaseSql =
    """CASE WHEN substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
      |     WHEN substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
      |     ELSE 'test' END""".stripMargin

  /** Split-leakage audit — near-duplicate pairs that STRADDLE the
    * train/val/test split: a near-dup of a training document sitting in
    * the test set silently inflates eval scores, so every training
    * pipeline runs exactly this composition (near-dup pairs x split
    * assignment) before shipping a split. Pairs come from the persisted
    * corpus-fingerprinted LSH index ([[TextDedup.PairIndex]] — one LSH
    * execution per corpus across t07/t11/t19); the split side is a pure
    * per-row hash, joined on doc id (the pair side is tiny relative to
    * the corpus at any scale). */
  val t19 = QueryDef(
    "t19_split_leakage",
    (s, d) => {
      val pairs = TextDedup.PairIndex.ensure(s, d)
        .select(col("doc1"), col("doc2"), col("jaccard"))
      val splits = docs(s, d).select(col("doc_id"), splitCol.as("split"))
      pairs
        .join(splits.select(col("doc_id").as("doc1"), col("split").as("split1")), "doc1")
        .join(splits.select(col("doc_id").as("doc2"), col("split").as("split2")), "doc2")
        .filter(col("split1") =!= col("split2"))
        .select(col("doc1"), col("doc2"), col("jaccard"), col("split1"), col("split2"))
        .orderBy(col("doc1"), col("doc2"))
    },
    Some(s"""WITH jp AS (${TextDedup.JaccardPairsSql}),
       |sp AS (SELECT doc_id, $SplitCaseSql AS split FROM documents)
       |SELECT doc1, doc2, jaccard, s1.split AS split1, s2.split AS split2
       |FROM jp JOIN sp s1 ON s1.doc_id = doc1 JOIN sp s2 ON s2.doc_id = doc2
       |WHERE s1.split <> s2.split
       |ORDER BY doc1, doc2""".stripMargin))

  // ---------------------------------------------- t17: per-source quota

  /** Per-source quota sampling — the domain-mixing downsampler: every
    * source keeps at most K documents, chosen by deterministic hash
    * order (md5 of the doc id) so the sample is stable across runs and
    * cluster sizes and unbiased within the source. One window shuffle
    * on source; rank-based, so no RNG state and no global pass. */
  val t17 = QueryDef(
    "t17_quota_sample",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val quota = 15
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= quota)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source, rk FROM (
           |  SELECT doc_id, source,
           |         ROW_NUMBER() OVER (PARTITION BY source
           |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           |  FROM documents)
           |WHERE rk <= 15 ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------- t18: sequence packing

  /** Greedy sequence packing — assign each document the id of the
    * fixed-token-budget training sequence it starts in, via a running
    * token count. Packing is PER SOURCE: the window shuffles once on
    * source and each stratum packs independently — a single global
    * cumulative sum would serialize the corpus through one partition at
    * 100 TB (at real scale the stratum key is (source, shard)). */
  /** The t18 core over an ARBITRARY (doc_id, source, text) input, so a
    * pipeline can pack exactly the documents that survived its upstream
    * curation stages (packing the full corpus and then filtering would
    * leave under-filled sequences mixing curated and removed docs —
    * sequence assignments must be computed on the final membership). */
  private[graft] def packSequences(input: DataFrame, seqLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    input
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id", floor((col("cum") - col("n_tokens")) / lit(seqLen)))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("seq_id"))
      .orderBy(col("doc_id"))
  }

  val t18 = QueryDef(
    "t18_sequence_packing",
    (s, d) => packSequences(docs(s, d), 2048),
    Some("""WITH tok AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
      |  FROM documents
      |)
      |SELECT doc_id, source, CAST(len(toks) AS INTEGER) AS n_tokens,
      |       CAST(FLOOR((cum - len(toks)) / 2048.0) AS BIGINT) AS seq_id
      |FROM (
      |  SELECT doc_id, source, toks,
      |         SUM(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
      |                              ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM tok)
      |ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- t23: canonical selection

  /** Canonical-document selection — the KEEP/DROP decision a dedup
    * pipeline actually ships: every document gets its near-dup cluster
    * id (singletons are their own cluster) and the highest-quality
    * member of each cluster is kept (quality ties broken by lowest
    * doc_id — a total, engine-independent order). This is the
    * composition t11 (clusters) × t03 (quality) exists to feed; the
    * output is the corpus-wide keep mask plus the audit columns a
    * curation review needs.
    *
    * Scale: cluster labels come from [[connectedComponents]] over the
    * persisted pair index (near-dup pairs are sparse, so the label set
    * is small relative to the corpus and the left join hashes on
    * doc_id); the keep mask is one window shuffle keyed by cluster_id,
    * whose partitions are singleton-dominated (no skew: a cluster's
    * size is bounded by its duplication factor, not the corpus).
    * Quality is the per-row fused textStats kernel — no extra pass. */
  val t23 = QueryDef(
    "t23_canonical_docs",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = TextDedup.PairIndex.ensure(s, d).select(col("doc1"), col("doc2"))
      val und = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
        .unionByName(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      val cc = connectedComponents(und)
        .select(col("v").as("doc_id"), col("label").as("cluster_id"))
      val scored = docs(s, d).select(col("doc_id"),
        textStats(col("text")).getField("quality").as("quality"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id"))
      scored.join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("keep", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster_id"), col("quality"), col("keep"))
        .orderBy(col("doc_id"))
    },
    Some((TextDedup.ShingleCte + CcCteSql + s""",
      |scored AS (SELECT doc_id, $QualityRef AS quality FROM tok)
      |SELECT s.doc_id,
      |       COALESCE(cc.cluster_id, s.doc_id) AS cluster_id,
      |       s.quality,
      |       (ROW_NUMBER() OVER (PARTITION BY COALESCE(cc.cluster_id, s.doc_id)
      |          ORDER BY s.quality DESC, s.doc_id) = 1) AS keep
      |FROM scored s LEFT JOIN cc ON cc.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin)
      .replaceFirst("^WITH ", "WITH RECURSIVE ")))

  // ------------------------------------------- t24: temperature mixing

  /** Temperature-weighted stratum mixing — the data-mixing sampler that
    * rebalances a skewed corpus before training: stratum i (language
    * here; domain/source in production) receives a sample target
    * proportional to cnt_i^alpha with alpha = 0.5, flattening the head
    * (en holds ~44% of this corpus but ~31% of the mix) without the
    * hard cutoff of a fixed quota (t17). Documents inside a stratum are
    * chosen by deterministic md5 order — stable across runs, cluster
    * sizes, and corpus growth.
    *
    * Cross-engine determinism: the weight math is INTEGER end-to-end —
    * w_i = floor(sqrt(cnt_i) * 1e6) as BIGINT, summed exactly (integer
    * addition is associative; a double Σ sqrt would be fold-order-
    * dependent), and target_i = (w_i * (total div 2)) div Σw via integer
    * division. No float aggregate exists to drift between Spark's
    * partial/final combine and DuckDB's single-node fold.
    *
    * Scale: the per-stratum aggregate is |strata| rows — broadcast back;
    * the rank is one window shuffle on the stratum key. A dominant
    * stratum makes that window partition the straggler at 100 TB; the
    * production escape hatch is rate-based selection (keep rows whose
    * hash fraction < target_i/cnt_i — shuffle-free, approximately-exact
    * counts) or sub-striping the stratum key, both noted here and
    * PLANS.md. */
  val t24 = QueryDef(
    "t24_temp_mix",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .withColumn("w", floor(sqrt(col("cnt")) * lit(1000000L)).cast("long"))
      val totals = counts.agg(sum(col("cnt")).as("total"), sum(col("w")).as("wsum"))
      val targets = counts.crossJoin(broadcast(totals))
        .select(col("lang"), expr("(w * (total div 2)) div wsum").as("target"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat_ws("|", col("lang"), col("doc_id").cast("string"))
          .cast("binary")), col("doc_id"))
      docs(s, d).select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w))
        .join(broadcast(targets), Seq("lang"))
        .filter(col("rk") <= col("target"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
      |w AS (SELECT lang, cnt, CAST(floor(sqrt(cnt) * 1000000) AS BIGINT) AS w FROM n),
      |tot AS (SELECT SUM(cnt) AS total, SUM(w) AS wsum FROM w),
      |tgt AS (SELECT lang, (w * (total // 2)) // wsum AS target FROM w, tot),
      |ranked AS (
      |  SELECT doc_id, lang,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY md5(lang || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT r.doc_id, r.lang FROM ranked r JOIN tgt USING (lang)
      |WHERE r.rk <= tgt.target ORDER BY doc_id""".stripMargin))

  /** Cross-source duplication matrix — WHERE near-duplication lives:
    * every near-dup pair labeled with its (unordered) source pair and
    * counted. The mirror-site / syndication diagnostic a crawl pipeline
    * reads before deciding which source to de-prioritize; diagonal
    * entries are intra-source duplication. least/greatest canonicalizes
    * the pair so (a,b) and (b,a) accumulate together.
    *
    * Scale: rides the persisted [[TextDedup.PairIndex]] (the sparse
    * expensive artifact, built once), joins the tiny (doc → source) map
    * on each end, and aggregates to |sources|² rows — cost proportional
    * to the PAIR set, never the corpus. */
  val t28 = QueryDef(
    "t28_dup_source_matrix",
    (s, d) => {
      val pairs = TextDedup.PairIndex.ensure(s, d).select(col("doc1"), col("doc2"))
      val srcs = docs(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(srcs.select(col("doc_id").as("doc1"), col("source").as("s1")), "doc1")
        .join(srcs.select(col("doc_id").as("doc2"), col("source").as("s2")), "doc2")
        .groupBy(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(s"""WITH jp AS (${TextDedup.JaccardPairsSql}),
       |sp AS (SELECT doc_id, source FROM documents)
       |SELECT LEAST(a.source, b.source) AS source_a,
       |       GREATEST(a.source, b.source) AS source_b,
       |       COUNT(*) AS n_pairs
       |FROM jp JOIN sp a ON a.doc_id = jp.doc1 JOIN sp b ON b.doc_id = jp.doc2
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin))

  // ---------------------------------------------- t27: schema-drift diff

  /** DuckDB's logical name for a Spark type — the shared vocabulary the
    * drift report is expressed in (it is what the oracle's DESCRIBE
    * emits, so both engines describe the same physical schema in the
    * same words). */
  private[operators] def duckTypeName(
      t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case LongType         => "BIGINT"
      case IntegerType      => "INTEGER"
      case ShortType        => "SMALLINT"
      case ByteType         => "TINYINT"
      case DoubleType       => "DOUBLE"
      case FloatType        => "FLOAT"
      case StringType       => "VARCHAR"
      case BooleanType      => "BOOLEAN"
      case BinaryType       => "BLOB"
      case DateType         => "DATE"
      case TimestampType    => "TIMESTAMP"
      case ArrayType(e, _)  => duckTypeName(e) + "[]"
      case d: DecimalType   => s"DECIMAL(${d.precision},${d.scale})"
      case other            => other.sql
    }
  }

  /** Cross-snapshot schema-drift diff — the warehouse-maintenance
    * primitive that answers "what does the next pipeline version change
    * about this table's shape" BEFORE a backfill runs. Snapshot A is the
    * table's current physical schema (parquet footer); snapshot B is the
    * schema of the v2 curation projection (`n_chars` narrowed to
    * INTEGER, `source` dropped, a derived `quality` DOUBLE added). Every
    * column is labeled added / removed / type_changed / unchanged.
    *
    * Deliberately DRIVER-SIDE: schema drift is O(columns) metadata,
    * independent of table size — at 100 TB this still reads one footer
    * and diffs a few dozen field entries; routing it through an executor
    * shuffle would add cost and nothing else. (Reference analog: the
    * implicit contract in tabjolt_email.py:351-388 that the extracted
    * CSV's shape matches the dashboard queries — the failure mode this
    * diff surfaces ahead of time.) */
  val t27 = QueryDef(
    "t27_schema_drift",
    (s, d) => {
      import s.implicits._
      val cur = Tables.read(s, d, "documents")
      val v2 = cur.select(col("doc_id"), col("text"), col("lang"),
        col("n_chars").cast("int").as("n_chars"),
        (col("n_chars").cast("double") / lit(1000.0)).as("quality"))
      val a = cur.schema.fields.map(f => f.name -> duckTypeName(f.dataType)).toMap
      val b = v2.schema.fields.map(f => f.name -> duckTypeName(f.dataType)).toMap
      val rows = (a.keySet ++ b.keySet).toSeq.sorted.map { c =>
        val status = (a.get(c), b.get(c)) match {
          case (None, Some(_))               => "added"
          case (Some(_), None)               => "removed"
          case (Some(x), Some(y)) if x != y  => "type_changed"
          case _                             => "unchanged"
        }
        (c, a.get(c), b.get(c), status)
      }
      rows.toDF("col_name", "old_type", "new_type", "status")
        .orderBy(col("col_name"))
    },
    Some("""WITH a AS (SELECT column_name, column_type
       |            FROM (DESCRIBE SELECT * FROM documents)),
       |     b AS (SELECT column_name, column_type
       |            FROM (DESCRIBE
       |              SELECT doc_id, text, lang,
       |                     CAST(n_chars AS INTEGER) AS n_chars,
       |                     CAST(n_chars AS DOUBLE) / 1000.0 AS quality
       |              FROM documents))
       |SELECT COALESCE(a.column_name, b.column_name) AS col_name,
       |       a.column_type AS old_type,
       |       b.column_type AS new_type,
       |       CASE WHEN a.column_name IS NULL THEN 'added'
       |            WHEN b.column_name IS NULL THEN 'removed'
       |            WHEN a.column_type <> b.column_type THEN 'type_changed'
       |            ELSE 'unchanged' END AS status
       |FROM a FULL JOIN b ON a.column_name = b.column_name
       |ORDER BY col_name""".stripMargin))

  // ------------------------------------- t31: crawl URL curation

  /** Crawl-style URL curation — the stage every web-scale training
    * pipeline runs before content dedup: canonicalize messy URLs
    * (case-folded host, `www.` prefix stripped, tracking query string
    * dropped, trailing slash normalized), collapse exact canonical
    * duplicates to a min-id keeper, and cap each domain's contribution
    * (the anti-spam/anti-imbalance lever — one link-farm domain must
    * not dominate the corpus). The corpus has no URL column, so URLs
    * are SYNTHESIZED deterministically from (doc_id, source) with the
    * mess injected on purpose — host-case flips, `www.` prefixes,
    * trailing slashes, utm tracking params, and id-quartets sharing a
    * path so canonicalization produces real duplicate groups — and the
    * oracle builds the identical bytes, so the whole
    * canonicalize→dedup→cap chain is hash-checked (the
    * mediaFromDocuments convention).
    *
    * Scale: canonicalization is per-row string codegen fused into the
    * scan stage; the dedup is ONE hash shuffle on the canonical URL;
    * the per-domain cap is ONE window shuffle on domain where
    * `row_number <= cap` plans as WindowGroupLimit (per-partition
    * top-cap pre-prune before the final per-key sort — q12's shape),
    * so a link-farm domain costs its cap, not its crawl volume. */
  val t31 = QueryDef(
    "t31_url_curation",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cap = 25
      val url = concat(
        lit("https://"),
        when(col("doc_id") % 5 === 0, lit("www.")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
        lit(".example.com/"),
        substring(md5(concat(col("source"), lit(":"),
          expr("doc_id DIV 4").cast("string")).cast("binary")), 1, 12),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("?utm_source=feed&utm_campaign=daily")).otherwise(lit("")))
      // canonical order matters and is pinned: strip query -> casefold
      // -> strip www -> strip trailing slash (the oracle mirrors it)
      val canon = regexp_replace(
        regexp_replace(
          lower(regexp_replace(url, "\\?.*$", "")),
          "^https://www\\.", "https://"),
        "/$", "")
      val w = Window.partitionBy(col("domain"))
        .orderBy(col("n_dups").desc, col("keep_id"))
      docs(s, d)
        .select(col("doc_id"), canon.as("url"))
        .groupBy(col("url"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .withColumn("domain", regexp_extract(col("url"), "https://([^/]+)/", 1))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= cap)
        .orderBy(col("domain"), col("rk"))
        .select(col("domain"), col("url"), col("keep_id"), col("n_dups"), col("rk"))
    },
    Some("""WITH raw AS (
           |  SELECT doc_id,
           |         'https://' ||
           |         CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END ||
           |         CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||
           |         '.example.com/' ||
           |         substr(md5(source || ':' || CAST(doc_id // 4 AS VARCHAR)), 1, 12) ||
           |         CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
           |         CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=daily' ELSE '' END
           |           AS url
           |  FROM documents
           |), canon AS (
           |  SELECT doc_id,
           |         regexp_replace(
           |           regexp_replace(
           |             lower(regexp_replace(url, '\?.*$', '')),
           |             '^https://www\.', 'https://'),
           |           '/$', '') AS url
           |  FROM raw
           |), dedup AS (
           |  SELECT url, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
           |  FROM canon GROUP BY url
           |)
           |SELECT domain, url, keep_id, n_dups, rk FROM (
           |  SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
           |         url, keep_id, n_dups,
           |         ROW_NUMBER() OVER (
           |           PARTITION BY regexp_extract(url, 'https://([^/]+)/', 1)
           |           ORDER BY n_dups DESC, keep_id) AS rk
           |  FROM dedup)
           |WHERE rk <= 25 ORDER BY domain, rk""".stripMargin))

  val catalog: Seq[QueryDef] =
    Seq(t11, t12, t13, t14, t17, t18, t19, t23, t24, t27, t28, t31, t35)
}
