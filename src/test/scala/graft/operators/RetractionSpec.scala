package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The DELETE arm of both maintenance rings (r16): retraction must be
  * the exact identity its façades claim — filtering tombstoned
  * endpoints out of a PUBLISHED state equals a from-scratch build over
  * the reduced corpus — and the consumers over the retracted view must
  * show the semantic consequences (keep-mask reinstatement, probe
  * rank re-fill). The c07/s16 gates hash-check the identities against
  * DuckDB at three SFs; these tests pin the planted edge cases the
  * fixtures cannot guarantee. */
class RetractionSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def partText = graft.Tables.part(spark, sf)
    .select(col("p_partkey").as("id"),
      concat_ws(" ", col("p_name"), col("p_type"), col("p_brand")).as("nm"))

  test("retractPairs equals a from-scratch build over the reduced corpus") {
    val part = partText
    val all = part.unionByName(
      part.select((col("id") + 100000L).as("id"), col("nm")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // tombstone an id-slice that hits originals AND twins
    val tombs = all.filter(col("id") % 7 === 1).select(col("id"))
    val full = TextDedup.dedupNearPairs(all, "id", "nm")
    val retracted = pairs(TextDedup.retractPairs(full, tombs, "id"))
    val reduced = pairs(TextDedup.dedupNearPairs(
      all.filter(col("id") % 7 =!= 1), "id", "nm"))
    assert(retracted == reduced)
    assert(retracted.nonEmpty, "fixture degenerated: no surviving pairs")
    assert(retracted.keys.forall { case (a, b) => a % 7 != 1 && b % 7 != 1 })
    // and the retraction genuinely dropped something
    assert(pairs(full).size > retracted.size)
  }

  test("keep-mask over the retracted frame reinstates a doc whose only dominator died") {
    val part = partText
    val twins = part.select((col("id") + 100000L).as("id"), col("nm"))
    val all = part.unionByName(twins)
    val pairFrame = TextDedup.dedupNearPairs(all, "id", "nm")
    val batch = twins.select(col("id"))
    def keepOf(pf: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      TextDedup.dedupKeepMask(pf, batch, "id")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // before retraction: every twin is dominated by its non-batch
    // original (jaccard 1.0) — keep = false
    val before = keepOf(pairFrame)
    val someTwin = before.keys.min
    assert(!before(someTwin), "fixture broken: twin not dominated by its original")
    // tombstone ONLY that twin's original: its sole dominator dies,
    // the probe must reinstate it — and leave every other twin dropped
    val tombs = spark.range(1).select(lit(someTwin - 100000L).as("id"))
    val after = keepOf(TextDedup.retractPairs(pairFrame, tombs, "id"))
    assert(after(someTwin), "retraction did not reinstate the orphaned twin")
    assert(after.filterNot(_._1 == someTwin) == before.filterNot(_._1 == someTwin),
      "retraction perturbed keep verdicts beyond the tombstoned neighborhood")
  }

  test("s17: a dedup-dropped doc is never served as a probe neighbor") {
    // the cross-ring consequence the gate's hash implies but a reader
    // can't see: every neighbor the composed probe serves survived the
    // text ring's keep verdict
    graft.functions.VectorExpressions.register(spark)
    val dropped = TextDedup.probeKeep(spark, sf,
        TextDedup.PromotedPairIndex.maintained(spark, sf))
      .filter(!col("keep")).collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "fixture degenerate: the dedup ring dropped nothing")
    val rows = Similarity.s17.fn(spark, sf).collect()
    graft.Lifecycle.release(spark)
    assert(rows.nonEmpty)
    val served = rows.map(_.getLong(1)).toSet
    assert(served.intersect(dropped).isEmpty,
      s"dedup-dropped docs served as neighbors: ${served.intersect(dropped)}")
    val queries = rows.map(_.getLong(0)).toSet
    assert(queries.intersect(dropped).isEmpty,
      "a dedup-dropped doc still issued probe queries")
  }

  test("s18: the late grow is visible after the retraction and resurrects nothing") {
    // the composed consequences the hash gate implies but does not
    // localize: (a) a freshly-grown vector (id >= 10M, assigned against
    // the frozen centroids on top of the RETRACTED view) actually ranks
    // as a probe neighbor — the grow is visible, not just present in
    // the view; (b) no tombstoned vector is served as a neighbor under
    // the grow — the delta append cannot resurrect a deletion
    val rows = Similarity.s18.fn(spark, sf).collect()
    graft.Lifecycle.release(spark)
    assert(rows.exists(_.getLong(1) >= 10000000L),
      "no late-grown vector ranked in any probe top-3 — the grow is invisible")
    assert(!rows.exists(r =>
      r.getLong(1) < 10000000L && r.getLong(1) % 23 == 5),
      "a tombstoned vector was served as a neighbor after the regrow")
    assert(!rows.exists(_.getLong(0) % 23 == 5),
      "a tombstoned vector was served as a query after the regrow")
  }

  test("tombstone straddling the generation flip: published takedown survives gen-2 recluster") {
    // The r17 structural hole made into a witness: a PUBLISHED
    // tombstone whose vector is some query's rank-1 neighbor must stay
    // gone (a) from the maintained gen-1 view, and (b) — the direction
    // no pre-r18 gate chained — from a generation-2 recluster, which
    // refits FROM THE CORPUS and would resurrect it if the refit did
    // not consult the store. Production path exactly: publishTombstones
    // → maintained() → recluster() on a private corpus with a planted
    // identical twin of query 0 at a distinctive id.
    graft.functions.VectorExpressions.register(spark)
    import graft.operators.Similarity.IvfIncIndex
    val scratch = java.nio.file.Files.createTempDirectory("straddle").toFile
    val twinId = 777001L
    val emb = graft.Tables.embeddings(spark, sf)
    emb.unionByName(
        emb.filter(col("vec_id") === 0L)
          .select(lit(twinId).as("vec_id"), col("embedding"), col("label")))
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val ds = scratch.getAbsolutePath
    def top1(assigned: org.apache.spark.sql.DataFrame,
        cen: org.apache.spark.sql.DataFrame): Seq[Long] =
      Similarity.ivfProbeOn(assigned, cen, _.filter(col("vec_id") === 0L))
        .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    val bd = IvfIncIndex.ensureBase(spark, ds)
    val cen1 = spark.read.parquet(s"$bd/centroids")
    // before the takedown: the identical twin is the rank-1 neighbor
    val before = top1(IvfIncIndex.maintained(spark, ds), cen1)
    assert(before.head == twinId, s"planted twin not rank-1 pre-takedown: $before")
    // the takedown: published into the ring's OWN store
    IvfIncIndex.publishTombstones(spark, ds, IvfIncIndex.RingSalt,
      spark.range(1).select(lit(twinId).as("vec_id")))
    // (a) gen 1: the maintained reader view consults the store
    val g1 = top1(IvfIncIndex.maintained(spark, ds), cen1)
    assert(!g1.contains(twinId), "published tombstone served from gen 1")
    assert(g1.size == 3, "gen-1 probe did not re-fill the freed slot")
    // (b) gen 2: the recluster refit must exclude the tombstone — this
    // is the resurrection path (it rebuilds from the corpus table)
    val g2 = IvfIncIndex.recluster(spark, ds)
    val g2assigned = spark.read.parquet(s"$g2/assigned")
    assert(g2assigned.filter(col("vec_id") === twinId).isEmpty,
      "tombstoned vector resurrected in the generation-2 assigned view")
    val g2top = top1(g2assigned, spark.read.parquet(s"$g2/centroids"))
    assert(!g2top.contains(twinId), "published tombstone served from gen 2")
    assert(g2top.size == 3, "gen-2 probe did not re-fill the freed slot")
    graft.Lifecycle.release(spark)
  }

  test("s19: published tombstones are absent from BOTH served generations") {
    // the gate's hash implies it; this localizes it for a reader —
    // every neighbor and every query id on both arms survived the
    // published takedown set
    val rows = Similarity.s19.fn(spark, sf).collect()
    graft.Lifecycle.release(spark)
    val arms = rows.map(_.getString(0)).toSet
    assert(arms == Set("g1_retracted", "g2_retracted"),
      s"policy did not serve both generations: $arms")
    assert(!rows.exists(_.getLong(2) % 23 == 5),
      "a published tombstone was served as a neighbor")
    assert(!rows.exists(_.getLong(1) % 23 == 5),
      "a published tombstone still issued probe queries")
  }

  test("annRetract: tombstoning the rank-1 twin re-fills the slot; survivors keep their order") {
    graft.functions.VectorExpressions.register(spark)
    import graft.operators.Similarity.IvfIncIndex
    val bd = IvfIncIndex.ensureBase(spark, sf)
    val cen = spark.read.parquet(s"$bd/centroids")
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    // plant an identical twin of query 0 at a tombstone-slice id
    // (≡ 5 mod 23): it must be the unretracted rank-1 (cos = 1), and
    // retraction must promote the previous live neighbors by one rank
    val twinId = 23L * 100000L + 5L
    val all = emb.unionByName(
      emb.filter(col("vec_id") === 0L)
        .select(lit(twinId).as("vec_id"), col("embedding")))
    val assigned = IvfIncIndex.assign(all, cen)
    def top(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      Similarity.ivfProbeOn(df, cen, _.filter(col("vec_id") === 0L))
        .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    val before = top(assigned)
    assert(before.head == twinId, s"planted twin not rank-1: $before")
    val tombs = all.filter(col("vec_id") % 23 === 5).select(col("vec_id"))
    val after = top(Similarity.annRetract(assigned, tombs))
    assert(!after.contains(twinId), "tombstoned id served from the retracted index")
    assert(after.forall(_ % 23 != 5))
    // the surviving prefix of the unretracted ranking leads the
    // retracted one — retraction re-fills, never re-orders
    val survivors = before.filter(_ % 23 != 5)
    assert(after.startsWith(survivors),
      s"retracted ranking $after does not extend surviving order $survivors")
    assert(after.size == 3, "probe did not re-fill the freed slots")
  }

  test("tombstone-state dir keying: a gen-2 computed against a cold store is orphaned by the publication") {
    // The r18 review's staleness class: gen-2/monitor dirs were keyed
    // by corpus fingerprint + salt alone, so a recluster that ran
    // BEFORE the takedown published stayed pinned forever — resurrected
    // vectors serving from a publish-once artifact no later publication
    // could invalidate. The tombstone-STATE token now in the dir name
    // means the publication orphans the cold-store artifact and the
    // next recluster refits against the reduced corpus.
    graft.functions.VectorExpressions.register(spark)
    import graft.operators.Similarity.IvfIncIndex
    val scratch = java.nio.file.Files.createTempDirectory("coldg2").toFile
    val twinId = 777002L
    val emb = graft.Tables.embeddings(spark, sf)
    emb.unionByName(
        emb.filter(col("vec_id") === 0L)
          .select(lit(twinId).as("vec_id"), col("embedding"), col("label")))
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val ds = scratch.getAbsolutePath
    IvfIncIndex.ensureBase(spark, ds)
    // gen-2 published while the store is COLD: the twin is present
    val g2cold = IvfIncIndex.recluster(spark, ds)
    assert(spark.read.parquet(s"$g2cold/assigned")
      .filter(col("vec_id") === twinId).count() == 1L,
      "fixture broke: cold-store gen-2 should contain the twin")
    // the takedown publishes AFTER the artifact exists
    IvfIncIndex.publishTombstones(spark, ds, IvfIncIndex.RingSalt,
      spark.range(1).select(lit(twinId).as("vec_id")))
    val g2warm = IvfIncIndex.recluster(spark, ds)
    assert(g2warm != g2cold, "publication did not flip the gen-2 dir key")
    assert(spark.read.parquet(s"$g2warm/assigned")
      .filter(col("vec_id") === twinId).isEmpty,
      "post-publication recluster served the cold-store artifact")
    graft.Lifecycle.release(spark)
  }

  test("publishTombstones: identical re-publish is a no-op, a conflicting batch throws") {
    // ensure() no-ops against a warm store; before the r18 review that
    // made a second, DIFFERENT takedown batch return "success" while
    // its ids kept serving. The documented union-into-a-new-instance
    // convention is now enforced by a value compare.
    import graft.operators.Similarity.IvfIncIndex
    val b1 = spark.range(2).select((col("id") * 23 + 5).as("vec_id"))
    val dir1 = IvfIncIndex.publishTombstones(spark, sf, "specConflict", b1)
    val dir2 = IvfIncIndex.publishTombstones(spark, sf, "specConflict", b1)
    assert(dir1 == dir2, "identical re-publish must stay the idempotent no-op")
    val b2 = spark.range(3).select((col("id") * 23 + 5).as("vec_id"))
    val e = intercept[IllegalArgumentException] {
      IvfIncIndex.publishTombstones(spark, sf, "specConflict", b2)
    }
    assert(e.getMessage.contains("DIFFERENT id set"))
    graft.Lifecycle.release(spark)
  }

  test("tombToken is a content digest: wipe + different re-publication flips it; same content restores it") {
    // The r18 token was summed parquet byte LENGTH: within contract
    // (publish-once) it only had to distinguish cold from published,
    // but the documented out-of-contract path — store wipe, then
    // re-publication of a DIFFERENT set — could coincide on encoded
    // size and serve a stale pre-wipe monitor/gen-2 dir. The content
    // digest (count + order-free hash sum) cannot.
    import graft.operators.Similarity.IvfIncIndex
    val salt = "specDigest"
    def wipe() = graft.Lifecycle.deleteRecursively(
      new java.io.File(IvfIncIndex.tombDirFor(sf, salt)))
    def pub(off: Int) = IvfIncIndex.publishTombstones(spark, sf, salt,
      spark.range(2).select((col("id") * 23 + off).as("vec_id")))
    wipe()
    assert(IvfIncIndex.tombToken(sf, salt) == "", "cold store must token empty")
    pub(5)
    val t1 = IvfIncIndex.tombToken(sf, salt)
    assert(t1.startsWith("_t") && t1.length > 2)
    // wipe + different set of the SAME cardinality (the r18 coincidence
    // shape): token must flip, orphaning every token-keyed derived dir
    wipe()
    pub(7)
    val t2 = IvfIncIndex.tombToken(sf, salt)
    assert(t2 != t1, "different id set after a wipe must flip the token")
    // wipe + the SAME set: token is a function of content, not of the
    // publication event — derived dirs stay warm across a benign rebuild
    wipe()
    pub(7)
    assert(IvfIncIndex.tombToken(sf, salt) == t2,
      "same content must reproduce the same token")
    graft.Lifecycle.release(spark)
  }

  test("orphaned r18-layout store: consult fails loudly, re-publish migrates, conflict throws") {
    // The r18→r19 layout bump silently orphaned v1 publications (r19
    // ADVICE): a v1-warm/v2-cold machine stopped folding published
    // takedowns into the serving state with no signal. Policy under
    // test: consult points fail loudly; publishTombstones verifies the
    // batch equals the orphaned set, migrates, and removes the v1 dir;
    // a DIFFERENT batch over the orphan throws instead of shadowing it.
    import graft.operators.Similarity.IvfIncIndex
    val salt = "specOrphan"
    val v2 = IvfIncIndex.tombDirFor(sf, salt)
    val v1 = v2.replace("_tomb2_", "_tomb_")
    assert(v1 != v2, "layout dirs must differ")
    def wipeAll() = Seq(v1, v2).foreach(p =>
      graft.Lifecycle.deleteRecursively(new java.io.File(p)))
    wipeAll()
    val batch = spark.range(3).select((col("id") * 31 + 2).as("vec_id"))
    // plant a v1-layout publication (ids parquet + marker, no DIGEST)
    batch.coalesce(1).write.mode("overwrite").parquet(s"$v1/ids")
    // both consult points refuse to treat the instance as tombstone-free
    val e1 = intercept[RuntimeException] { IvfIncIndex.tombToken(sf, salt) }
    assert(e1.getMessage.contains("PRE-DIGEST"), e1.getMessage)
    val e2 = intercept[RuntimeException] {
      IvfIncIndex.publishedTombstones(spark, sf, salt)
    }
    assert(e2.getMessage.contains("PRE-DIGEST"), e2.getMessage)
    // a CONFLICTING batch cannot silently shadow the orphan — and the
    // guard runs BEFORE the v2 publish, so nothing lands on the error path
    val other = spark.range(2).select((col("id") * 31 + 3).as("vec_id"))
    val e3 = intercept[Exception] {
      IvfIncIndex.publishTombstones(spark, sf, salt, other)
    }
    assert(e3.getMessage.contains("DIFFERENT id set"), e3.getMessage)
    assert(!new java.io.File(s"$v2/ids/_SUCCESS").exists(),
      "a refused conflicting batch must not leave a v2 publication behind")
    // re-publishing the SAME ids migrates: v2 warm, v1 swept, token live
    IvfIncIndex.publishTombstones(spark, sf, salt, batch)
    assert(!new java.io.File(v1).exists(), "migration must sweep the v1 dir")
    val tok = IvfIncIndex.tombToken(sf, salt)
    assert(tok.startsWith("_tv2."), s"v2-format token expected, got $tok")
    assert(IvfIncIndex.publishedTombstones(spark, sf, salt).get.count() == 3L)
    wipeAll()
    graft.Lifecycle.release(spark)
  }
}
