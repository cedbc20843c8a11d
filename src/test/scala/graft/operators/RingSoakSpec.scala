package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the multi-night soak ring's (c08) lifecycle arms on a PLANTED
  * corpus where each composition direction has a known witness —
  * assertions the hash gate implies but does not localize:
  *
  *  - a batch doc dominated at night 2 whose ONLY dominator is
  *    tombstoned at night 3 must be REINSTATED by the night-3 probe
  *    (the retract→probe direction, across a promotion chain);
  *  - the late grow (night 4) discovers new-internal pairs and its
  *    keep mask deduplicates the late slice deterministically
  *    (earlier id wins) — the grow-after-retract direction;
  *  - no tombstoned endpoint ever reappears in a served state after
  *    the retraction night (the resurrection bug the unaligned
  *    tombstone/slice moduli exist to catch).
  *
  * The planted ids: docs 3 and 7 share a text (3 arrives night 1 and
  * is tombstoned — 3 % 17 == 3; 7 arrives night 2 in the probe batch);
  * docs 11 and 21 share a text (both in the late slice 1). Everything
  * else is pair-free filler.
  */
class RingSoakSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val dupA = "shared duplicate alpha text with enough tokens to shingle"
    val dupB = "another shared duplicate beta text with enough tokens too"
    val rows = (0L until 40L).map { id =>
      val text =
        if (id == 3L || id == 7L) dupA
        else if (id == 11L || id == 21L) dupB
        else s"solo$id filler${id}a filler${id}b filler${id}c filler${id}d"
      (id, text, "en", "synthetic", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def keepMap(night: Int): Map[Long, Boolean] = {
    val batch = graft.Tables.documents(spark, dir)
      .filter(TextDedup.SoakRing.schedule.batchPred(night)).select(col("doc_id"))
    TextDedup.dedupKeepMask(TextDedup.SoakRing.served(spark, dir, night), batch)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
  }

  private def pairSet(night: Int): Set[(Long, Long)] =
    TextDedup.SoakRing.served(spark, dir, night)
      .select(col("doc1"), col("doc2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("night 2 dominates the batch doc through its resident twin") {
    assert(pairSet(2).contains((3L, 7L)), "planted pair (3,7) missing at night 2")
    val k2 = keepMap(2)
    assert(k2(7L) == false, "doc 7 must be dominated by non-batch twin 3 at night 2")
  }

  test("night 3 retraction reinstates the doc whose only dominator was tombstoned") {
    val p3 = pairSet(3)
    assert(!p3.exists { case (a, b) => a % 17 == 3 || b % 17 == 3 },
      "tombstoned endpoint survived the retraction")
    assert(!p3.contains((3L, 7L)))
    val k3 = keepMap(3)
    assert(k3(7L) == true, "doc 7 not reinstated after its dominator's tombstone")
  }

  test("night 4 grow after retract: new-internal pairs found, no resurrection") {
    val p4 = pairSet(4)
    assert(p4.contains((11L, 21L)), "late-slice internal pair (11,21) missing")
    assert(!p4.exists { case (a, b) => a % 17 == 3 || b % 17 == 3 },
      "the late grow resurrected a tombstoned endpoint")
    val k4 = keepMap(4)
    assert(k4(11L) == true && k4(21L) == false,
      s"late-slice internal dedup must keep the earlier id: $k4")
  }

  test("every served state equals a from-scratch build of its present set") {
    // engine-vs-engine identity at each night (the DuckDB gate proves it
    // against SQL; this localizes a failure to the night and the arm)
    val docs = graft.Tables.documents(spark, dir)
    (0 to 4).foreach { k =>
      val scratch = TextDedup.dedupNearPairs(
          docs.filter(TextDedup.SoakRing.schedule.presentAt(k)), "doc_id", "text")
        .select(col("doc1"), col("doc2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairSet(k) == scratch, s"night $k served state drifted from scratch build")
    }
  }

  test("the sf0.001 fixture exercises the FOLD arm at night 2") {
    // the hash gate is arm-blind (both arms are row-identical); this
    // pins that the ratio policy actually trips on the gate fixture, so
    // c08 genuinely serves the folded layout there
    TextDedup.SoakRing.served(spark, "/root/testdata/sf0.001", 2).count()
    assert(TextDedup.SoakRing.foldDue("/root/testdata/sf0.001", 2),
      "fixture delta tail no longer trips the fold ratio — c08 would silently stop testing the folded arm")
  }
}
