package graft.operators

import graft.SparkSpec

/** Pins t34's maintenance contract against t07's full index WITHOUT the
  * DuckDB oracle (CI-runnable): the delta step must emit exactly the
  * pairs with at least one endpoint in the new slice — no base-internal
  * pair re-derived, no slice-involving pair missed, jaccard values
  * identical to the full build's. This is the invariant that makes
  * "append the delta to the published index" a correct maintenance
  * operation: base-internal pairs ∪ delta == the full rebuild. */
class PairIndexDeltaSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("delta == slice-involving subset of the full index, values identical") {
    val full = pairs(TextDedup.t07.fn(spark, sf))
    val delta = pairs(TextDedup.t34.fn(spark, sf))
    val expected = full.filter { case ((a, b), _) => a % 10 == 7 || b % 10 == 7 }
    assert(delta.keySet == expected.keySet,
      s"missing=${expected.keySet -- delta.keySet} extra=${delta.keySet -- expected.keySet}")
    delta.foreach { case (k, j) =>
      assert(j == expected(k), s"jaccard drift on $k: $j vs ${expected(k)}")
    }
    assert(delta.nonEmpty, "fixture must exercise the delta path")
    // the union property behind append-maintenance
    val baseInternal = full.view.filterKeys { case (a, b) =>
      a % 10 != 7 && b % 10 != 7
    }.toMap
    assert(baseInternal.keySet ++ delta.keySet == full.keySet)
    assert(baseInternal.keySet.intersect(delta.keySet).isEmpty)
  }

  test("persisted BandIndex path is bit-identical to the inline kernel") {
    // the size gate keeps gate-scale corpora inline; compare both arms'
    // band rows directly — pairs are a pure function of bands, so this
    // is the invariant that makes the gate a pure optimization (the
    // persisted table IS the kernel's output)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "band_idx", "band_hash").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val inline = rows(TextDedup.bandsFrame(spark, sf))
    val persisted = rows(TextDedup.BandIndex.ensure(spark, sf))
    assert(persisted == inline,
      s"missing=${(inline -- persisted).take(5)} " +
        s"extra=${(persisted -- inline).take(5)}")
    assert(persisted.nonEmpty)
  }

  test("promotion ring: every promoted state == from-scratch rebuild of its present set") {
    import org.apache.spark.sql.functions.col
    val full = pairs(TextDedup.PairIndex.ensure(spark, sf).orderBy(col("doc1")))
    val rems = Seq(3, 7) // the ring's slices, in arrival order
    assert(TextDedup.PromotedPairIndex.schedule.nights == rems.size)
    def presentPair(night: Int)(p: (Long, Long)): Boolean =
      rems.drop(night).forall(r => p._1 % 10 != r && p._2 % 10 != r)
    var prevKeys = Set.empty[(Long, Long)]
    (0 to rems.size).foreach { k =>
      val state = pairs(
        TextDedup.PromotedPairIndex.segmented(spark, sf, k).orderBy(col("doc1")))
      val expected = full.view.filterKeys(presentPair(k)).toMap
      assert(state == expected,
        s"night $k: missing=${expected.keySet -- state.keySet} " +
          s"extra=${state.keySet -- expected.keySet}")
      // the loop grows monotonically: night k's state contains night k-1's
      assert(prevKeys.subsetOf(state.keySet), s"night $k lost promoted pairs")
      prevKeys = state.keySet
    }
    // final promoted state IS the full rebuild — the loop invariant
    assert(prevKeys == full.keySet)
    assert(full.nonEmpty, "fixture must exercise the ring")
  }

  test("a promoted segment is SERVED to the next night's view, not recomputed") {
    // corrupt-the-cache probe: publish night 0's segment, overwrite its
    // pair rows with a sentinel, and check the sentinel propagates into
    // night 1's reader view — proof the ring serves the PUBLISHED
    // segments (a silent recompute would mask a broken publication;
    // detecting the sentinel shows the read path is real). Scratch
    // corpus so the shared fixture ring stays clean.
    import org.apache.spark.sql.functions.{col, lit}
    val scratch = java.nio.file.Files.createTempDirectory("ring_read").toFile
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val d = scratch.getAbsolutePath
    TextDedup.PromotedPairIndex.segmented(spark, d, 0)
    val dir0 = TextDedup.PromotedPairIndex.segmentDir(d, 0)
    val sentinel = spark.range(1)
      .select(lit(-1L).as("doc1"), lit(-2L).as("doc2"), lit(0.99).as("jaccard"))
    sentinel.write.mode("overwrite").parquet(s"$dir0/pairs")
    val night1 = TextDedup.PromotedPairIndex.segmented(spark, d, 1)
      .filter(col("doc1") === -1L).count()
    assert(night1 == 1, "night 1 did not read the promoted night-0 state")
  }

  test("resident index ∪ delta == the full published index (c04's append)") {
    val full = pairs(TextDedup.PairIndex.ensure(spark, sf)
      .orderBy(org.apache.spark.sql.functions.col("doc1")))
    val resident = pairs(TextDedup.DailyPairIndex.segment(spark, sf, 0)
      .orderBy(org.apache.spark.sql.functions.col("doc1")))
    val delta = pairs(TextDedup.t34.fn(spark, sf))
    assert(resident.keySet.intersect(delta.keySet).isEmpty,
      "append would double-count a pair")
    val grown = resident ++ delta
    assert(grown == full,
      s"missing=${full.keySet -- grown.keySet} extra=${grown.keySet -- full.keySet}")
    // resident must contain NO slice endpoint — it is yesterday's state
    assert(resident.keySet.forall { case (a, b) => a % 10 != 7 && b % 10 != 7 })
  }
}
