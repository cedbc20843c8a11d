package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Pins the parts of r06/r07 the DuckDB oracle cannot see: the gate
  * checks CONTENT identity, these tests check the physical layout the
  * operators exist to produce — file counts for compaction, row-group
  * skipping for the clustered write. */
class CompactionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Rows the parquet reader actually emitted (post row-group/page
    * pruning, pre any Spark-side filter) for the executed plan. */
  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    val executed = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    executed.collectLeaves().collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
  }

  test("r06 compacts the 64-file fragmented table to the byte-budget file count") {
    SourcesStreaming.r06.fn(spark, sf).collect()
    val frag = parquetFiles(SourcesStreaming.roundtripDir("frag", sf))
    val compactData = s"${SourcesStreaming.compactDir(sf)}/data"
    val compact = parquetFiles(compactData)
    assert(frag.length == 64)
    val expected = math.max(1,
      math.ceil(frag.map(_.length).sum / (32.0 * 1024 * 1024)).toInt)
    assert(compact.length == expected)
    assert(compact.length < frag.length)
    // compaction must not lose or duplicate rows
    assert(spark.read.parquet(compactData).count() ==
      graft.Tables.lineitem(spark, sf).count())
  }

  test("r07's clustered layout row-group-skips a day filter; scrambled layout cannot") {
    val tmp = sys.props("java.io.tmpdir")
    val clustered = s"${SourcesStreaming.clusterDir(sf)}/data"
    SourcesStreaming.r07.fn(spark, sf).collect() // materializes the clustered copy
    // adversarial baseline: same rows, time order destroyed, so every
    // file's ts min/max spans the whole month and no row group can be
    // skipped (the raw generator output is roughly time-ordered, which
    // would understate the contrast)
    val scrambled = s"$tmp/graft_scrambled_events"
    graft.Tables.events(spark, sf)
      .orderBy(md5(col("event_id").cast("string")))
      .repartition(8)
      .write.mode("overwrite").parquet(scrambled)
    def dayScan(dir: String): DataFrame =
      spark.read.parquet(dir)
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00")))
    val total = graft.Tables.events(spark, sf).count()
    val matching = dayScan(clustered).count()
    assert(matching > 0 && matching < total / 10)
    val clusteredScanRows = scanOutputRows(dayScan(clustered))
    val scrambledScanRows = scanOutputRows(dayScan(scrambled))
    // identical answers either way — layout changes cost, not semantics
    assert(dayScan(clustered).count() == dayScan(scrambled).count())
    // the scrambled layout decodes (nearly) everything; the clustered
    // layout's reader emits only the selected slice's row groups
    assert(scrambledScanRows >= total * 9 / 10,
      s"scrambled baseline unexpectedly pruned: $scrambledScanRows of $total")
    // a 1-day window over 8 ~3.75-day slices touches at most two row
    // groups (~2/8 of the rows) — allow both plus slack
    assert(clusteredScanRows <= scrambledScanRows / 3,
      s"clustered scan did not skip: $clusteredScanRows vs $scrambledScanRows")
  }

  test("a crashed rewrite can never serve a torn clustered copy") {
    import graft.Lifecycle.deleteRecursively
    val expected = SourcesStreaming.r07.fn(spark, sf).collect().toSeq
    val dir = new java.io.File(SourcesStreaming.clusterDir(sf))

    // 1. crash BEFORE rename: a torn .build-* sibling sits next to the
    // published copy — it must be ignored, the published copy serves
    val torn = new java.io.File(dir.getParentFile, dir.getName + ".build-dead")
    new java.io.File(torn, "data").mkdirs()
    java.nio.file.Files.writeString(
      torn.toPath.resolve("data/part-00000-dead.parquet"), "not parquet")
    assert(SourcesStreaming.r07.fn(spark, sf).collect().toSeq == expected)
    deleteRecursively(torn)

    // 2. torn DESTINATION (marker missing — a crash inside a pre-rename
    // world, or a half-deleted dir): must be rebuilt, never served
    assert(new java.io.File(dir, "data/_SUCCESS").delete())
    val dataFiles = new java.io.File(dir, "data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    dataFiles.head.delete() // actually tear it, not just unmark it
    assert(SourcesStreaming.r07.fn(spark, sf).collect().toSeq == expected)
    assert(new java.io.File(dir, "data/_SUCCESS").exists(),
      "rebuild must republish the completeness marker")
  }

  test("pair-ring fold: policy trips on the fixture, folded layout row-identical, served once due") {
    val ring = TextDedup.PromotedPairIndex
    val nights = ring.schedule.nights
    assert(ring.schedule.foldsAt(nights), "the promotion ring folds after its last night")
    val segmented = ring.segmented(spark, sf, nights)
    // the c06 premise: the fixture's two delta segments clear the ratio
    assert(ring.foldDue(sf, nights),
      "fixture delta tail must trip the fold ratio — c06 would gate the union arm")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc1", "doc2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val foldedDir = ring.ensureFolded(spark, sf, nights)
    val folded = spark.read.parquet(s"$foldedDir/pairs")
    assert(pairSet(folded) == pairSet(segmented),
      "fold changed the pair set — it must copy rows, never recompute")
    // the maintained view serves the folded physical layout once due
    val served = ring.maintained(spark, sf)
    assert(served.inputFiles.nonEmpty &&
      served.inputFiles.forall(_.contains(ring.foldDir(sf, nights))),
      "maintained must serve the folded segment once the ratio trips")
    // a degraded listing is never due — fold stays an optimization
    assert(!ring.foldDue("/nonexistent/corpus", nights))
  }
}
