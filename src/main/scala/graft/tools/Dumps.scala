package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps the formatted physical plan of selected catalog queries —
  * the `.explain("formatted")` audit loop. Prints to stdout, or with
  * `GRAFT_PLANS_OUT=<dir>` writes `<dir>/<name>.txt` per query. Usage:
  *   sbt "runMain graft.tools.Plans q09_regression_join e01_sessionization"
  * (no args = a default headline set). */
object Plans {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.graftDefaults(SparkSession.builder())
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q09_regression_join", "q11_star_rollup", "q14_pricing_summary",
        "e01_sessionization", "j01_asof_join", "s01_cosine_pairs")
    val outDir = sys.env.get("GRAFT_PLANS_OUT")
    outDir.foreach(dir => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir)))
    names.foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, d).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      graft.Lifecycle.release(spark)
      outDir match {
        case None =>
          println(s"\n===================== $n =====================")
          println(plan)
        case Some(dir) =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$n.txt"), plan)
          println(s"dumped $n")
      }
    }
    spark.stop()
  }
}

/** Dump oracle_sql.json for an sfDir without running the catalog — the
  * same-window pairing helper: run graft.Bench, dump, then
  * tools/duck_bench.py, all inside one container window. Late-bound
  * oracles (s04) reference persisted index dirs, so run after a Bench
  * or Verify pass has ensured them. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    graft.Verify.dumpOracleSql(sfDir, outDir)
  }
}
