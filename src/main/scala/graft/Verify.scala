package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). A third comma-separated
    // query-name list is a local dev filter (run one query against its
    // oracle without paying the whole catalog).
    val (sfDir, outDir, names) = args match {
      case Array(s, o)    => (s, o, Nil)
      case Array(s, o, f) => (s, o, f.split(',').toSeq)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [names]")
    }
    val entries = SparkEntry.selected(names)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.graftDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // testdata-vintage tripwire — records which physical schema vintage
    // this correctness dump ran against (see graft.Vintage)
    System.err.println(Vintage.line(sfDir, spark.sparkContext.hadoopConfiguration))
    new java.io.File(outDir).mkdirs()
    entries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Lifecycle.release(spark)
    }
    dumpOracleSql(sfDir, outDir)
    spark.stop()
  }

  /** Write `oracle_sql.json` for `sfDir` into `outDir`. Needs no Spark
    * session (late-bound oracles fingerprint the corpus from the file
    * listing), so tools can dump it standalone — see [[tools.OracleDump]]
    * (`tools/Dumps.scala`) and tools/duck_bench.py's same-window pairing. */
  def dumpOracleSql(sfDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    ()
  }
}
