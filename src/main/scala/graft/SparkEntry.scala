package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module catalogs; every entry is a [[QueryDef]] whose
  * Spark side and DuckDB-oracle side are defined adjacently in the module.
  */
object SparkEntry {

  def catalogs: Seq[QueryDef] =
    operators.Relational.catalog ++ operators.TextDedup.catalog ++
      operators.Similarity.catalog ++ operators.Multimodal.catalog ++
      operators.SourcesStreaming.catalog ++ operators.Advanced.catalog ++
      operators.Corpus.catalog ++ operators.TabjoltParity.catalog ++
      operators.Sketches.catalog

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Uses the reference's centerpiece shape: per-key historical average vs
    * current samples with pct-diff (tabjolt_email.py:385 analog). */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q09.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogs.map(q => q.name -> q.fn).toMap

  /** The entries named in `names`, or every entry when `names` is empty,
    * sorted by name: what Verify and Bench run. A name outside the
    * catalog fails the run, which would otherwise just shrink by one
    * entry with no error. */
  def selected(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct
    require(unknown.isEmpty, s"unknown catalog entries: ${unknown.mkString(", ")}")
    all.toSeq.filter { case (n, _) => names.isEmpty || names.contains(n) }.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalogs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** [[oracleSql]] plus the late-bound oracles that need the sfDir of the
    * run being verified (see [[QueryDef.oracleLate]]). A late oracle that
    * throws is dropped — its query falls back to the rows-only check
    * rather than failing the dump. */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    oracleSql ++ catalogs.flatMap(q =>
      q.oracleLate.flatMap(f =>
        scala.util.Try(f(sfDir)) match {
          case scala.util.Success(sql) => Some(q.name -> sql)
          case scala.util.Failure(e) =>
            // visible degradation: the query silently falls back to the
            // driver's rows-only check without this line
            System.err.println(s"[oracle] ${q.name}: late oracle dropped (${e.getMessage})")
            None
        }))
}
