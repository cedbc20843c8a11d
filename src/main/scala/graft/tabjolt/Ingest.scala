package graft.tabjolt

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Delimited bulk load with rejected-row capture — the Spark re-expression
  * of Vertica `COPY ... FROM LOCAL ... REJECTED DATA 'rejected.txt'`
  * (tabjolt_email.py:33-56): malformed rows are diverted, not fatal; the
  * load succeeds for the good rows.
  *
  * Mechanics: PERMISSIVE mode + `columnNameOfCorruptRecord` lands any row
  * that fails arity/quoting in the `_rejected` column; good rows flow on.
  * `multiLine=true` is required because JTL `rm` fields carry embedded
  * newlines inside quoted fields (rejected.txt:509-516, SURVEY.md §1.4).
  *
  * Dirty-data equivalence note (SURVEY.md §7.4): Vertica rejects rows that
  * fail DDL type coercion; we read as strings so only arity/quote errors
  * reject at load time — the numeric screening happens in the queries'
  * regexp guards, exactly as the reference's SQL does it.
  *
  * Scale: one plain, uncompressed file on a seekable file system is read
  * in `Fanout.widthForBytes` byte ranges, one task each ([[SplitRead]]).
  * `multiLine` parsing cannot be split by Spark itself, because a quoted
  * field may span lines; each range is therefore parsed by the very call
  * the multiLine reader makes per file and accepted only when its end is
  * proven to fall between records (the stitch check), so the rows, their
  * order and every `_rejected` string equal a one-task read. A range that
  * is not stitched gives the whole file to the one-task read, as does a
  * range that meets a `'\r'`, a byte-order mark at its start or a parse
  * error. The one-task read also takes the inputs the split does not (a
  * directory or glob, a compressed file, a header to skip, a file under
  * two ranges, a file system that cannot seek). `skipHeader` mirrors the
  * loader's SKIP 1 option (tabjolt_email.py:35) — note the reference
  * always passes skip_header=False in production (tabjolt_email.py:370).
  */
object Ingest {

  /** How a load was parsed: `ranges` byte ranges (1 for the one-task
    * read), and `fallbacks` 1 when a split read was given up for the
    * one-task read. */
  final case class Split(ranges: Int, fallbacks: Int)
  val OneTask: Split = Split(1, 0)

  /** `parsed` is cached: Spark disallows queries whose only referenced
    * column from a raw CSV is the corrupt-record column (SPARK-38523) —
    * and that includes pruned plans like `good.count()`, whose sole
    * reference is the corrupt-null filter. The cache must therefore live
    * as long as EITHER frame is queried; call [[LoadResult.cleanup]] when
    * done with both, or the cache pins the table for the session. On the
    * byte-range path the cache is already built (one partition per range)
    * and serves every query. */
  final case class LoadResult(good: DataFrame, rejected: DataFrame,
                              private[tabjolt] val parsed: DataFrame, split: Split = OneTask) {
    def rejectedCount: Long = rejected.count()
    def cleanup(): Unit = parsed.unpersist()
  }

  /** An empty table with `schema` — what a load resolves to when its
    * source is missing and the caller tolerates it (the reference skips
    * absent files and runs on what loaded, tabjolt_email.py:371-375). */
  def emptyLoad(spark: SparkSession, schema: StructType): LoadResult = {
    val good = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val rejected = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new StructType().add(Schemas.Rejected, org.apache.spark.sql.types.StringType))
    LoadResult(good, rejected, good) // unpersist on a non-cached frame is a no-op
  }

  /** The reader options of every load; the split read builds its
    * `CSVOptions` from the same map. */
  private def options(delimiter: String, skipHeader: Boolean): Map[String, String] = Map(
    "delimiter" -> delimiter,
    "header" -> skipHeader.toString,
    "multiLine" -> "true",
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> Schemas.Rejected)

  /** Raw schema'd delimited read in one task per file; rows that fail
    * parse land in [[Schemas.Rejected]]. */
  def read(spark: SparkSession, path: String, schema: StructType,
           delimiter: String, skipHeader: Boolean = false): DataFrame =
    spark.read.schema(schema).options(options(delimiter, skipHeader)).csv(path)

  /** Split a schema'd read into good rows (parse columns only) and
    * rejected raw lines. A file the split read takes is parsed (and
    * cached) here, in byte ranges; any other input is cached lazily by
    * the first query. */
  def load(spark: SparkSession, path: String, schema: StructType,
           delimiter: String, skipHeader: Boolean = false): LoadResult =
    SplitRead.plan(spark, path, schema, delimiter, skipHeader) match {
      case Some((file, len, cuts)) => loadWithCuts(spark, file, len, schema, delimiter, cuts)
      case None => loadOneTask(spark, path, schema, delimiter, skipHeader)
    }

  /** The one-task read, cached lazily by the first query. */
  private[tabjolt] def loadOneTask(spark: SparkSession, path: String, schema: StructType,
                                   delimiter: String, skipHeader: Boolean = false,
                                   split: Split = OneTask): LoadResult =
    result(read(spark, path, schema, delimiter, skipHeader).cache(), split)

  /** The split read at explicit `cuts` (byte offsets, each just after a
    * `'\n'`) of the plain file `path` of `len` bytes; the one-task read
    * when the split is given up. */
  private[tabjolt] def loadWithCuts(spark: SparkSession, path: String, len: Long,
                                    schema: StructType, delimiter: String,
                                    cuts: Seq[Long]): LoadResult =
    SplitRead.read(spark, path, len, schema, options(delimiter, skipHeader = false), cuts) match {
      case Some((parsed, split)) => result(parsed, split)
      case None => loadOneTask(spark, path, schema, delimiter, split = Split(1, 1))
    }

  private def result(parsed: DataFrame, split: Split): LoadResult =
    LoadResult(
      parsed.filter(col(Schemas.Rejected).isNull).drop(Schemas.Rejected),
      parsed.filter(col(Schemas.Rejected).isNotNull).select(col(Schemas.Rejected)),
      parsed, split)
}
