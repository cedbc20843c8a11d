package org.apache.spark.sql

import java.io.InputStream
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Package-placed shim (the [[GraftBridge]] convention) for parsing a
  * byte stream exactly as Spark's multiLine CSV reader parses one file:
  * the same `CSVOptions` construction from the same option map, the same
  * `UnivocityParser` and the same `UnivocityParser.parseStream` call.
  * [[graft.tabjolt.Ingest]] uses it to parse one file in byte ranges. */
object GraftCsv {

  /** The options the CSV file source builds from `options` on this
    * session (session time zone, column pruning and corrupt-record
    * defaults included). */
  def options(spark: SparkSession, options: Map[String, String]): CSVOptions = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
  }

  /** What the reader yields for a file holding the bytes of `in`
    * (`schema` includes the corrupt-record column). */
  def parse(in: InputStream, options: CSVOptions, schema: StructType,
            startOfFile: Boolean): Iterator[InternalRow] = {
    val data = StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord))
    UnivocityParser.parseStream(in, new UnivocityParser(data, data, options),
      new CSVHeaderChecker(data, options, "CSV byte range", startOfFile), schema)
  }

  /** Counts a parse's rows and bytes in the running task's input
    * metrics, as the file scan does for the rows it reads. */
  def countInput(records: Long, bytes: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { t =>
      t.taskMetrics().inputMetrics.incRecordsRead(records)
      t.taskMetrics().inputMetrics.incBytesRead(bytes)
    }

  /** The session's Hadoop configuration, broadcast once, as a supplier
    * that tasks can call. */
  def hadoopConf(spark: SparkSession): () => Configuration = {
    val sc = spark.sparkContext
    val b = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    () => b.value.value
  }
}
