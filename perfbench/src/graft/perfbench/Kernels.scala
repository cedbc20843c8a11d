package graft.perfbench

import graft.functions.{TextExpressions, TextFunctions, VectorExpressions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rows per second of each public `graft_*` kernel over the generated
  * `documents` text (replicated to `rows` rows) and `embeddings`, and of
  * the built-in composition `tokensHof` that `graft_tokens` replaced. */
object Kernels {
  val TextKernels: Seq[String] = TextExpressions.registrations.map(_._1.funcName)

  def run(spark: SparkSession, dataDir: String, rows: Int): Seq[(String, Double)] = {
    TextExpressions.register(spark)
    VectorExpressions.register(spark)
    def replicate(df: DataFrame): DataFrame = {
      val n = df.count()
      df.crossJoin(spark.range(math.max(1L, rows / math.max(1L, n))).toDF("rep"))
        .drop("rep").repartition(spark.sparkContext.defaultParallelism).cache()
    }
    val docs = replicate(graft.Tables.documents(spark, dataDir).select("text"))
    val emb = replicate(graft.Tables.embeddings(spark, dataDir)
      .select(col("embedding").cast("array<double>").as("embedding")))
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    def rate(df: DataFrame, n: Double): Double = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      n / Stats.median(times)
    }
    val text = TextKernels.map(k => k -> rate(docs.select(call_function(k, col("text"))), nDocs))
    val dot = "graft_dot" -> rate(emb.select(call_function("graft_dot", col("embedding"), col("embedding"))), nEmb)
    val builtin = rate(docs.select(TextFunctions.tokensHof(col("text"))), nDocs)
    docs.unpersist(); emb.unpersist()
    val tokens = text.find(_._1 == "graft_tokens").map(_._2).getOrElse(Double.NaN)
    (text :+ dot).map { case (k, v) => s"kernel.$k.rows_per_s" -> v } :+
      ("kernel.graft_tokens.vs_builtin" -> tokens / builtin)
  }
}
