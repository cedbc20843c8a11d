package graft.perfbench

import graft.{Lifecycle, SparkEntry}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One catalog entry's outcome in one pass. */
final case class EntryResult(name: String, module: String, seconds: Double,
                             rows: Long, hash: String, error: Option[String])

/** Runs catalog entries in sorted order, each with a `noop` write of
  * `df.observe(row count, order-insensitive content hash)`: the write
  * consumes every column and keeps the final sort, and the observation
  * is the entry's correctness check in the same action.
  * `Lifecycle.release` runs after each entry, off the clock. */
final class CatalogRun(spark: SparkSession, dataDir: String, names: Seq[String], tracer: Tracer) {
  private val byName = SparkEntry.catalogs.map(q => q.name -> q).toMap
  val entries: Seq[String] = names.sorted

  def pass(label: String, forceFail: Option[String] = None): Seq[EntryResult] =
    tracer.span(s"pass.$label") {
      entries.map { name =>
        val module = CatalogRun.moduleOf(name)
        val t0 = System.nanoTime()
        val out = tracer.span(s"$label/$name") {
          scala.util.Try {
            if (forceFail.contains(name)) sys.error("forced failure")
            CatalogRun.observe(byName(name).fn(spark, dataDir))
          }
        }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"perfbench $label $name%s $dt%.3f s")
        Lifecycle.release(spark)
        out match {
          case scala.util.Success((rows, hash)) => EntryResult(name, module, dt, rows, hash, None)
          case scala.util.Failure(e) => EntryResult(name, module, dt, -1, "", Some(e.toString))
        }
      }
    }
}

object CatalogRun {
  /** Catalog module of each entry, named as in `SparkEntry.catalogs`. */
  val modules: Seq[(String, Seq[graft.QueryDef])] = {
    import graft.operators._
    Seq("Relational" -> Relational.catalog, "TextDedup" -> TextDedup.catalog,
      "Similarity" -> Similarity.catalog, "Multimodal" -> Multimodal.catalog,
      "SourcesStreaming" -> SourcesStreaming.catalog, "Advanced" -> Advanced.catalog,
      "Corpus" -> Corpus.catalog, "TabjoltParity" -> TabjoltParity.catalog,
      "Sketches" -> Sketches.catalog)
  }
  private lazy val moduleByName: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  def moduleOf(name: String): String = moduleByName.getOrElse(name, "?")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** (row count, content hash): the sum over rows of an xxhash64 of every
    * column, as a decimal so it cannot overflow. Map columns, which
    * Spark will not hash, are hashed through their JSON text. */
  def observe(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val rowHash: Column = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hash").toString)
  }
}
