package graft.perfbench

import java.io.File
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the catalog's ten tables with the column names,
  * types and value domains the catalog entries read (a TPC-H-like star,
  * an `events` stream, `documents` with near-duplicates and 64-d
  * `embeddings` around ten label centroids). `scale` 1 gives the
  * smallest fixture size: 6,000 lineitem rows, 500 documents. Each table
  * is written as one `<name>.parquet` file. */
object CatalogData {
  private val Words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "the", "a", "line", "sort", "window", "spark", "order", "data",
    "column", "join", "small", "big", "customer", "query", "filter", "group", "stream", "vector")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def ts(t: LocalDateTime): Timestamp = Timestamp.valueOf(t)

  def generate(spark: SparkSession, dir: File, scale: Int, seed: Long): Unit = {
    dir.mkdirs()
    // TIMESTAMP_MICROS, the encoding other engines read as a plain
    // timestamp; set on a child session so the engine's session keeps
    // its own defaults
    val writer = spark.newSession()
    writer.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val r = new SplittableRandom(seed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = new File(dir, s".$name.tmp")
      writer.createDataFrame(writer.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
      graft.Lifecycle.deleteRecursively(tmp)
    }
    def f(n: String, t: DataType) = StructField(n, t)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
    val nCust = 150 * scale
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), segments(r.nextInt(5)))))

    val nSupp = 10 * scale
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))))

    val colors = Seq("small", "red", "blue", "green", "large", "shiny")
    val nouns = Seq("ring", "widget", "bolt", "gear", "plate", "spring")
    val types = Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")
    val nPart = 200 * scale
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${colors(r.nextInt(6))} ${nouns(r.nextInt(6))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        math.round((900.0 + (i % 1000) * 0.1) * 100) / 100.0)))

    val nOrd = 1500 * scale
    val day0 = LocalDate.of(1995, 1, 1)
    val orderDates = Array.fill(nOrd)(day0.plusDays(r.nextInt(2400).toLong))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        money(r, 1000, 500000), ts(orderDates(i).atStartOfDay), priorities(r.nextInt(5)))))

    val lines = scala.collection.mutable.ArrayBuffer.empty[Row]
    var o = 0
    while (lines.size < 6000 * scale) {
      val n = 1 + r.nextInt(7)
      for (ln <- 1 to n) {
        val qty = (1 + r.nextInt(50)).toDouble
        lines += Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, qty,
          math.round(qty * money(r, 900, 2000) * 100) / 100.0, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
          ts(orderDates(o % nOrd).plusDays(1L + r.nextInt(120)).atStartOfDay))
      }
      o += 1
    }
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      lines.take(6000 * scale).toSeq)

    val nEv = 1000 * scale
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val offsets = Array.fill(nEv)(r.nextLong(30L * 86400L * 1000000L)).sorted
    val evTypes = Seq("click", "signup", "error", "view", "purchase")
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until nEv).map(i => Row(i.toLong, ts(t0.plusNanos(offsets(i) * 1000L)), r.nextInt(150).toLong,
        evTypes(r.nextInt(5)), money(r, 0.01, 490.02), s"""{"k": ${r.nextInt(100)}}""")))

    // one document in ten is a light edit of an earlier one, so the
    // near-duplicate families have pairs to find
    val nDoc = 500 * scale
    val langs = Seq("en", "zh", "de", "fr", "es")
    val texts = new Array[String](nDoc)
    for (i <- 0 until nDoc) {
      texts(i) =
        if (i > 10 && r.nextInt(10) == 0) {
          val w = texts(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = Words(r.nextInt(Words.size))
          w.mkString(" ")
        } else Seq.fill(10 + r.nextInt(80))(Words(r.nextInt(Words.size))).mkString(" ")
    }
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until nDoc).map(i => Row(i.toLong, texts(i), langs(r.nextInt(5)), s"src${i % 20}",
        texts(i).length.toLong)))

    val nEmb = 500 * scale
    val centroids = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until nEmb).map { i =>
        val label = r.nextInt(10)
        val v = centroids(label).map(c => c + (r.nextDouble() - 0.5) * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
