package graft.tools

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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

/** Single-query slice of [[graft.Verify]]: dumps only the named queries
  * (plus their oracle SQL) so tools/oracle_check.py can gate one new
  * operator without the full catalog run. Usage:
  *   sbt "runMain graft.tools.VerifyOne /tmp/out /root/testdata/sf0.01 t23_canonical_docs"
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val (outDir, sfDir, names) = (args(0), args(1), args.drop(2).toSet)
    val spark = graft.Sessions.graftDefaults(SparkSession.builder())
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.filter(kv => names.contains(kv._1)).foreach {
      case (name, fn) =>
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        graft.Lifecycle.release(spark)
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSqlFor(sfDir)
      .filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

/** Dev-only timing probe for stage-level cost attribution. */
object Probe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.graftDefaults(SparkSession.builder())
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"PROBE $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs rows=$n")
    }

    import graft.functions.TextFunctions._
    val docs = Tables.documents(spark, d)
    val shingleIdx = docs
      .repartition(32)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(shingles3(col("toks"))).as("shingle"))

    time("shingle_index")(shingleIdx.count())
    val h31 = xxhash64(col("shingle")).bitwiseAND(lit(0x7FFFFFFFL)).as("h")
    val rnd = new scala.util.Random(42)
    val hashA = Array.fill(64)(rnd.nextInt(Int.MaxValue - 1).toLong + 1L)
    val hashB = Array.fill(64)(rnd.nextInt(Int.MaxValue).toLong)
    val mins = (0 until 64).map { j =>
      min((lit(hashA(j)) * col("h") + lit(hashB(j))) % lit(2305843009213693951L)).as(s"mh$j")
    }
    val sig = shingleIdx.select(col("doc_id"), h31).groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    time("minhash_signature")(sig.count())
    val bandCols = (0 until 32).map { b =>
      xxhash64((b * 2 until (b + 1) * 2).map(j => col(s"mh$j")): _*)
    }
    val bands = sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
    time("bands")(bands.count())
    val x = bands.select(col("doc_id").as("doc1"), col("band_idx"), col("band_hash"))
    val y = bands.select(col("doc_id").as("doc2"), col("band_idx").as("bi2"), col("band_hash").as("bh2"))
    val cand = x.join(y, x("band_idx") === y("bi2") && x("band_hash") === y("bh2") && col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2")).distinct()
    time("candidates")(cand.count())

    // cosine pairs stages
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    time("emb_cast")(emb.count())
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (p, q) => p * q), lit(0.0), (acc, p) => acc + p)
    val a2 = emb.select(col("vec_id").as("id1"), col("e").as("e1"))
    val b2 = emb.select(col("vec_id").as("id2"), col("e").as("e2"))
    val pairs = a2.repartition(32).join(b2, col("id1") < col("id2"))
    time("pair_count")(pairs.count())
    time("pair_dot")(pairs.select(dot(col("e1"), col("e2")).as("c")).filter(col("c") > 2).count())
    locally {
      val sets = docs.repartition(32)
        .select(col("doc_id"), shingles3(tokens(col("text"))).as("sh"))
        .filter(size(col("sh")) > 0)
      val s1 = sets.select(col("doc_id").as("doc1"), col("sh").as("sh1"))
      val s2 = sets.select(col("doc_id").as("doc2"), col("sh").as("sh2"))
      val candM = cand.cache()
      time("cand_cached")(candM.count())
      time("verify_joins_only")(candM.join(s1, "doc1").join(s2, "doc2").count())
      time("verify_bcast")(candM.join(broadcast(s1), "doc1").join(broadcast(s2), "doc2")
        .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
        .filter(col("inter") > 0).count())
      time("verify_only")(candM.join(s1, "doc1").join(s2, "doc2")
        .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
        .filter(col("inter") > 0).count())
    }
    locally {
      import graft.operators.TextDedup
      time("op_shingle_index")(TextDedup.shingleIndex(spark, d).count())
      time("op_sig")(TextDedup.minHashSignature(spark, d).count())
      val c2 = spark.createDataFrame(
        cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq).toDF("doc1", "doc2")
      TextDedup.verifyJaccard(spark, d, c2).explain("formatted")
      time("op_verify_static_cand")(TextDedup.verifyJaccard(spark, d, c2).count())
    }
    time("t07_cold")(graft.operators.TextDedup.t07.fn(spark, d).count())
    time("t07_warm")(graft.operators.TextDedup.t07.fn(spark, d).count())
    time("t02_cold")(graft.operators.TextDedup.t02.fn(spark, d).count())
    time("t02_warm")(graft.operators.TextDedup.t02.fn(spark, d).count())
    time("s01_cold")(graft.operators.Similarity.s01.fn(spark, d).count())
    time("s01_warm")(graft.operators.Similarity.s01.fn(spark, d).count())
    spark.stop()
  }
}

/** One-off evidence tool: lshPairs (t09 candidate generator) vs the
  * all-pairs s01 baseline at an arbitrary SF dir. The dedup banding must
  * reach recall 1.0 — t09's gate oracle is derived from s01. */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.graftDefaults(SparkSession.builder())
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Similarity
    val t0 = System.nanoTime()
    val exact = Similarity.s01.fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t1 = System.nanoTime()
    val lsh = Similarity.lshPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t2 = System.nanoTime()
    println(f"RECALLCHECK dir=$d exact=${exact.size} (${(t1 - t0) / 1e9}%.2fs) " +
      f"lsh=${lsh.size} (${(t2 - t1) / 1e9}%.2fs) missed=${exact.diff(lsh).size} invented=${lsh.diff(exact).size}")
    if (exact.diff(lsh).nonEmpty) println("MISSED: " + exact.diff(lsh).take(10))
    spark.stop()
  }
}

/** Targeted per-query timer: min-of-3 `.count()` per named catalog query
  * at SPARK_GRAFT_SF_DIR, same measurement as graft.Bench but scoped —
  * the before/after loop for single-operator perf work. Usage:
  *   sbt "runMain graft.tools.TimeQueries sk03_bloom_decon t15_decontamination"
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.graftDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = graft.SparkEntry.queries
    args.foreach { name =>
      val fn = qs(name)
      // one warmup at sf0.001 (codegen/JIT), then min-of-3 timed; a
      // failed warmup is VISIBLE (run 1 then absorbs JIT cost — the
      // 0.1-0.3s class this tool exists to resolve)
      try { fn(spark, "/root/testdata/sf0.001").count() }
      catch { case e: Throwable =>
        System.err.println(s"[time] $name warmup skipped: ${e.getMessage}") }
      graft.Lifecycle.release(spark)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, d).count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.Lifecycle.release(spark)
        dt
      }
      println(f"TIME $name%-28s min=${ts.min}%6.2fs runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}

/** Same-window cost audit of the t06 stats-gated dispatch: times the
  * direct inverted-index plan against the catalog default (hatched,
  * df-profile-gated) on the SAME session at SPARK_GRAFT_SF_DIR. The
  * delta is the price of the df-profile pass when no shingle is hot —
  * the number the r10 default flip is accountable to (PLANS.md). */
object T06DispatchAudit {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.graftDefaults(SparkSession.builder())
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timeMin(label: String)(f: => Long): Double = {
      f // warmup (codegen/JIT)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"T06PAIR $label%-8s min=${ts.min}%5.2fs runs=${ts.map(t => f"$t%.2f").mkString(",")}")
      ts.min
    }
    val td = timeMin("direct")(graft.operators.TextDedup.jaccardPairsDirect(spark, d).count())
    val ti = timeMin("inline")(graft.operators.TextDedup.jaccardPairsHatched(spark, d).count())
    val th = timeMin("default")(graft.operators.TextDedup.t06.fn(spark, d).count())
    println(f"T06PAIR inline-profile overhead  = ${ti - td}%+.2fs (${(ti / td - 1) * 100}%+.0f%%)")
    println(f"T06PAIR persisted-profile overhead = ${th - td}%+.2fs (${(th / td - 1) * 100}%+.0f%%)")
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
