package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Catalog-level invariants on the sf0.001 test tables. The DuckDB
  * hash-match oracle is the primary gate (tools/oracle_check.py); these
  * specs pin cross-cutting properties that the oracle can't see. */
class OperatorsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every catalog query runs and is non-empty at sf0.001") {
    SparkEntry.catalogs.foreach { q =>
      val n = q.fn(spark, sf).count()
      assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("query and oracle column names agree (driver hashes sorted-by-name)") {
    SparkEntry.catalogs.foreach { q =>
      val cols = q.fn(spark, sf).columns.toSet
      (q.oracle.toSeq ++ q.oracleLate.map(_(sf))).foreach { sql =>
        // cheap structural check: every output column name must appear
        // verbatim in the oracle SQL text (late oracles checked against
        // the SQL they generate for this sfDir)
        cols.foreach(c => assert(sql.contains(c), s"${q.name}: '$c' not in oracle SQL"))
      }
    }
  }

  test("minhash LSH output equals the exact inverted-index jaccard pairs") {
    val exact = TextDedup.t06.fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.t07.fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash candidates are near-dups: every hamming<=6 pair has high exact jaccard") {
    val sim = TextDedup.t08.fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = TextDedup.t06.fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash at <=6/64 bits is a tighter family than jaccard>=0.6; it
    // must not invent pairs outside the exact near-dup set
    assert(sim.subsetOf(exact), s"simhash invented pairs: ${sim.diff(exact)}")
    assert(sim.nonEmpty)
  }

  test("dedup LSH pair generation is exhaustive vs all-pairs s01 at sf0.001") {
    // t09 hash-matches an all-pairs oracle, so lshPairs' recall must be
    // EXACTLY 1.0 on this corpus — not approximately. Planes are
    // fixed-seed, so this is deterministic; P=2 x T=32 banding puts the
    // worst-case per-pair miss at ~6e-8 for cos >= 0.38.
    val exact = Similarity.s01.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact,
      s"missed=${exact.diff(lsh)} invented=${lsh.diff(exact)}")
    assert(exact.nonEmpty)
  }

  test("multi-table LSH ANN reaches >=50% top-3 recall vs brute force at sf0.001") {
    val brute = Similarity.s02.fn(spark, sf).collect()
      .filter(_.getInt(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.s03.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(f"LSH top-3 recall vs brute force: $recall%.2f")
    // worst-case corpus for LSH (neighbors at ~60deg); T=8 x P=4 predicts ~0.8
    assert(recall >= 0.5, f"recall $recall%.2f")
  }

  test("s12 two-stage re-rank: stage-2 cosines exact, high recall vs the float top-3") {
    val brute = Similarity.s02.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
    val bruteCos = brute.map { case (k, (c, _)) => k -> c }.toMap
    val bruteTop3 = brute.filter(_._2._2 <= 3).map(_._1).toSet
    val rr = Similarity.s12.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(rr.nonEmpty)
    // stage 2 is the EXACT cosine: any pair also in the brute top-5
    // must carry the identical double
    rr.foreach { case (k, c) =>
      bruteCos.get(k).foreach(b => assert(b == c, s"stage-2 cosine drift on $k"))
    }
    // the quantized shortlist must keep (almost all of) the true top-3:
    // the two-stage answer's whole value is exactness-at-scan-savings
    val recall = (rr.map(_._1).toSet & bruteTop3).size.toDouble / bruteTop3.size
    info(f"two-stage top-3 recall vs exact: $recall%.2f")
    assert(recall >= 0.8, f"shortlist lost the true top-3: recall $recall%.2f")
  }

  test("IVF ANN returns correctly-ranked exact cosines from probed cells") {
    val brute = Similarity.s02.fn(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = Similarity.s04.fn(spark, sf).collect()
    assert(ivf.nonEmpty)
    // cosines inside the probed cells must be the exact brute-force values
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(c => assert(c == r.getDouble(2), s"$key"))
    }
    val recall = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(brute.keySet.filter(k => Similarity.s02.fn(spark, sf)
        .collect().filter(_.getInt(3) <= 3)
        .map(x => (x.getLong(0), x.getLong(1))).contains(k))).size
    info(s"IVF hits among brute-force top-5 pairs: $recall")
  }

  test("IVF index is rebuilt when the corpus at the same path is regenerated") {
    val scratch = java.nio.file.Files.createTempDirectory("ivf_corpus").toFile
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
    src.write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val dir1 = Similarity.IvfIndex.indexDirFor(scratch.getAbsolutePath)
    val (_, a1) = Similarity.IvfIndex.ensure(spark, scratch.getAbsolutePath)
    val n1 = a1.count()
    assert(new java.io.File(dir1, "centroids/_SUCCESS").exists())
    // regenerate the corpus at the SAME path with different content: the
    // fingerprint must change and ensure() must serve the NEW data, not
    // the stale persisted index
    src.limit(100).write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val dir2 = Similarity.IvfIndex.indexDirFor(scratch.getAbsolutePath)
    assert(dir1 != dir2, "fingerprint did not change with the corpus")
    val (_, a2) = Similarity.IvfIndex.ensure(spark, scratch.getAbsolutePath)
    assert(n1 > 100 && a2.count() == 100)
  }

  test("hot-shingle hatch (the t06 default) is result-identical to the direct plan, even forced fully hot") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12))).toSeq
    val direct = rows(TextDedup.jaccardPairsDirect(spark, sf))
    assert(direct.nonEmpty)
    // default threshold: no shingle is hot on this corpus -> the catalog
    // t06 (stats-gated hatch) must degrade to the direct result
    assert(rows(TextDedup.t06.fn(spark, sf)) == direct)
    // hotDf=2 routes EVERY shared shingle through the blocked self-join:
    // the strongest exactness check (all pairs come from the hot stream)
    assert(rows(TextDedup.jaccardPairsHatched(spark, sf, hotDf = 2, blocks = 4)) == direct)
    // same force applied through the EXTERNAL hot-set arm (the persisted
    // HotShingleProfile path): every distinct shingle marked hot
    val allHot = TextDedup.shingleFrame(spark, sf)
      .select(org.apache.spark.sql.functions.col("shingle")).distinct()
    assert(rows(TextDedup.jaccardPairsOnHot(spark, sf, allHot, blocks = 4)) == direct)
    // the adaptive arm (blocks unset) must also stay exact: allHot has
    // no df column, so blocksFor degrades to the floor
    assert(rows(TextDedup.jaccardPairsOnHot(spark, sf, allHot)) == direct)
  }

  test("blocksFor sizes the salting from the profiled max df") {
    import spark.implicits._
    def hotOf(dfs: Long*) = dfs.map(d => ("s", d)).toDF("shingle", "df")
    assert(TextDedup.blocksFor(hotOf(7500L)) == 32)        // floor holds
    assert(TextDedup.blocksFor(hotOf(100000L)) == 1250)    // df²/2 / 4M
    assert(TextDedup.blocksFor(hotOf(500L, 100000L)) == 1250) // max df rules
    assert(TextDedup.blocksFor(hotOf(1000000L)) == 4096)   // explode cap
    assert(TextDedup.blocksFor(hotOf()) == 32)             // empty hot set
    assert(TextDedup.blocksFor(
      Seq("s").toDF("shingle")) == 32)                     // pre-l1 profile
  }

  test("t22 head hatch and t20 agg hatch are result-identical to the directs") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case d: Double => math.round(d * 1e12)
        case x => x
      }).toSeq
    // headK=3 forces a real head/tail split on this corpus
    assert(rows(TextDedup.t22HeadHatch(spark, sf, headK = 3)) ==
      rows(TextDedup.t22.fn(spark, sf)))
    assert(rows(TextDedup.t20AggHatch(spark, sf)) == rows(TextDedup.t20.fn(spark, sf)))
  }

  test("pair index is rebuilt when the corpus at the same path is regenerated") {
    val scratch = java.nio.file.Files.createTempDirectory("pairs_corpus").toFile
    val src = spark.read.parquet(s"$sf/documents.parquet")
    src.write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val dir1 = TextDedup.PairIndex.indexDirFor(scratch.getAbsolutePath)
    val p1 = TextDedup.PairIndex.ensure(spark, scratch.getAbsolutePath).count()
    assert(new java.io.File(dir1, "pairs/_SUCCESS").exists())
    // regenerate the corpus at the SAME path with different content: the
    // fingerprint must change and ensure() must serve pairs of the NEW
    // corpus, not the stale persisted index
    val subset = src.orderBy("doc_id").limit(100)
    val keep = subset.select("doc_id").collect().map(_.getLong(0)).toSet
    subset.write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val dir2 = TextDedup.PairIndex.indexDirFor(scratch.getAbsolutePath)
    assert(dir1 != dir2, "fingerprint did not change with the corpus")
    val p2 = TextDedup.PairIndex.ensure(spark, scratch.getAbsolutePath).collect()
    assert(p1 > 0)
    p2.foreach { r =>
      assert(keep.contains(r.getLong(0)) && keep.contains(r.getLong(1)))
    }
  }

  test("embedding dedup keep-map index is rebuilt on regeneration and equals the inline derivation") {
    import org.apache.spark.sql.functions.{col, min}
    // result-identity with the non-persisted pipeline on the main corpus
    val fromIndex = Advanced.EmbDedupIndex.ensure(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Similarity.lshPairsDedupRaw(spark, sf)
      .groupBy(col("id2").as("vec_id")).agg(min(col("id1")).as("keep_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex == inline)
    // staleness: regenerating embeddings at the same path changes the dir
    val scratch = java.nio.file.Files.createTempDirectory("embdedup_corpus").toFile
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
    src.write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val dir1 = Advanced.EmbDedupIndex.indexDirFor(scratch.getAbsolutePath)
    assert(Advanced.EmbDedupIndex.ensure(spark, scratch.getAbsolutePath).count() > 0)
    src.orderBy("vec_id").limit(100)
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val dir2 = Advanced.EmbDedupIndex.indexDirFor(scratch.getAbsolutePath)
    assert(dir1 != dir2, "fingerprint did not change with the corpus")
  }

  test("s03 signature index is rebuilt when the corpus is regenerated") {
    val scratch = java.nio.file.Files.createTempDirectory("sig_corpus").toFile
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
    src.write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val dir1 = Similarity.SigIndex.indexDirFor(scratch.getAbsolutePath)
    val n1 = Similarity.SigIndex.ensure(spark, scratch.getAbsolutePath).count()
    assert(new java.io.File(dir1, "signatures/_SUCCESS").exists())
    src.limit(100).write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val dir2 = Similarity.SigIndex.indexDirFor(scratch.getAbsolutePath)
    assert(dir1 != dir2, "fingerprint did not change with the corpus")
    // 8 LSH tables -> one (tbl, bucket) row per table per vector
    val n2 = Similarity.SigIndex.ensure(spark, scratch.getAbsolutePath).count()
    assert(n1 > n2 && n2 == 100L * 8)
  }

  test("signature kernels keep t07/t08 free of the per-doc aggregate shuffle") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    def hx(df: org.apache.spark.sql.DataFrame): Int =
      "hashpartitioning".r.findAllIn(plan(df)).length
    // the per-row kernels replaced the 64-min / 60-vote aggregates whose
    // shuffle partitioned on the bare doc_id; that exchange must never
    // come back. lshPairs' remaining exchanges are the candidate
    // distinct + the verify join's SHUFFLE_HASH sides (doc1/doc2) — the
    // r15 guard that pins the corpus-sized shingle-set sides out of a
    // stats-underestimated broadcast (count pinned so a new exchange is
    // noticed). t07 itself is a read of the persisted pair index: NO
    // hash exchange at all.
    val lp = plan(TextDedup.lshPairs(spark, sf))
    assert(!lp.contains("hashpartitioning(doc_id"),
      "the per-doc signature-aggregate shuffle came back")
    // upper bound, not an exact pin (r15 ADVICE): the real invariant is
    // the absence of the per-doc aggregate exchange (asserted above by
    // name); a benign planner/AQE exchange-count change must not fail it
    assert("hashpartitioning".r.findAllIn(lp).length <= 5, s"plan:\n$lp")
    assert(hx(TextDedup.t07.fn(spark, sf)) == 0)
    // t08's one remaining exchange (the chunk-hash clustering) is ELIDED
    // outright when the byte-derived kernel width is 1 — a
    // SinglePartition child satisfies the clustering requirement, so
    // EnsureRequirements adds no shuffle. Exact, derived from the width
    // of t08's kernel input (the documents scan).
    val t08Width = Fanout.widthFor(graft.Tables.documents(spark, sf))
    assert(hx(TextDedup.t08.fn(spark, sf)) == (if (t08Width == 1) 0 else 1),
      s"t08 kernel width $t08Width")
  }

  test("decontamination broadcasts the benchmark shingle side") {
    val plan = TextDedup.t15.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("repetition ratio is per-row: no aggregate/join shuffle in the plan") {
    val plan = TextDedup.t16.fn(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), s"unexpected shuffle in:\n$plan")
  }

  test("pricing summary plan pushes the shipdate filter into the parquet scan") {
    val plan = Relational.q14.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"expected pushed filter in:\n$plan")
  }

  test("star rollup broadcasts the dimension tables") {
    val plan = Relational.q11.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("t29 blocklist scrub partitions every document and scrubs by CONTENT") {
    import org.apache.spark.sql.functions.{col, lower, md5, regexp_replace, trim}
    val out = TextDedup.t29.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // audit identity: blocked + kept == docs, per source and in total
    assert(out.forall { case (_, n, b, k) => b + k == n })
    val docs = graft.Tables.documents(spark, sf)
    assert(out.map(_._2).sum == docs.count())
    // content semantics: every doc sharing a blocklisted digest is
    // blocked, even when its own doc_id is not on the stand-in slice
    val dg = docs.select(col("doc_id"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("digest"))
    val blockDigests = dg.filter(col("doc_id") % 31 === 5)
      .select("digest").collect().map(_.getString(0)).toSet
    val expectBlocked = dg.collect()
      .count(r => blockDigests.contains(r.getString(1)))
    assert(out.map(_._3).sum == expectBlocked && expectBlocked > 0)
    // both probes stay broadcast: the corpus side never shuffles
    val plan = TextDedup.t29.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
  }

  test("t30 deletion-neighborhood join finds EVERY pair within edit distance 2") {
    import spark.implicits._
    // crafted typo families: transposition (from/form), deletion chains
    // (spark/sprk/park), substitution (cable/table), plus unrelated
    // far words that must NOT pair
    val words = Seq("from", "form", "fom", "fork", "spark", "spork", "sprk",
      "park", "table", "tale", "tble", "cable", "alpha", "omega")
    val scratch = java.nio.file.Files.createTempDirectory("typo_corpus").toFile
    words.zipWithIndex.map { case (w, i) =>
      (i.toLong, s"$w padding words", "en", "srcX", w.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val got = TextDedup.t30.fn(spark, scratch.getAbsolutePath).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val vocab = (words ++ Seq("padding", "words")).filter(_.length >= 3).distinct
    val want = (for {
      a <- vocab; b <- vocab if a < b && lev(a, b) <= 2
    } yield (a, b)).toSet
    assert(got == want && want.nonEmpty, s"got $got, want $want")
    assert(want.contains(("form", "from")) && want.contains(("park", "spark")))
    assert(!got.exists { case (a, b) => lev(a, b) > 2 })
  }

  test("t25 incremental dedup agrees with the t07 pair set") {
    import org.apache.spark.sql.functions.col
    val rows = TextDedup.t25.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val batch = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 7)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(rows.map(_._1).toSet == batch)
    val pairs = TextDedup.t07.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectedDropped = batch.filter { b =>
      pairs.exists { case (a, c) =>
        (c == b && (a % 10 != 7 || a < b)) || (a == b && (c % 10 != 7 || c < b))
      }
    }
    val dropped = rows.filterNot(_._2).map(_._1).toSet
    assert(dropped == expectedDropped,
      s"missed=${expectedDropped.diff(dropped)} invented=${dropped.diff(expectedDropped)}")
  }

  test("q26 merge applies updates in place, appends inserts, leaves the rest") {
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.orders(spark, sf)
    val n = base.count()
    val nUpd = base.filter(col("o_orderkey") % 17 === 0).count()
    val nIns = base.filter(col("o_orderkey") % 23 === 0).count()
    val m = Relational.q26.fn(spark, sf)
    assert(m.count() == n + nIns)
    assert(m.filter(col("o_orderstatus") === "X").count() == nUpd)
    assert(m.filter(col("o_orderkey") >= 1000000000L).count() == nIns)
    assert(nUpd > 0 && nIns > 0)
    // a key not in the change batch survives byte-identical
    val untouched = base.filter(col("o_orderkey") % 17 =!= 0).limit(1).collect()(0)
    val after = m.filter(col("o_orderkey") === untouched.getLong(0)).collect()(0)
    assert(after.getString(2) == untouched.getAs[String]("o_orderstatus"))
    assert(after.getDouble(3) == untouched.getAs[Double]("o_totalprice"))
  }

  test("q25 runs the whole window suite on ONE hash exchange") {
    val plan = Advanced.q25.fn(spark, sf).queryExecution.executedPlan.toString
    // all six window functions share (partition, order): one shuffle on
    // user_id feeds every frame; a second hashpartitioning means a frame
    // stopped sharing the exchange
    assert("hashpartitioning".r.findAllIn(plan).length == 1, s"plan:\n$plan")
  }

  test("s06 drops exactly the vectors dominated by a smaller-id cell-mate (vs s01 exact pairs)") {
    val rows = Similarity.s06.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(rows.length == graft.Tables.embeddings(spark, sf).count())
    val cellOf = rows.map(r => r._1 -> r._2).toMap
    // s01 is the exhaustive cos>=threshold pair set; s06 must drop a
    // vector iff one of its s01 partners has a SMALLER id and the SAME cell
    val pairs = Similarity.s01.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectedDropped = pairs.collect {
      case (a, b) if cellOf(a) == cellOf(b) => b
    }.toSet
    val dropped = rows.filterNot(_._3).map(_._1).toSet
    assert(dropped == expectedDropped,
      s"missed=${expectedDropped.diff(dropped)} invented=${dropped.diff(expectedDropped)}")
  }

  test("t26 chunk dedup: exact-replica docs keep zero spans; clean docs round-trip") {
    val rows = TextDedup.t26.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // independent driver-side re-implementation over the raw corpus
    val docs = graft.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .sortBy(_._1)
    val chunksOf = docs.map { case (id, text) =>
      val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      id -> toks.grouped(16).map(_.mkString(" ")).toVector
    }
    val seen = scala.collection.mutable.HashSet[String]()
    val expected = chunksOf.toSeq.map { case (id, cs) =>
      val kept = cs.filter(seen.add) // first occurrence in (doc_id, cidx) order
      (id, cs.size.toLong, kept.size.toLong, kept.mkString(" "))
    }.filter(_._2 > 0)
    assert(rows.sortBy(_._1) == expected.sortBy(_._1))
    // the dedup is non-trivial on this corpus (near-dups share spans)...
    assert(rows.exists(r => r._3 < r._2), "no duplicate span was dropped")
    // ...and a clean doc round-trips to its normalized token join
    assert(rows.exists(r => r._2 == r._3 && r._4.nonEmpty))
  }

  test("e05 transition probabilities row-normalize and counts cover the timeline") {
    import org.apache.spark.sql.functions.col
    val rows = Advanced.e05.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val byFrom = rows.groupBy(_._1)
    byFrom.foreach { case (f, ts) =>
      val psum = ts.map(_._4).sum
      assert(math.abs(psum - 1.0) < 1e-9, s"from=$f sums to $psum")
    }
    // transitions = events - users-with-events (each user: count-1 pairs)
    val ev = graft.Tables.events(spark, sf)
    val expected = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(rows.map(_._3).sum == expected)
  }

  test("q27 decorrelates to the argmax-per-group result (and broadcasts the agg side)") {
    import org.apache.spark.sql.functions.{col, max}
    val got = Relational.q27.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val o = graft.Tables.orders(spark, sf)
    val best = o.groupBy(col("o_custkey")).agg(max(col("o_totalprice")).as("m"))
    val expected = o.join(best, "o_custkey")
      .filter(col("o_totalprice") === col("m"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    // the correlated subquery must lower to a join, not a per-row loop
    val plan = Relational.q27.fn(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Subquery"), s"subquery survived decorrelation:\n$plan")
  }

  test("r05 ORC round-trip preserves schema types") {
    val src = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val back = SourcesStreaming.r05.fn(spark, sf)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
  }

  test("s07 quantized ANN recalls most of the float top-k (deterministic, so exact)") {
    val qz = Similarity.s07.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupMap(_._1)(_._2)
    val exact = Similarity.s02.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupMap(_._1)(_._2)
    val overlaps = exact.map { case (q, ns) =>
      ns.toSet.intersect(qz(q).toSet).size.toDouble / ns.size
    }.toSeq
    // int8 quantized MIPS (norm-corrected rank) vs float cosine: both
    // pipelines are fully deterministic, so these are exact corpus
    // constants, not bounds with slack (measured 0.98 mean / 0.8 min at
    // sf0.001; the uncorrected raw-qdot rank measured 0.68 / 0.6)
    assert(overlaps.min >= 0.8, s"min overlap ${overlaps.min}")
    assert(overlaps.sum / overlaps.size >= 0.95,
      s"mean overlap ${overlaps.sum / overlaps.size}")
  }

  test("v03 L1 divergence is driver-recomputed exactly; bounds hold") {
    val rows = Advanced.v03.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    rows.foreach { case (src, num, den, l1) =>
      assert(l1 >= 0.0 && l1 <= 2.0, s"$src: l1 $l1 out of [0,2]")
      assert(l1 == num.toDouble / den)
    }
    // independent recompute from raw tokens
    val occ = graft.Tables.documents(spark, sf).collect()
      .flatMap(r => r.getAs[String]("text").toLowerCase.trim
        .split("\\s+").filter(_.nonEmpty).map(r.getAs[String]("source") -> _))
    val bySrc = occ.groupBy(_._1)
    val allCnt = occ.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val an = occ.length.toLong
    rows.foreach { case (src, num, den, _) =>
      val cnt = bySrc(src).groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val n = bySrc(src).length.toLong
      val expNum = allCnt.map { case (t, ac) =>
        math.abs(cnt.getOrElse(t, 0L) * an - ac * n)
      }.sum
      assert(num == expNum && den == n * an, s"$src: $num/$den vs $expNum/${n * an}")
    }
  }

  test("t28 source matrix is canonicalized and accounts for every near-dup pair") {
    val rows = Corpus.t28.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.foreach { case (a, b, _) => assert(a <= b, s"uncanonical ($a, $b)") }
    val totalPairs = TextDedup.PairIndex.ensure(spark, sf).count()
    assert(rows.map(_._3).sum == totalPairs && totalPairs > 0)
  }

  test("e07 WAU dominates DAU and equals the 7-day union, driver-recomputed") {
    import org.apache.spark.sql.functions.{col, to_date}
    val rows = Advanced.e07.fn(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, dau, wau) => assert(wau >= dau, s"$d: wau $wau < dau $dau") }
    val ud = graft.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val byDay = ud.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    rows.foreach { case (d, dau, wau) =>
      assert(dau == byDay.getOrElse(d, Set.empty).size)
      val window = (0 to 6).flatMap(i => byDay.getOrElse(d.minusDays(i.toLong), Set.empty)).toSet
      assert(wau == window.size, s"$d: wau $wau != union ${window.size}")
    }
  }

  test("q29 LATERAL decorrelates to map-side WindowGroupLimit + broadcast join") {
    val plan = Relational.q29.fn(spark, sf).queryExecution.executedPlan.toString
    // the per-outer-row subquery must become the rank-window plan with
    // the partial top-k pushed below the exchange — not a nested loop
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"lateral executed as a loop join:\n$plan")
  }

  test("q30 latest-wins compaction keeps one row per key via WindowGroupLimit") {
    val plan = Relational.q30.fn(spark, sf).queryExecution.executedPlan.toString
    // the rn = 1 filter must push a partial top-1 below the exchange —
    // the shuffle carries O(keys) rows, not the change log
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
    val rows = Relational.q30.fn(spark, sf).collect()
    val keys = rows.map(r => (r.getLong(0), r.getString(1)))
    assert(keys.distinct.length == keys.length && rows.nonEmpty)
    // the kept row really is the key's maximum (ts, event_id)
    val ev = graft.Tables.events(spark, sf).collect()
      .map { r =>
        val ts = r.getAs[java.sql.Timestamp]("ts")
        // full-resolution ordering key (getTime alone drops micros)
        ((r.getLong(2), r.getString(3)),
          (ts.getTime / 1000 * 1000000000L + ts.getNanos, r.getLong(0)))
      }
      .groupMapReduce(_._1)(_._2)((a, b) => if (a._1 != b._1) { if (a._1 > b._1) a else b } else if (a._2 > b._2) a else b)
    rows.foreach { r =>
      val want = ev((r.getLong(0), r.getString(1)))
      assert(r.getLong(2) == want._2, s"key ${(r.getLong(0), r.getString(1))}")
    }
  }

  test("q28 set algebra partitions customer nations into both/customer_only") {
    import org.apache.spark.sql.functions.col
    val rows = Relational.q28.fn(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1)))
    val cN = graft.Tables.customer(spark, sf)
      .select(col("c_nationkey")).distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet
    val sN = graft.Tables.supplier(spark, sf)
      .select(col("s_nationkey")).distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet
    assert(rows.collect { case (k, "both") => k }.toSet == (cN & sN))
    assert(rows.collect { case (k, "customer_only") => k }.toSet == (cN -- sN))
    // the two tags partition exactly the customer nations: no dupes, no gaps
    assert(rows.map(_._1).toSet == cN && rows.length == cN.size)
  }

  test("e06 RFM: quartiles are balanced and monetary equals the purchase sum") {
    import org.apache.spark.sql.functions.{col, sum}
    val rows = Advanced.e06.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    val users = graft.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.length == users)
    // NTILE(4): bucket sizes differ by at most one, ordered by frequency
    val sizes = rows.groupBy(_._5).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(1, 2, 3, 4))
    assert(sizes.values.max - sizes.values.min <= 1)
    val byQuartile = rows.groupBy(_._5).view.mapValues(_.map(_._3)).toMap
    assert(byQuartile(1).min >= byQuartile(4).max,
      "q1 (top frequency) overlaps q4 beyond the tie boundary")
    // monetary totals to the corpus purchase sum (cents-exact both sides)
    val total = BigDecimal(rows.map(r => BigDecimal(r._4)).sum.toString)
    val expected = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))))
      .collect()(0).getDecimal(0)
    assert(total == BigDecimal(expected))
  }

  test("JSONL load diverts malformed lines to the rejected channel") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    java.nio.file.Files.writeString(dir.resolve("part-0.json"),
      """{"doc_id": 1, "text": "ok one", "lang": "en", "source": "s", "n_chars": 6}
        |this line is not json at all
        |{"doc_id": 2, "text": "ok two", "lang": "de", "source": "s", "n_chars": 6}
        |{"doc_id": 3, "text": "truncated
        |""".stripMargin)
    val loaded = SourcesStreaming.loadJsonl(spark, dir.toString)
    try {
      assert(loaded.good.count() == 2)
      val rej = loaded.rejected.collect().map(_.getString(0))
      assert(rej.length == 2)
      assert(rej.exists(_.startsWith("this line")))
      assert(rej.exists(_.contains("truncated")))
    } finally loaded.cleanup()
  }

  test("XML load surfaces malformed rows via the corrupt-record channel") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft-xml")
    java.nio.file.Files.writeString(dir.resolve("feed.xml"),
      """<docs>
        |<doc><doc_id>1</doc_id><text>ok one</text></doc>
        |<doc><doc_id>oops</doc_id><text>bad id</text></doc>
        |<doc><doc_id>2</doc_id><text>ok two</text></doc>
        |</docs>""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val rows = spark.read.schema(schema).option("rowTag", "doc")
      .format("xml").load(dir.toString).collect()
    assert(rows.length == 3)
    val good = rows.filter(_.isNullAt(2))
    val bad = rows.filterNot(_.isNullAt(2))
    assert(good.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(bad.length == 1 && bad(0).getString(2).contains("oops"))
  }

  test("t32 spans are verbatim: reported token slices are identical in both docs") {
    // independent re-check outside the engine: re-tokenize on the driver
    // with the same normalization and compare the claimed slices
    val toks = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
      .toMap
    val spans = TextDedup.t32.fn(spark, sf).collect()
    assert(spans.nonEmpty)
    spans.foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      val (s1, s2) = (r.getLong(2).toInt, r.getLong(3).toInt)
      val len = r.getInt(4)
      assert(len >= 8, s"span below threshold: $r")
      val a = toks(d1).slice(s1, s1 + len)
      val b = toks(d2).slice(s2, s2 + len)
      assert(a.length == len && a == b, s"span not verbatim: $r")
    }
  }

  test("c02 deciles are balanced per source and logit-monotone") {
    val rows = Advanced.c02.fn(spark, sf).collect()
    val bySource = rows.groupBy(_.getString(1))
    bySource.foreach { case (src, rs) =>
      val counts = rs.groupBy(_.getInt(3)).view.mapValues(_.size)
      // NTILE balance: bucket sizes differ by at most 1
      assert(counts.values.max - counts.values.min <= 1, s"$src: $counts")
      // decile 1 holds the highest logits: min(logit@1) >= max(logit@10)
      val byDecile = rs.groupBy(_.getInt(3)).view.mapValues(_.map(_.getLong(2)))
      assert(byDecile(1).min >= byDecile(10).max, src)
    }
  }

  test("curation pipeline composes: each stage strictly narrows, shards partition the output") {
    // the c03 chain as a library consumer uses it: canonical
    // keep-mask -> decontaminate -> quality cut -> pack -> shard
    val kept = Corpus.t23.fn(spark, sf).filter("keep").select("doc_id")
    val contaminated = TextDedup.t15.fn(spark, sf).select("doc_id").distinct()
    val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
    val curated = clean.join(
      Advanced.c02.fn(spark, sf).filter("decile <= 7").select("doc_id"),
      Seq("doc_id"))
    val total = graft.Tables.documents(spark, sf).count()
    val (nKept, nClean, nCurated) = (kept.count(), clean.count(), curated.count())
    assert(nKept <= total && nClean <= nKept && nCurated <= nClean)
    assert(nCurated > 0)
    // packing covers exactly the curated set
    val packed = Corpus.t18.fn(spark, sf).join(curated, Seq("doc_id"))
    assert(packed.count() == nCurated)
  }

  test("catalog id prefixes stay unique (Bench's compact line keys on them)") {
    // Bench falls back to shedding entries if prefixes collide — legal
    // but lossy; this pins the invariant so a colliding addition is a
    // conscious choice, not a silent format degradation
    val prefixes = SparkEntry.catalogs.map(_.name.takeWhile(_ != '_'))
    val dups = prefixes.groupBy(identity).collect { case (p, ps) if ps.size > 1 => p }
    assert(dups.isEmpty, s"colliding catalog prefixes: $dups")
  }

  test("Verify/Bench entry filter: sorted subset, unknown names fail, none = all") {
    val names = SparkEntry.selected(Seq("t06_jaccard_pairs", "c03_curation_pipeline")).map(_._1)
    assert(names == Seq("c03_curation_pipeline", "t06_jaccard_pairs"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Seq("t06_jaccard_pairs", "t06_jacard_pairs")))
    assert(e.getMessage.contains("t06_jacard_pairs") && !e.getMessage.contains("t06_jaccard_pairs"))
    assert(SparkEntry.selected(Nil).map(_._1) == SparkEntry.catalogs.map(_.name).sorted)
  }

  test("q34 statuses partition both snapshots exactly (vs independent recount)") {
    val m = Advanced.q34.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keys = graft.Tables.orders(spark, sf)
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(m("removed") == keys.count(_ % 89 == 0))
    assert(m("added") == keys.count(_ % 83 == 0))
    assert(m("changed") == keys.count(k => k % 89 != 0 && k % 97 == 0))
    assert(m("unchanged") == keys.count(k => k % 89 != 0 && k % 97 != 0))
    assert(m.values.sum == keys.length + keys.count(_ % 83 == 0))
  }

  test("t33 ratios are exact-division-consistent and the LM slice is excluded") {
    val rows = TextDedup.t33.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (doc, n, oov, ratio) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(doc % 20 != 11, s"LM-slice doc $doc scored against itself")
      assert(oov >= 0 && oov <= n)
      assert(ratio == oov.toDouble / n, s"doc $doc ratio drifted")
    }
  }

  test("r09 shard manifest partitions the corpus exactly") {
    val m = SourcesStreaming.r09.fn(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(m.map(_.getLong(1)).sum == nDocs)
    // id ranges are consistent and shards are disjoint by construction
    // (hash assignment); the manifest must cover every shard it names once
    assert(m.map(_.getInt(0)).distinct.length == m.length)
    m.foreach(r => assert(r.getLong(3) <= r.getLong(4)))
  }
}
