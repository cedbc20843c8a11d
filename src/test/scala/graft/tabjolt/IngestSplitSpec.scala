package graft.tabjolt

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import graft.SparkSpec
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The byte-range read equals the one-task read: rows in order, every
  * `_rejected` string, and the rejected sink's lines. Cuts are forced at
  * every newline, so many of them fall inside records, and the stitch
  * check must then give the file to the one-task read. */
class IngestSplitSpec extends SparkSpec {

  private val schema = StructType((1 to 4).map(i => StructField(s"c$i", StringType)) :+
    StructField(Schemas.Rejected, StringType))

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  /** A body of `d`-delimited records with every shape the parser must
    * agree on across a cut; with `oneLine`, only fields that close every
    * quote on their own line, so that every newline ends a record. */
  private def body(d: Char, oneLine: Boolean = false): Gen[String] = {
    val plain = Gen.oneOf("a", "bc", "12", "", " ", "é", "日本", "😀x", "x😀", "q\"r", "ab\"cd\"", "x\\")
    val closed = Seq("\"he said \"\"hi\"\"\"", "\"back\\\"slash\"", s"\"has${d}delim\"", "\"\"")
    val quoted = Gen.oneOf(if (oneLine) closed else closed ++ Seq("\"multi\nline\"", "\"x\n\ny\"",
      "\"é\n日本\"", "\"tail\"junk", "\"open\\\"", "\"😀\n\""))
    val field = Gen.frequency(5 -> plain, 2 -> quoted)
    def record(n: Int) = Gen.listOfN(n, field).map(_.mkString(d.toString))
    val line = Gen.frequency(
      8 -> record(4),
      1 -> record(6), // over-arity
      1 -> record(2), // under-arity
      1 -> Gen.const(""), // empty line
      1 -> Gen.const(SplitRead.Sentinel)) // a data line equal to the sentinel
    for {
      n <- Gen.choose(10, 48)
      lines <- Gen.listOfN(n, line)
      torn <- if (oneLine) Gen.const(None)
        else Gen.frequency(3 -> Gen.const(None), 1 -> Gen.choose(0, n).map(Some(_)))
      end <- Gen.oneOf("\n", "")
    } yield {
      // an unterminated quote runs from its line to EOF
      val all = torn.fold(lines)(i => lines.patch(i, Seq(s"\"unterminated${d}runs to EOF"), 0))
      all.mkString("\n") + end
    }
  }

  private def write(content: String, suffix: String = ".csv"): Path = {
    val f = Files.createTempFile("graft-split", suffix)
    Files.write(f, content.getBytes(UTF_8))
    f
  }

  private def newlineCuts(f: Path): Seq[Long] = {
    val b = Files.readAllBytes(f)
    b.indices.filter(i => b(i) == '\n' && i + 1 < b.length).map(_ + 1L)
  }

  private def sinkLines(r: Ingest.LoadResult): Seq[String] = {
    val dir = Files.createTempDirectory("graft-split-sink").resolve("rejected")
    r.rejected.write.text(dir.toString)
    dir.toFile.listFiles().filter(_.getName.startsWith("part-")).toSeq
      .flatMap(f => new String(Files.readAllBytes(f.toPath), UTF_8).split("\n", -1).dropRight(1))
      .sorted
  }

  /** Loads `f` in one task and at `cuts`; asserts they agree and returns
    * the split's stats. */
  private def agree(f: Path, d: Char, cuts: Seq[Long],
                    schema: StructType = schema): Ingest.Split = {
    val one = Ingest.loadOneTask(spark, f.toString, schema, d.toString)
    val split = Ingest.loadWithCuts(spark, f.toString, Files.size(f), schema, d.toString, cuts)
    try {
      val what = new String(Files.readAllBytes(f), UTF_8)
      // the rows in order, `_rejected` (the last column) included
      assert(split.parsed.collect().toSeq == one.parsed.collect().toSeq, what.take(2000))
      assert(sinkLines(split) == sinkLines(one), what.take(2000))
      split.split
    } finally { one.cleanup(); split.cleanup() }
  }

  for ((name, d, seed) <- Seq(("CSV", ',', 41L), ("TSV", '\t', 43L))) {
    test(s"$name: cut at every newline, rows, rejects and sink equal the one-task read") {
      sample(body(d), 4, seed).foreach { content =>
        val f = write(content)
        val cuts = newlineCuts(f)
        val s = agree(f, d, cuts)
        assert(s == Ingest.Split(cuts.size + 1, 0) || s == Ingest.Split(1, 1), content)
      }
    }

    test(s"$name: one-line records cut at every newline stay split") {
      sample(body(d, oneLine = true), 2, seed).foreach { content =>
        val f = write(content)
        val cuts = newlineCuts(f)
        assert(agree(f, d, cuts) == Ingest.Split(cuts.size + 1, 0), content)
      }
    }
  }

  private lazy val jtl = JtlFixture.write(spark)

  test("a TabJolt JTL over 2 MB is read in widthForBytes ranges, cut past the multi-line row") {
    val (f, nominal) = jtl
    val len = Files.size(f)
    assert(len >= 2L * 1024 * 1024)
    val b = Files.readAllBytes(f)
    val straddler = JtlFixture.Straddler.getBytes(UTF_8)
    nominal.foreach { n => // each nominal cut falls inside the multi-line row
      val start = (n.toInt to 0 by -1).find(i => b.startsWith(straddler, i)).get
      assert(n - start < straddler.length, s"cut $n is not inside the row at $start")
    }
    val r = Ingest.load(spark, f.toString, Schemas.performanceSamples, ",")
    try {
      assert(r.split == Ingest.Split(graft.operators.Fanout.widthForBytes(spark, len), 0))
      val one = Ingest.loadOneTask(spark, f.toString, Schemas.performanceSamples, ",")
      try assert(r.parsed.collect().toSeq == one.parsed.collect().toSeq)
      finally one.cleanup()
      assert(r.rejectedCount == nominal.size)
    } finally r.cleanup()
  }

  test("a cut inside the multi-line row gives the file to the one-task read") {
    val (f, nominal) = jtl
    val bad = JtlFixture.firstNewlineAfter(f, nominal) // inside the row's quoted rm
    assert(agree(f, ',', bad, Schemas.performanceSamples) == Ingest.Split(1, 1))
  }

  test("a sentinel-equal data line just before a cut is kept") {
    val s = SplitRead.Sentinel
    val f = write(s"a,b,c,d\n$s\n$s\ne,f,g,h\n$s\n")
    val cuts = newlineCuts(f)
    assert(agree(f, ',', cuts) == Ingest.Split(cuts.size + 1, 0))
  }

  test("guarded bytes fall back to the one-task read: '\\r', a byte-order mark at a cut") {
    for (content <- Seq("a,b,c,d\r\ne,f,g,h\r\n", "a,b,c,d\n﻿e,f,g,h\n")) {
      val f = write(content)
      assert(agree(f, ',', newlineCuts(f)).fallbacks == 1)
    }
  }
}
