package graft.tabjolt

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.types.StructType

/** Rejected-row semantics of the COPY-equivalent loader
  * (SURVEY.md §1.4): malformed rows divert, good rows load, embedded
  * newlines in quoted fields parse (multiLine). */
class IngestSpec extends SparkSpec {

  private def tmpFile(content: String, suffix: String = ".csv"): String = {
    val f = Files.createTempFile("graft-ingest", suffix)
    Files.writeString(f, content)
    f.toString
  }

  /** `Pipeline.ingest` with `path` as the source of `schema`, empty files
    * for the other three sources, and the rejected sink at `rejDir`. */
  private def ingest(schema: StructType, path: String, rejDir: String): Pipeline.TabjoltTables = {
    val Seq(sl, wc, ps, td) = Seq(Schemas.summaryLine, Schemas.winCounter,
      Schemas.performanceSamples, Schemas.threadDetails).map(s => if (s == schema) path else tmpFile(""))
    Pipeline.ingest(spark, PipelineConfig(sl, wc, ps, td, rejDir))
  }

  test("good rows load; over-arity rows divert to the rejected column") {
    val path = tmpFile(
      """Avg,12661,2024-07-30
        |Min,12661,2024-07-30
        |bad,row,with,way,too,many,fields,to,possibly,fit,the,three,column,schema
        |Err,0 0.00%,2024-07-30
        |""".stripMargin)
    val r = Ingest.load(spark, path, Schemas.summaryLine, ",")
    assert(r.good.count() == 3)
    assert(r.rejectedCount == 1)
    val rej = r.rejected.collect()(0).getString(0)
    assert(rej.startsWith("bad,row"))
  }

  test("quoted fields with embedded newlines parse via multiLine") {
    val path = tmpFile(
      "12661,0,1722333530042,true,L,200,\"Site: a;\nWorkbook: multi\nline;\",T,,\"1,000\",1,5,x\n" +
        "772,0,1722333530043,true,L,200,Site: b;,T,,99,1,5,x\n")
    val r = Ingest.load(spark, path, Schemas.performanceSamples, ",")
    assert(r.good.count() == 2)
    assert(r.rejectedCount == 0)
    val rm = r.good.filter(org.apache.spark.sql.functions.col("elapsed_time_ms") === "12661")
      .collect()(0).getAs[String]("response_message")
    assert(rm.contains("\n") && rm.contains("Workbook: multi"))
  }

  test("header row enters the table as data when skipHeader=false (reference behavior)") {
    val path = tmpFile("t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,\n" +
      "12661,0,1722333530042,true,L,200,Site: a;,T,,99,1,5,x\n")
    val r = Ingest.load(spark, path, Schemas.performanceSamples, ",")
    assert(r.good.count() == 2) // header included as a data row
    val withSkip = Ingest.load(spark, path, Schemas.performanceSamples, ",", skipHeader = true)
    assert(withSkip.good.count() == 1)
  }

  test("rejected sink appends raw lines and the load continues") {
    val path = tmpFile(
      Seq("1", "H", "Memory", "c", "", "0", "2024-07-30 15:30:13").mkString("\t") + "\n" +
        Seq("not", "a", "valid", "row", "too", "many", "fields", "here", "extra").mkString("\t") + "\n",
      ".tsv")
    val rejDir = Files.createTempDirectory("graft-rej").toString + "/rejected"
    val t = ingest(Schemas.winCounter, path, rejDir)
    assert(t.winCounter.count() >= 1)
    t.cleanup()
    val rejected = spark.read.text(rejDir).count()
    assert(rejected == 1)
  }

  test("chaos load: arity + quote + embedded-newline corruption in ONE file") {
    // one file carrying every corruption class the COPY contract covers
    // (SURVEY.md §1.4, rejected.txt:509-516): a clean row, an over-arity
    // row, a clean row whose quoted field spans lines (multiLine), and an
    // unterminated quote running to EOF. Good rows load; each corrupt
    // region diverts as ONE raw rejected record; the sink file's content
    // byte-equals the rejected raw records.
    val good1 = "12661,0,1722333530042,true,L,200,Site: a;,T,,99,1,5,x"
    val arity = "bad,row,with,way,too,many,fields,to,possibly,fit,the,thirteen,column,schema,at,all"
    val good2 = "772,0,1722333530043,true,L,200,\"Site: b;\nWorkbook: multi\nline;\",T,,99,1,5,x"
    val torn = "999,0,1722333530044,true,L,200,\"unterminated quote swallows to EOF,T,,99,1,5,x"
    val path = tmpFile(Seq(good1, arity, good2, torn).mkString("", "\n", "\n"))
    val rejDir = Files.createTempDirectory("graft-rej-chaos").toString + "/rejected"
    val t = ingest(Schemas.performanceSamples, path, rejDir)
    assert(t.performanceSamples.count() == 2)
    assert(t.performanceSamples.filter(org.apache.spark.sql.functions.col("response_message")
      .contains("Workbook: multi")).count() == 1)
    val rejectedRaw = t.loads(2).rejected.collect().map(_.getString(0)).toSet
    t.cleanup()
    assert(rejectedRaw.size == 2)
    assert(rejectedRaw.exists(_.startsWith("bad,row")))
    assert(rejectedRaw.exists(_.contains("unterminated quote")))
    // sink byte-equality: the rejected FILE carries exactly the rejected
    // raw records (sink is .text, so each record's own embedded newlines
    // re-split on read — compare the full concatenated byte stream)
    val sinkDir = new java.io.File(rejDir)
    val parts = sinkDir.listFiles().filter(_.getName.startsWith("part-")).sorted
    val sinkBytes = parts.flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))
    val expected = rejectedRaw.toSeq.sorted.mkString("", "\n", "\n").getBytes("UTF-8")
    assert(new String(sinkBytes, "UTF-8").split("\n").filter(_.nonEmpty).sorted.toSeq ==
      new String(expected, "UTF-8").split("\n").filter(_.nonEmpty).sorted.toSeq)
  }
}
