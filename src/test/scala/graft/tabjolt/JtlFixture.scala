package graft.tabjolt

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** A TabJolt-shaped JTL file over 2 MB: the JTL header, then one-line
  * samples, and at every nominal cut `Fanout.widthForBytes` places, the
  * row that defeats a quote-parity cut rule: a quoted multi-line `rm`
  * (twice) and a malformed `,"retry\nlater"` tail. Its middle line
  * (`View: ...;",...,"Site: ...;`) has an even quote count, yet its
  * newline is inside a quoted field; each nominal cut falls on that line. */
object JtlFixture {

  val Header = "t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,"
  private val Rm = "\"Site: site0; Workbook: wb5;\nView: view050;\""
  private val Tail = "InteractVizThreadGroup 1-1,,00000097,1,5,"
  /** The multi-line malformed row, and its first two lines' lengths. */
  val Straddler = s"12661,04220,1722333530042,true,Bootstrap request,200,$Rm,$Tail$Rm,\"retry\nlater\""
  private val line1 = Straddler.indexOf('\n')
  private val line2 = Straddler.indexOf('\n', line1 + 1) - line1 - 1

  private def sample(i: Int, pad: Int): String = {
    val v = i % 100
    val rm = f"Site: site0; Workbook: wb${v / 10}; View: view$v%03d;"
    f"${1000 + i % 9000}%05d,00042,${1722300000000L + i}%013d,true,Interact Viz Test${" " * pad}" +
      f",200,$rm,InteractVizThreadGroup 1-1,,${i % 100000000}%08d,1,5,$rm"
  }

  /** Writes the file with `eol` line ends and returns it with the
    * nominal cut offsets (`len * i / width`). */
  def write(spark: SparkSession, eol: String = "\n", rows: Int = 12500): (Path, Seq[Long]) = {
    val p = sample(0, 0).length + 1
    val s = Straddler.length + 1
    val h = Header.length + 1
    val width = graft.operators.Fanout.widthForBytes(spark, h + rows.toLong * p)
    val len = h + rows.toLong * p + (width - 1L) * s + width.toLong * p // pads fit in the last term
    val nominal = (1 until width).map(i => len * i / width)
    // straddler i starts line1 + 1 + line2 / 2 bytes before nominal cut i;
    // the sample row right before it takes the slack as padding
    val pads = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (row index, pad)
    var shift = 0L
    nominal.zipWithIndex.foreach { case (n, j) =>
      val at = n - (line1 + 1 + line2 / 2) - h - j.toLong * s - shift
      val r = (at / p).toInt
      val pad = (at - r.toLong * p).toInt
      pads += ((r, pad))
      shift += pad
    }
    val lastPad = (len - h - rows.toLong * p - (width - 1L) * s - shift).toInt
    val padOf = pads.map { case (r, pad) => (r - 1, pad) }.toMap.updated(rows - 1, lastPad)
    val straddleAfter = pads.map(_._1 - 1).toSet
    val sb = new java.lang.StringBuilder(len.toInt + 16)
    sb.append(Header).append('\n')
    for (i <- 0 until rows) {
      sb.append(sample(i, padOf.getOrElse(i, 0))).append('\n')
      if (straddleAfter(i)) sb.append(Straddler).append('\n')
    }
    val f = Files.createTempFile("graft-jtl", ".csv")
    Files.write(f, sb.toString.replace("\n", eol).getBytes(UTF_8))
    (f, nominal)
  }

  /** The offsets right after the first `'\n'` at or past each cut. */
  def firstNewlineAfter(f: Path, cuts: Seq[Long]): Seq[Long] = {
    val b = Files.readAllBytes(f)
    cuts.map(c => (c.toInt until b.length).find(b(_) == '\n').get + 1L)
  }
}
