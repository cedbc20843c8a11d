package graft.tabjolt

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftBridge, GraftCsv, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.types.StructType

/** The byte-range read behind [[Ingest.load]]: one plain file parsed in
  * several tasks, each range by the exact parser call Spark's multiLine
  * reader makes per file, with every range's end checked against the
  * record boundaries of a one-task read (the stitch check).
  *
  * Every range but the last is parsed with the [[Sentinel]] line
  * appended. The parse ends on the sentinel as a record of its own only
  * when the range ended between records; the sentinel row is then
  * dropped and the range is stitched. Otherwise the sentinel was
  * swallowed by an open quoted field, and the verdict says so as data
  * (never a thrown task failure, which a cluster would retry). From
  * offset 0, a range that starts on a record boundary and is stitched
  * ends on one, so its rows are exactly the one-task read's rows there.
  * A range that is not stitched gives the whole file to the one-task
  * read.
  *
  * Exactness (speculative parsing with validation, after Ge et al.,
  * "Speculative Distributed CSV Data Parsing for Big Data Analytics",
  * SIGMOD 2019) rests on the stitch check, not on guessing the grammar;
  * guessing only picks where to cut. */
private[tabjolt] object SplitRead {

  /** The line appended to every range but the last. */
  val Sentinel = "graftstitchsentinel"

  /** Bytes read after each nominal cut while looking for a record start. */
  private val CutWindow = 64 * 1024

  /** Bytes [start, end) of the file, parsed with the sentinel line
    * appended unless `end` is the file's length. */
  final case class Seg(start: Long, end: Long)

  /** What one parse of a [[Seg]] reported: whether it was stitched, and
    * a reason to abandon the split read (`'\r'`, a byte-order mark at the
    * range start, a parse error). */
  final case class Verdict(stitched: Boolean, abandon: Option[String])

  /** The file's length and the cuts `Fanout.widthForBytes` sizing picks,
    * or None for an input the split read does not take: a glob or a
    * directory, a compressed file, a header to skip, a delimiter other
    * than one plain ASCII character, a file under two ranges, or one
    * whose file system cannot seek. */
  def plan(spark: SparkSession, path: String, schema: StructType, delimiter: String,
           skipHeader: Boolean): Option[(String, Long, Seq[Long])] = {
    val d = delimiter.headOption.getOrElse('\n')
    if (skipHeader || path.exists("{}[]*?\\".contains(_)) || delimiter.length != 1 ||
      d >= 0x80 || "\"\\\r\n".contains(d) || Sentinel.contains(d)) return None
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val status = fs.getFileStatus(p)
      if (!status.isFile || new CompressionCodecFactory(conf).getCodec(p) != null) return None
      val len = status.getLen
      val width = graft.operators.Fanout.widthForBytes(spark, len)
      if (width < 2) return None
      val arity = schema.count(_.name != Schemas.Rejected)
      val in = fs.open(p)
      val cuts = try (1 until width).map(i => cutAfter(in, len * i / width, len, arity, d))
      finally in.close()
      val kept = cuts.filter(c => c > 0 && c < len).distinct.sorted
      if (kept.isEmpty) None else Some((fs.makeQualified(p).toString, len, kept))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The first offset after a `'\n'` at or past `nominal` whose line
    * looks like a whole record: `arity` fields, no quote left open. Else
    * the first offset after a `'\n'`, or -1 when the window has none.
    * Only the choice rests on this guess; the stitch check decides. */
  private def cutAfter(in: FSDataInputStream, nominal: Long, len: Long, arity: Int,
                       delim: Char): Long = {
    in.seek(nominal)
    val buf = new Array[Byte](math.min(CutWindow.toLong, len - nominal).toInt)
    in.readFully(buf)
    val nls = buf.indices.filter(buf(_) == '\n')
    val starts = nls.map(_ + 1).filter(s => s < buf.length && !bomAt(buf, s))
    val whole = nls.zip(nls.drop(1)).collectFirst {
      case (a, e) if !bomAt(buf, a + 1) && recordLike(buf, a + 1, e, arity, delim) => a + 1
    }
    whole.orElse(starts.headOption).fold(-1L)(nominal + _)
  }

  /** Does `b[from, until)` read as one record of `arity` fields from a
    * fresh parser state, ending outside quotes? */
  private def recordLike(b: Array[Byte], from: Int, until: Int, arity: Int, delim: Char): Boolean = {
    var fields = 1
    var fieldStart = true
    var quoted = false
    var i = from
    while (i < until) {
      val c = b(i)
      if (quoted) {
        if (c == '\\') i += 1
        else if (c == '"') {
          if (i + 1 < until && b(i + 1) == '"') i += 1
          else if (i + 1 < until && b(i + 1) != delim) return false
          else quoted = false
        }
      } else if (c == delim) { fields += 1; fieldStart = true }
      else { quoted = fieldStart && c == '"'; fieldStart = false }
      i += 1
    }
    !quoted && fields == arity
  }

  /** A byte-order mark at `b(i)`: the parser drops one at a stream's
    * start, so a range must not start on one. */
  private def bomAt(b: Array[Byte], i: Int): Boolean = {
    def at(j: Int, v: Int) = i + j < b.length && (b(i + j) & 0xff) == v
    (at(0, 0xef) && at(1, 0xbb) && at(2, 0xbf)) || (at(0, 0xfe) && at(1, 0xff)) ||
      (at(0, 0xff) && at(1, 0xfe)) || (at(0, 0) && at(1, 0) && at(2, 0xfe) && at(3, 0xff))
  }

  /** Parses `path` (qualified, `len` bytes) cut at `cuts` and returns the
    * cached rows with the split's stats, or None when a range was not
    * stitched or the split read was abandoned, and the caller should read
    * in one task. */
  def read(spark: SparkSession, path: String, len: Long, schema: StructType,
           options: Map[String, String], cuts: Seq[Long]): Option[(DataFrame, Ingest.Split)] = {
    val sc = spark.sparkContext
    val opts = GraftCsv.options(spark, options)
    val ctx = Ctx(path, len, GraftCsv.hadoopConf(spark), opts, schema, sentinelRow(opts, schema))
    val bounds = (0L +: cuts.filter(c => c > 0 && c < len).distinct.sorted) :+ len
    val segs = bounds.sliding(2).map { case Seq(a, b) => Seg(a, b) }.toVector
    val acc = sc.collectionAccumulator[(Int, Verdict)]("ingest range verdicts")
    val rdd = sc.parallelize(segs.indices, segs.size).mapPartitions { it =>
      val i = it.next()
      new RangeParse(ctx, segs(i), v => acc.add((i, v)))
    }
    val parsed = GraftBridge.internalCreateDataFrame(spark, rdd, schema).cache()
    def abandon(why: String): None.type = {
      parsed.unpersist(blocking = true)
      System.err.println(s"[graft.Ingest] byte-range read of $path given up for one task: $why")
      None
    }
    try {
      materialize(parsed)
      val verdicts = acc.value.asScala.toMap
      val why = segs.indices.flatMap(i => verdicts.get(i).fold(Option(s"no verdict for range $i"))(_.abandon))
        .headOption.orElse(segs.indices.find(!verdicts(_).stitched).map(i => s"range $i not stitched"))
      why match {
        case Some(w) => abandon(w)
        case None => Some((parsed, Ingest.Split(segs.size, 0)))
      }
    } catch { case scala.util.control.NonFatal(e) => abandon(e.toString) }
  }

  /** Builds `df`'s cache in one stage, without converting a row. */
  private def materialize(df: DataFrame): Unit = df.queryExecution.toRdd.foreachPartition(_ => ())

  /** What every range task needs: the file, its length, the Hadoop
    * configuration, the parse options and schema, and the sentinel's row. */
  private final case class Ctx(path: String, len: Long, conf: () => Configuration,
                               opts: CSVOptions, schema: StructType, sentinel: InternalRow)

  /** The row the sentinel line parses to on its own. */
  private def sentinelRow(opts: CSVOptions, schema: StructType): InternalRow = {
    val in = new java.io.ByteArrayInputStream((Sentinel + "\n").getBytes(UTF_8))
    GraftCsv.parse(in, opts, schema, startOfFile = true).next().copy()
  }

  /** The rows of one [[Seg]], streamed: the sentinel row is dropped when
    * the parse ends on it, and the verdict is `report`ed once the rows
    * are exhausted. */
  private final class RangeParse(ctx: Ctx, seg: Seg, report: Verdict => Unit)
      extends Iterator[InternalRow] {
    private val last = seg.end == ctx.len
    private val types = ctx.schema.map(_.dataType)
    private var rows = 0
    private var abandon: Option[String] = None
    private var done = false
    private var bytes: RangeBytes = _
    private var parse: Iterator[InternalRow] = _
    private var pending: InternalRow = _ // pulled, not yet returned
    private var needPull = false
    private var stash: InternalRow = _ // a sentinel-like data row, returned before `pending`

    try {
      val path = new Path(ctx.path)
      val in = path.getFileSystem(ctx.conf()).open(path)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      val head = new Array[Byte](4)
      val n = if (seg.start == 0) 0 else in.read(seg.start, head, 0, math.min(4L, seg.end - seg.start).toInt)
      if (n > 0 && bomAt(head.take(n), 0)) abandon = Some("byte-order mark at a range start")
      else {
        in.seek(seg.start)
        bytes = new RangeBytes(in, seg.end - seg.start,
          if (last) Array.emptyByteArray else (Sentinel + "\n").getBytes(UTF_8))
        parse = GraftCsv.parse(bytes, ctx.opts, ctx.schema, seg.start == 0)
        needPull = true
      }
    } catch { case scala.util.control.NonFatal(e) => abandon = Some(e.toString) }

    private def pull(): Unit = {
      needPull = false
      pending = null
      if (abandon.isEmpty) try {
        if (parse.hasNext) pending = parse.next()
        if (bytes.sawCR) { abandon = Some("'\\r' in the file"); pending = null }
      } catch { case scala.util.control.NonFatal(e) => abandon = Some(e.toString); pending = null }
    }

    private def isSentinel(r: InternalRow): Boolean = {
      val s = ctx.sentinel
      var i = types.length - 1 // the corrupt-record column first: cheapest to tell apart
      while (i >= 0) {
        if (r.isNullAt(i) != s.isNullAt(i) || !r.isNullAt(i) && r.get(i, types(i)) != s.get(i, types(i)))
          return false
        i -= 1
      }
      true
    }

    private def finish(stitched: Boolean): Unit = if (!done) {
      done = true
      GraftCsv.countInput(rows, if (bytes == null) 0L else bytes.delivered)
      report(Verdict(stitched, abandon))
    }

    def hasNext: Boolean = {
      if (stash != null) return true
      if (done) return false
      if (needPull) pull()
      if (pending == null) { finish(stitched = last && abandon.isEmpty); return false }
      if (!last && isSentinel(pending)) {
        val held = pending.copy()
        pull()
        if (pending == null) { finish(stitched = abandon.isEmpty); return false }
        stash = held
      }
      true
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of range")
      rows += 1
      if (stash != null) {
        val r = stash
        stash = null
        r
      } else {
        needPull = true
        pending
      }
    }
  }

  /** Bytes [0, len) of `in` (positioned at the range start), then `tail`.
    * Notes whether a `'\r'` passed. */
  private final class RangeBytes(in: InputStream, len: Long, tail: Array[Byte]) extends InputStream {
    private var pos = 0L
    private var tailPos = 0
    def delivered: Long = pos
    var sawCR = false

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
    }

    override def read(b: Array[Byte], off: Int, n: Int): Int = {
      if (n == 0) return 0
      if (pos < len) {
        val got = in.read(b, off, math.min(n.toLong, len - pos).toInt)
        if (got <= 0) { pos = len; return read(b, off, n) }
        var i = 0
        while (i < got) {
          if (b(off + i) == '\r') sawCR = true
          i += 1
        }
        pos += got
        got
      } else if (tailPos < tail.length) {
        val k = math.min(n, tail.length - tailPos)
        System.arraycopy(tail, tailPos, b, off, k)
        tailPos += k
        k
      } else -1
    }
  }
}
