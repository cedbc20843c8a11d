package graft.operators

import graft.Tables
import graft.operators.IndexStore.PublishSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** A persisted RING: published state over the documents corpus that
  * grows, folds and retracts night by night — the one lifecycle behind
  * the text pair rings ([[TextDedup.PromotedPairIndex]],
  * [[TextDedup.SoakRing]], [[TextDedup.DailyPairIndex]]) and the media
  * rings ([[Multimodal.MediaIndex]], [[Multimodal.MediaSoakRing]],
  * [[Multimodal.WideMediaIndex]]). A family supplies only its kernel,
  * its retraction rule and its night [[Ring.Schedule]]; everything
  * else is here:
  *
  *  - night 0 publishes the BASE: `kernel(present(0), None)`, a
  *    from-scratch build over the docs whose slices have not arrived;
  *  - a [[Ring.Grow]] night publishes a delta SEGMENT:
  *    `kernel(present(n), Some(batch(n)))`, cost ∝ the arriving slice,
  *    and serves yesterday's view ∪ that segment;
  *  - a [[Ring.Fold]] after a night rewrites that night's segmented
  *    view as ONE published segment once [[Ring.foldDue]] says the
  *    delta tail has paid for the rewrite — the folded layout is
  *    row-identical (rows are copied, never recomputed), and the
  *    segment union stays the always-correct reader;
  *  - a [[Ring.Retract]] night publishes `retract(served(n-1), tombs)`
  *    as the new resident (tombs: the docs with id % mod == rem);
  *    [[retracted]] is the same rule on demand, salted per instance so
  *    one gate's takedowns never leak into another's serving state.
  *
  * Every publication is an [[IndexStore.ensure]] (atomic rename +
  * completeness marker) into an [[IndexStore.stateDir]] named
  * `ringv1_<name>` + the corpus fingerprint + the family's kernel
  * version + the night tag, so a regenerated corpus or a bumped kernel
  * or ring layout ([[Ring.Layout]]) can never serve an old publication.
  * Incremental-maintenance background: *Incremental Based Framework
  * for Efficient Top-K Similarity Search* (EDBT 2020, PAPERS.md). */
private[graft] final class Ring(
    val schedule: Ring.Schedule,
    payload: String,
    kernel: (SparkSession, String, Column, Option[Column]) => DataFrame,
    retract: (DataFrame, DataFrame) => DataFrame,
    version: String = "") {
  import Ring._

  private def dir(d: String, tag: String): String =
    IndexStore.stateDir(s"${Layout}_${schedule.name}", d, "documents",
      s"${version}_$tag")

  /** Night `n`'s own publication: the base, a grow segment or a
    * retraction's reduced resident. */
  def segmentDir(d: String, n: Int): String = dir(d, s"n$n")

  /** The folded layout of night `n`'s segmented view. */
  def foldDir(d: String, n: Int): String = dir(d, s"f$n")

  private def read(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/$payload")

  private def publish(dir: String)(state: => DataFrame): String =
    IndexStore.ensure(dir, s"$payload/_SUCCESS")(tmp =>
      state.publishTo(s"$tmp/$payload"))

  /** Night `n`'s own publication, built first if missing. */
  def segment(s: SparkSession, d: String, n: Int): DataFrame =
    read(s, publish(segmentDir(d, n)) {
      schedule.step(n) match {
        case Grow(_) =>
          kernel(s, d, schedule.presentAt(n), Some(schedule.batchPred(n)))
        case Retract(mod, rem) =>
          retract(served(s, d, n - 1), Tables.documents(s, d)
            .filter(col("doc_id") % mod === rem).select(col("doc_id").as("id")))
        case _ => kernel(s, d, schedule.presentAt(n), None) // night 0: the base
      }
    })

  /** The state at the end of night `n`, before that night's fold: a
    * grow night unions its segment onto yesterday's served view;
    * night 0 and a retraction night serve their own publication. */
  def segmented(s: SparkSession, d: String, n: Int): DataFrame =
    schedule.step(n) match {
      case Grow(_) => served(s, d, n - 1).unionByName(segment(s, d, n))
      case _ => segment(s, d, n)
    }

  /** The SERVED state at the end of night `n`, chained through the
    * published artifacts: the folded layout when night `n` folds and
    * the fold is due, the segmented view otherwise. Segments are
    * ensured BEFORE the policy reads their sizes, so a cold corpus
    * folds in a one-shot job too. Unordered — consumers sort. */
  def served(s: SparkSession, d: String, n: Int): DataFrame = {
    val view = segmented(s, d, n)
    if (schedule.foldsAt(n) && foldDue(d, n)) read(s, ensureFolded(s, d, n))
    else view
  }

  /** The served state after the last night. */
  def maintained(s: SparkSession, d: String): DataFrame =
    served(s, d, schedule.nights)

  /** [[Ring.foldDue]] over night `n`'s delta tail: the grow segments
    * since the last resident (night 0 or a retraction). */
  def foldDue(d: String, n: Int): Boolean = {
    def bytes(k: Int) = IndexStore.dirBytes(s"${segmentDir(d, k)}/$payload")
    val resident = schedule.residentAt(n)
    Ring.foldDue(bytes(resident), (resident + 1 to n).map(bytes))
  }

  /** Publish night `n`'s segmented view as ONE segment; returns its dir. */
  def ensureFolded(s: SparkSession, d: String, n: Int): String =
    publish(foldDir(d, n))(segmented(s, d, n))

  /** RETRACT on demand: the maintained state minus `tombs` (an `id`
    * frame), published once per instance `salt`. */
  def retracted(s: SparkSession, d: String, salt: String,
      tombs: DataFrame): DataFrame =
    read(s, publish(dir(d, s"x$salt"))(retract(maintained(s, d), tombs)))
}

private[graft] object Ring {
  /** Layout version of every ring dir — bump when the lifecycle's
    * output layout changes, so a warm state root cannot serve the old
    * layout under the new code. */
  val Layout = "ringv1"

  /** Slices arrive as doc_id % SliceMod classes. */
  val SliceMod = 10

  /** Fold when the delta tail has grown to ≥ this fraction of its
    * resident: below it the rewrite costs more than the read
    * amplification it removes; above it the delta is no longer "small
    * new data" and each probe pays the segment tail. 0.2 is the
    * standard LSM minor-compaction shape (fold when the new layer is a
    * fifth of the old). */
  val CompactRatio = 0.2

  /** The ONE fold calculus, shared with [[Similarity.IvfIncIndex]]:
    * due when the tail's bytes reach [[CompactRatio]] × the resident's.
    * Degraded listings (-1) are never due — folding is an
    * optimization; the segment union is always correct. */
  def foldDue(residentBytes: Long, tailBytes: Seq[Long]): Boolean =
    residentBytes > 0 && tailBytes.forall(_ >= 0) &&
      tailBytes.sum.toDouble >= CompactRatio * residentBytes

  sealed trait Step
  /** The slice doc_id % [[SliceMod]] == `rem` arrives. */
  final case class Grow(rem: Int) extends Step
  /** The tombstones doc_id % `mod` == `rem` leave. */
  final case class Retract(mod: Int, rem: Int) extends Step
  /** Fold the preceding night's segmented view (ratio-gated). */
  case object Fold extends Step
  private case object Base extends Step

  /** One `doc_id % mod (=|<>) rem` condition, rendered for either
    * engine from the same value so engine and oracle cannot drift. */
  private final case class Term(mod: Int, rem: Int, eq: Boolean) {
    def column(c: Column): Column = if (eq) c % mod === rem else c % mod =!= rem
    def sql(c: String): String = s"$c % $mod ${if (eq) "=" else "<>"} $rem"
  }

  /** A ring's nights. Night 0 is the base; each [[Grow]] or [[Retract]]
    * is one more night; a [[Fold]] rides the night before it. The
    * per-night present set and arriving batch are DERIVED from the
    * steps, as Column predicates and as SQL, so the engine's schedule
    * and the oracle's are one value. */
  final case class Schedule(name: String, steps: Step*) {
    private val nightly: IndexedSeq[Step] =
      Base +: steps.filter(_ != Fold).toIndexedSeq
    private val folds: Set[Int] = steps.foldLeft((0, Set.empty[Int])) {
      case ((n, fs), Fold) => (n, fs + n)
      case ((n, fs), _) => (n + 1, fs)
    }._2
    /** The last night; nights run 0 to `nights`. */
    val nights: Int = nightly.size - 1

    private val growRems = nightly.collect { case Grow(r) => r }
    require(growRems.distinct == growRems,
      s"$name ring: grow remainders $growRems must name distinct slices")
    require(!nightly.exists { case Retract(mod, _) => mod == SliceMod; case _ => false },
      s"$name ring: a retraction must not be a % $SliceMod slice")

    private[graft] def step(n: Int): Step =
      if (n >= 0 && n <= nights) nightly(n)
      else sys.error(s"$name ring has ${nights + 1} nights (0-$nights); got $n")

    def foldsAt(n: Int): Boolean = { step(n); folds(n) }

    /** The night whose publication is the resident under night `n`'s
      * grow tail: night 0 or the latest retraction. */
    def residentAt(n: Int): Int =
      (n to 0 by -1).find(k => !step(k).isInstanceOf[Grow]).get

    private def tombs(n: Int): Seq[Term] =
      nightly.take(n + 1).collect { case Retract(m, r) => Term(m, r, eq = false) }

    /** Docs present at the END of night `n`: slices not yet arrived
      * and tombstones already retracted are out. */
    private def presentTerms(n: Int): Seq[Term] = {
      step(n)
      nightly.drop(n + 1).collect { case Grow(r) => Term(SliceMod, r, eq = false) } ++
        tombs(n)
    }

    /** Night `n`'s batch: the latest arrived slice minus the
      * tombstones so far (a retraction night re-probes it over the
      * reduced state); night 0's batch is the base itself. */
    private def batchTerms(n: Int): Seq[Term] = {
      step(n)
      nightly.take(n + 1).collect { case Grow(r) => r }.lastOption match {
        case Some(r) => Term(SliceMod, r, eq = true) +: tombs(n)
        case None => presentTerms(n)
      }
    }

    private def pred(terms: Seq[Term], c: Column): Column =
      terms.map(_.column(c)).reduceOption(_ && _).getOrElse(lit(true))
    private def sql(terms: Seq[Term], c: String): String =
      if (terms.isEmpty) "TRUE" else terms.map(_.sql(c)).mkString(" AND ")

    def presentAt(n: Int, c: Column = col("doc_id")): Column = pred(presentTerms(n), c)
    def presentSql(n: Int, c: String): String = sql(presentTerms(n), c)
    def batchPred(n: Int, c: Column = col("doc_id")): Column = pred(batchTerms(n), c)
    def batchSql(n: Int, c: String): String = sql(batchTerms(n), c)
  }
}
