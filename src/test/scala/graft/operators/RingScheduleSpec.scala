package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.expr

/** Pins the engine/oracle agreement of every ring's night schedule
  * directly: the Column predicates the engine filters with and the SQL
  * the DuckDB oracles embed must select the same ids on every night.
  * (The ring gates catch a drift only through one fixture's hash.) */
class RingScheduleSpec extends SparkSpec {

  private def rings: Seq[Ring] = Seq(
    TextDedup.DailyPairIndex, TextDedup.PromotedPairIndex, TextDedup.SoakRing,
    Multimodal.MediaIndex.ring, Multimodal.MediaSoakRing,
    Multimodal.WideMediaIndex.ring)

  private lazy val ids = spark.range(0, 1000).withColumnRenamed("id", "doc_id")

  private def selected(pred: org.apache.spark.sql.Column): Set[Long] =
    ids.filter(pred).collect().map(_.getLong(0)).toSet

  test("every ring's present set and batch agree between Column and SQL on every night") {
    for (ring <- rings; sched = ring.schedule; n <- 0 to sched.nights) {
      val present = selected(sched.presentAt(n))
      assert(present == selected(expr(sched.presentSql(n, "doc_id"))),
        s"${sched.name} night $n: presentAt and presentSql disagree")
      val batch = selected(sched.batchPred(n))
      assert(batch == selected(expr(sched.batchSql(n, "doc_id"))),
        s"${sched.name} night $n: batchPred and batchSql disagree")
      // the batch is a subset of what is present that night
      assert(batch.nonEmpty && batch.subsetOf(present),
        s"${sched.name} night $n: batch is empty or not present")
    }
  }

  test("the present sets follow each schedule: grows add, retractions remove") {
    for (ring <- rings; sched = ring.schedule; n <- 1 to sched.nights) {
      val (prev, cur) = (selected(sched.presentAt(n - 1)), selected(sched.presentAt(n)))
      assert(prev != cur, s"${sched.name} night $n changes nothing")
      assert(prev.subsetOf(cur) || cur.subsetOf(prev),
        s"${sched.name} night $n both adds and removes docs")
    }
    // the last night of a retraction-free ring holds the whole corpus
    assert(selected(TextDedup.PromotedPairIndex.schedule.presentAt(2)).size == 1000)
  }

  test("an out-of-range night fails with a descriptive error") {
    for (ring <- rings; sched = ring.schedule; n <- Seq(-1, sched.nights + 1)) {
      val calls: Seq[() => Any] = Seq(() => sched.presentAt(n),
        () => sched.presentSql(n, "doc_id"), () => sched.batchPred(n),
        () => sched.batchSql(n, "doc_id"), () => sched.foldsAt(n))
      calls.foreach { call =>
        val e = intercept[RuntimeException](call())
        assert(!e.isInstanceOf[MatchError])
        assert(e.getMessage.contains(s"${sched.name} ring has ${sched.nights + 1} nights"),
          e.getMessage)
      }
    }
  }

  test("the schedule constructor rejects degenerate schedules") {
    import Ring._
    intercept[IllegalArgumentException](Schedule("dup", Grow(3), Grow(3)))
    intercept[IllegalArgumentException](Schedule("slice", Grow(3), Retract(10, 3)))
    // the soak shapes themselves are accepted
    assert(Schedule("ok", Grow(3), Fold, Retract(17, 3), Grow(1)).nights == 3)
  }

  test("the fold policy: due at the ratio, never on a degraded listing") {
    assert(Ring.foldDue(100, Seq(10, 10)))
    assert(!Ring.foldDue(100, Seq(10, 9)))
    assert(!Ring.foldDue(100, Seq(50, -1)))
    assert(!Ring.foldDue(-1, Seq(50)))
    assert(!Ring.foldDue(0, Seq(50)))
  }
}
