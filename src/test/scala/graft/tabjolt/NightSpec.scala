package graft.tabjolt

import java.nio.file.{Files, Path}
import scala.concurrent.Future
import graft.SparkSpec
import org.apache.spark.{SparkContext, TaskContext}

/** [[Night]]: a failed future stops the night, and the stop cancels the
  * night's own Spark jobs, waits for them to end, and cancels no other. */
class NightSpec extends SparkSpec {
  import NightSpec._

  /** Once the listener bus has delivered every job's end, the ids of the
    * jobs still running. */
  private def activeJobs: Seq[Int] = {
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext, 30000L)
    spark.sparkContext.statusTracker.getActiveJobIds().toSeq
  }

  /** A path that does not exist yet, under a fresh temp dir. */
  private def marker(name: String): String =
    Files.createTempDirectory("graft-night").resolve(name).toString

  test("await rethrows a failure only once the night's running Spark job is cancelled and has ended") {
    val sc = spark.sparkContext
    val started = marker("started")
    var long: Future[Array[Int]] = null
    val e = intercept[IllegalStateException] {
      Night.run(spark, jobs = 2) { implicit night =>
        long = Future(hold(sc, started, marker("never"), parts = 2))
        night.await(Future {
          awaitFile(started)
          throw new IllegalStateException("a job of the night failed")
        })
      }
    }
    assert(e.getMessage == "a job of the night failed")
    assert(long.value.exists(_.isFailure), "the long job must have ended, cancelled, before the rethrow")
    assert(long.value.get.failed.get.getMessage.contains("cancelled"))
    assert(activeJobs.isEmpty)
  }

  test("a failed night cancels its own jobs and not the rest of the caller's job group") {
    val sc = spark.sparkContext
    val (callerStarted, nightStarted, release) = (marker("caller"), marker("night"), marker("release"))
    sc.setJobGroup("graft-caller-group", "the caller's other work")
    try {
      // created under the group, so the caller's job runs in it too
      val caller = new java.util.concurrent.FutureTask[Array[Int]](
        () => hold(sc, callerStarted, release, parts = 1))
      new Thread(caller).start()
      awaitFile(callerStarted)
      var own: Future[Array[Int]] = null
      intercept[IllegalStateException] {
        Night.run(spark, jobs = 2) { implicit night =>
          own = Future(hold(sc, nightStarted, marker("never"), parts = 1))
          night.await(Future {
            awaitFile(nightStarted)
            throw new IllegalStateException("a job of the night failed")
          })
        }
      }
      assert(own.value.exists(_.isFailure), "the night's own job must be cancelled")
      Files.createFile(Path.of(release))
      assert(caller.get().toSeq == Seq(1), "the caller's job in the same group must finish")
    } finally {
      sc.clearJobGroup()
      if (!Files.exists(Path.of(release))) Files.createFile(Path.of(release))
    }
    assert(activeJobs.isEmpty)
  }
}

object NightSpec {
  private val TimeoutNs = 60L * 1000 * 1000 * 1000

  /** Blocks until `path` exists; fails after a minute. */
  def awaitFile(path: String): Unit = {
    val deadline = System.nanoTime() + TimeoutNs
    while (!Files.exists(Path.of(path))) {
      require(System.nanoTime() < deadline, s"$path never appeared")
      Thread.sleep(10)
    }
  }

  /** A Spark job of `parts` tasks, each of which creates `started` and
    * then runs until it is killed or `release` exists (at most a
    * minute). */
  def hold(sc: SparkContext, started: String, release: String, parts: Int): Array[Int] =
    sc.parallelize(1 to parts, parts).map { i =>
      val task = TaskContext.get()
      val deadline = System.nanoTime() + TimeoutNs
      try Files.createFile(Path.of(started))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      while (!task.isInterrupted() && !Files.exists(Path.of(release)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      i
    }.collect()
}
