package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** `Checkpoints.parallelRun`, the one primitive that overlaps Spark jobs:
  * scope propagation, drain on failure, and nesting without a worker
  * shortage. */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("parallelRun registers concurrent checkpoints to the caller's scope") {
    import spark.implicits._
    val s = spark
    val before = graft.core.Checkpoints.snapshot(s)
    graft.core.Checkpoints.scopedUnit(s) {
      val outs = graft.core.Checkpoints.parallelRun[org.apache.spark.sql.DataFrame](
        (1 to 3).map(i => () =>
          graft.core.Checkpoints.ckpt(Seq((i, i * 2)).toDF("a", "b"))))
      assert(outs.forall(_.count() == 1))
    }
    // every block the concurrent bodies created was swept at scope exit
    assert(graft.core.Checkpoints.snapshot(s) == before)
  }

  test("parallelRun drains every body before rethrowing the first failure") {
    val finished = new AtomicBoolean(false)
    val boom = new IllegalStateException("body 0")
    val thrown = intercept[IllegalStateException] {
      Checkpoints.parallelRun[Unit](Seq(
        () => throw boom,
        () => { Thread.sleep(300); finished.set(true) }))
    }
    assert(thrown eq boom)
    // the sibling ran to its end before the failure left parallelRun
    assert(finished.get)
  }

  test("parallelRun rethrows a body's Error as it is, not boxed") {
    val err = new AssertionError("body 1")
    val thrown = intercept[AssertionError] {
      Checkpoints.parallelRun[Unit](Seq(() => (), () => throw err))
    }
    assert(thrown eq err)
  }

  test("parallelRun holds an interrupt of the caller until every body is done") {
    val finished = new AtomicBoolean(false)
    val seenAtReturn = new AtomicBoolean(false)
    val flagAtReturn = new AtomicBoolean(false)
    val caller = new Thread(() => {
      Checkpoints.parallelRun[Unit](Seq(
        () => (),
        () => { Thread.sleep(300); finished.set(true) }))
      seenAtReturn.set(finished.get)
      flagAtReturn.set(Thread.currentThread().isInterrupted)
    })
    caller.start()
    Thread.sleep(50)
    caller.interrupt()
    caller.join(20000)
    assert(seenAtReturn.get)
    assert(flagAtReturn.get)
  }

  test("nested parallelRun: more blocked bodies than cores all run at once") {
    val cores = Runtime.getRuntime.availableProcessors
    val inner = cores + 1
    val outer = cores
    val latch = new CountDownLatch(inner + outer)
    // blocks its thread without a `blocking {}` marker, as a Spark action does
    def body(): Boolean = {
      latch.countDown()
      latch.await(20, TimeUnit.SECONDS)
    }
    val results = Checkpoints.parallelRun[Seq[Boolean]](
      (() => Checkpoints.parallelRun[Boolean](Seq.fill(inner)(() => body()))) +:
        Seq.fill(outer)(() => Seq(body())))
    assert(results.flatten === Seq.fill(inner + outer)(true))
  }
}
