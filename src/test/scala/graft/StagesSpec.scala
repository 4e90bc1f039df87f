package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CacheScope, Stages}

/** Fault injection for [[graft.core.Stages]], the one concurrent-stage
  * primitive: a failure never returns before its siblings settle, the
  * failure thrown is the first in argument order, and a reused pool
  * thread runs under its current caller's job group. */
class StagesSpec extends AnyFunSuite {
  // forks run under the caller's active session: create it up front
  private val spark = TestSpark.spark

  /** The job group a Spark task of the calling thread runs under. */
  private def taskJobGroup(): String = spark.sparkContext
    .parallelize(Seq(1), 1)
    .map(_ => TaskContext.get().getLocalProperty("spark.jobGroup.id"))
    .collect().head

  test("join settles a sleeping sibling before rethrowing the failure") {
    val siblingDone = new AtomicBoolean(false)
    val thrower = Stages.fork[Long](throw new IllegalStateException("boom"))
    val sibling = Stages.fork {
      Thread.sleep(500)
      val n = spark.range(1000).count()
      siblingDone.set(true)
      n
    }
    val e = intercept[IllegalStateException](Stages.join(Seq(thrower, sibling)))
    assert(e.getMessage == "boom")
    assert(siblingDone.get, "join returned before the sibling finished")
    assert(Stages.join(Seq(sibling)) == Seq(1000L))
  }

  test("the first failure in argument order is thrown, later ones suppressed") {
    // the first argument fails LAST in time
    val late = Stages.fork[Int] {
      Thread.sleep(300)
      throw new IllegalArgumentException("first")
    }
    val early = Stages.fork[Int](throw new UnsupportedOperationException("second"))
    val e = intercept[IllegalArgumentException](Stages.join(Seq(late, early)))
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("second"))
  }

  test("a reused pool thread runs its jobs under the current caller's job group") {
    val sc = spark.sparkContext
    try {
      // under group A, hold more forks at once than the pool has idle
      // threads: every idle thread takes one, new threads are made under A,
      // and afterwards every idle pool thread last ran under group A
      sc.setJobGroup("A", "first caller")
      val n = 32
      val started = new java.util.concurrent.CountDownLatch(n)
      val underA = Stages.join((1 to n).map(_ => Stages.fork {
        started.countDown()
        started.await()
        (Thread.currentThread, sc.getLocalProperty("spark.jobGroup.id"))
      }))
      assert(underA.map(_._1).distinct.size == n)
      assert(underA.forall(_._2 == "A"))
      sc.setJobGroup("B", "second caller")
      val (thread, group) =
        Stages.join(Seq(Stages.fork((Thread.currentThread, taskJobGroup())))).head
      assert(underA.exists(_._1 eq thread), "the fork did not reuse a pool thread")
      assert(group == "B")
    } finally sc.clearJobGroup()
  }

  test("funnel stages: a throwing stage frame leaves no tracked persist after release") {
    CacheScope.release()
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Queries.persistedStages(Seq(
      () => throw new IllegalStateException("stage frame failed"),
      () => {
        Thread.sleep(500)
        slowDone.set(true)
        spark.range(100).toDF("doc_id")
      },
      () => spark.range(10).toDF("doc_id"))))
    assert(e.getMessage == "stage frame failed")
    assert(slowDone.get, "the failure propagated before a sibling settled")
    CacheScope.release()
    assert(CacheScope.trackedCount == 0)
  }
}
