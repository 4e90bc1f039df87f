package graft.core

import java.util.concurrent.{CompletableFuture, ExecutionException, ExecutorService, Executors}

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** The one way graft runs stages side by side: independent Spark actions
  * (a freeze's artifact branches, a funnel's per-stage aggregates, a
  * background checkpoint) forked on driver threads so Spark's FIFO
  * scheduler back-fills the executors one stage's small tail jobs leave
  * idle.
  *
  *  - [[fork]] runs a body on one shared daemon pool through Spark's
  *    `SQLExecution.withThreadLocalCaptured`, so every job the body runs
  *    carries the caller's job group, job description and active session,
  *    even on a pool thread an earlier caller made.
  *  - [[join]] waits for EVERY stage to settle before it rethrows a
  *    failure. A running Spark job cannot be cancelled mid-flight, so
  *    throwing at the first failure would leave its siblings running and
  *    registering tables after the caller has cleaned up.
  *
  * The pool is unbounded on purpose: a stage may itself fork and join
  * (the freeze's KN3 branch materializes its model tables side by side),
  * and a bounded pool deadlocks once every thread waits on a nested fork.
  * Idle threads are reaped after a minute and never block JVM exit. */
object Stages {

  /** A forked body; its value is read by [[join]] or [[Stage.get]]. */
  final class Stage[+A] private[Stages] (future: CompletableFuture[_ <: A]) {
    /** Wait for this stage and return its value, or throw its failure
      * unwrapped. */
    def get: A =
      try future.get()
      catch { case e: ExecutionException => throw e.getCause }

    private[Stages] def settle(): Option[Throwable] =
      try { future.get(); None }
      catch { case e: ExecutionException => Some(e.getCause) }
  }

  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-stage")
    t.setDaemon(true)
    t
  }

  /** Start `body` on the shared pool under the caller's Spark thread
    * state (local properties and active session). */
  def fork[A](body: => A): Stage[A] = {
    val spark = SparkSession.active.asInstanceOf[classic.SparkSession]
    new Stage(SQLExecution.withThreadLocalCaptured(spark, pool)(body))
  }

  /** Wait until every stage has settled, then return their values in
    * order, or throw the first failure in argument order with the later
    * failures attached as suppressed. */
  def join[A](stages: Seq[Stage[A]]): Seq[A] = {
    val failures = stages.flatMap(_.settle()).distinct
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    stages.map(_.get)
  }
}
