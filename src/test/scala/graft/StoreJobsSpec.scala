package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.streaming.CurationStream

/** Spark jobs run by one store mutation of each saved artifact at sf0.001.
  * A store operation reads each one-row meta once and hands it down, and a
  * publish reads the older retained metas in one scan; re-reading them
  * (each read a schema-inference job plus a scan) cost an IVF-PQ add 28
  * jobs and a curation delta 19. */
class StoreJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.ListenerBusShim.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("one IVF-PQ add runs a bounded number of jobs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = Similarity.ivfPqFit(emb.filter(col("vec_id") % 2 === 0),
      nlist = 4, m = 16, k = 32, dim = 64, coarseIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_jobs").toString
    Similarity.saveIvfPq(model, dir)
    val jobs = jobsOf(
      Similarity.addToSavedIvfPq(spark, dir, emb.filter(col("vec_id") % 2 === 1)))
    assert(jobs <= 17, s"one IVF-PQ add ran $jobs jobs")
    graft.core.CacheScope.release()
  }

  test("one curation delta runs a bounded number of jobs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    val dir = java.nio.file.Files.createTempDirectory("frozen_jobs").toString
    CurationStream.save(frozen, dir)
    val day1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    val jobs = jobsOf(CurationStream.saveSeenDelta(frozen, dir, day1))
    assert(jobs <= 14, s"one curation delta ran $jobs jobs")
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }
}
