package graft

import org.apache.spark.sql.SparkSession

/** Host-state calibration probes shared by [[Bench]] and [[ScaleSmoke]].
  *
  * Two probes, because this shared host has (at least) two independent
  * drift modes and one scalar cannot price both (VERDICT r15 #2):
  *
  *  - [[cpuOnce]] — the fixed 50M-row codegen sum carried in BENCH/SCALE
  *    artifacts since round 6. It prices CPU availability (scheduling
  *    pressure, turbo state) and provably MISSED round-15's drift: calib
  *    read 0.126-0.444s while byte-identical suites swung 21.7-24.9s —
  *    the slow mode was I/O / memory-bandwidth shaped, which a
  *    register-arithmetic burst never touches.
  *  - [[ioSettled]] — a fixed scan + hash-aggregate over a pinned ~200 MB
  *    parquet fixture of xxhash64 noise (incompressible on purpose: a
  *    compressible fixture would measure the codec, not the memory
  *    system). The work is bandwidth-bound end to end — parquet decode,
  *    hash-partitioned aggregation, row transfer — so contention on the
  *    memory bus / page cache / disk shows up HERE even when the CPU
  *    burst stays flat.
  *
  * Every BENCH/SCALE row carries both (`calib_sec`, `calib_io_sec`), so a
  * cross-session delta is adjudicable from the artifact alone: flat calib
  * + inflated calib_io = the round-15 drift mode; both flat + a query
  * moved = a real code regression worth an interleaved A/B ([[BenchAB]]).
  *
  * Each [[ioSettled]] call writes the fixture into a temp dir (~2 s) and
  * deletes it afterwards; its size is fixed (14M rows x 2 incompressible
  * longs ≈ 220 MB) regardless of scale factor, so probe values compare
  * across rounds and notches.
  *
  * Run `runMain graft.Calib` for the contention-bracket demo: it samples
  * both probes idle, then under a deliberate in-process memory-bandwidth
  * hog, and prints one JSON line showing the io probe inflating ~with the
  * hog while the cpu burst moves far less — the bracket README cites.
  */
object Calib {

  /** Fixed CPU-burst probe: 50M-row codegen sum (the r6-era calibration,
    * unchanged so historical calib_sec values stay comparable). */
  def cpuOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** One bandwidth-bound sample: scan the fixture at `dir`, hash-aggregate
    * to 1024 groups, collect. */
  private def ioOnce(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    // pmod bounds the summand: a raw sum of 14M full-range xxhash64
    // longs overflows under ANSI mode (Spark 4 default) — found by the
    // first BenchAB child run, which is exactly the kind of failure the
    // harness exists to surface loudly
    spark.read.parquet(dir)
      .selectExpr("pmod(h1, 1024) AS k", "pmod(h2, 1000000) AS v")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.expr("sum(v) AS s"),
        org.apache.spark.sql.functions.expr("count(*) AS n"))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The recorded `calib_io_sec`: write the pinned bandwidth fixture into
    * a new temp directory, take one discarded scan (cache warm), return
    * the min of `n` samples, and delete the fixture, also on failure.
    * xxhash64 output is uniform noise, so parquet stores it ~raw: 14M rows
    * x 16 payload bytes ≈ 220 MB on disk and in flight, in 8 files so the
    * scan parallelizes without a repartition shuffle. Min, not median:
    * like the per-query stat, the probe's floor is the host's available
    * bandwidth; transient co-tenant spikes belong to `contended`
    * adjudication, not the fingerprint. */
  def ioSettled(spark: SparkSession, n: Int = 2): Double = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_calib_io").toString
    try {
      spark.range(14000000L)
        .selectExpr("id", "xxhash64(id) AS h1", "xxhash64(id, id+1) AS h2")
        .repartition(8)
        .write.mode("overwrite").parquet(dir)
      ioOnce(spark, dir)
      (1 to n).map(_ => ioOnce(spark, dir)).min
    } finally graft.core.Fs.delete(spark, dir)
  }

  /** Contention-bracket demo (VERDICT r15 #2 "Done" clause): prove the
    * two probes separate the two drift modes. Samples both probes idle,
    * then under an in-process memory-bandwidth hog (half the cores
    * memcpy-ing 256 MB buffers flat out — CPU-light, bus-heavy), and
    * prints one JSON line. Expected shape (and what round-15 implies):
    * calib_io_sec inflates several-fold under the hog while calib_sec
    * moves much less — so an artifact row with flat calib + inflated
    * calib_io is bandwidth contention, not a code regression. */
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sample3(f: => Double): Double = { f; math.min(f, f) } // warm + min of 2
    val idleCpu = sample3(cpuOnce(spark))
    val idleIo = ioSettled(spark, 3)
    val hogs = Runtime.getRuntime.availableProcessors() / 2
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // per-thread footprint 2 x 32 MB — larger than any LLC slice (so the
    // copies stream from DRAM and saturate the bus) but small enough that
    // the hog never pressures the 8g default heap into GC thrash
    val threads = (1 to hogs).map { _ =>
      val t = new Thread(() => {
        val a = new Array[Long](4 << 20) // 32 MB
        val b = new Array[Long](4 << 20)
        while (!stop.get()) System.arraycopy(a, 0, b, 0, a.length)
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(1000) // let the hog saturate the bus before sampling
    val hotCpu = sample3(cpuOnce(spark))
    val hotIo = ioSettled(spark, 3)
    stop.set(true); threads.foreach(_.join(2000))
    println(f"""{"probe_demo":"calib_bracket","hog_threads":$hogs,""" +
      f""""idle":{"calib_sec":$idleCpu%.3f,"calib_io_sec":$idleIo%.3f},""" +
      f""""contended":{"calib_sec":$hotCpu%.3f,"calib_io_sec":$hotIo%.3f},""" +
      f""""cpu_inflation":${hotCpu / idleCpu}%.2f,""" +
      f""""io_inflation":${hotIo / idleIo}%.2f}""")
    spark.stop()
  }
}
