package corpusbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One run is one fresh JVM: start a session and
  * generate and write the inputs `SetupReps` times (set-up time counts the
  * session start and the median generation). Then run the workload's pass
  * once over the inputs, into empty cache and output directories, check its
  * outputs and print one JSON line. The pass is the first one the JVM makes,
  * as in a one-shot batch build, so it pays class loading, JIT compilation
  * and Spark's code generation along with the work. With `--trace 1` a
  * [[LayerListener]] is attached for the pass and the run prints per-layer
  * metrics instead of end-to-end ones, and writes the spans to `--spans`.
  *
  * Usage: Bench --workload <name> --seed <n> --trace <0|1>
  *              --work <dir> --spans <file> [--docs <n>]
  */
object Bench {
  val SetupReps = 3
  val Layers = Seq("catalog", "corpus", "textops", "export", "srp", "dedup",
    "curation", "explore")

  /** Every per-layer metric with its unit; a layer a workload does not call
    * reports 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("unigrams", "bigrams", "total_wordcounts", "encoded_unigrams",
      "encoded_bigrams", "document_lengths").map(s => s"textops.$s.wall_s" -> "s") ++
    Seq("textops.tokens" -> "count", "textops.vocab_size" -> "count",
      "catalog.build.wall_s" -> "s", "corpus.text.wall_s" -> "s",
      "export.to_parquet.wall_s" -> "s", "export.flat_catalog.wall_s" -> "s",
      "corpus.cache_bytes_written" -> "bytes", "export.bytes_written" -> "bytes",
      "out_bytes_per_in_byte" -> "ratio",
      "srp.bits.wall_s" -> "s", "srp.hamming_pairs.wall_s" -> "s",
      "srp.pairs" -> "count", "srp.planted_recall" -> "ratio",
      "explore.document.p50_ms" -> "ms", "explore.trend.p50_ms" -> "ms",
      "explore.facet.p50_ms" -> "ms", "explore.jobs_per_op" -> "count",
      "dedup.survivors.wall_s" -> "s", "dedup.planted_recall" -> "ratio",
      "dedup.survivors" -> "count",
      "curation.freeze.wall_s" -> "s", "curation.apply.wall_s" -> "s",
      "apply_docs_per_s" -> "docs/s", "trace.pass_wall_s" -> "s") ++
    Seq("resample", "decontam", "dedup", "perplexity")
      .map(s => s"curation.kept.$s" -> "count") ++
    Layers.flatMap(l => Seq(s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.executor_cpu_s" -> "s", s"$l.shuffle_write_bytes" -> "bytes",
      s"$l.spill_bytes" -> "bytes", s"$l.gc_s" -> "s",
      s"$l.driver_gap_s" -> "s"))

  /** Median; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  /** A local session with the settings `graft.Bench` runs the engine with;
    * Spark's local files go under `work`. */
  def session(work: Path): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("corpusbench")
      .config("spark.sql.legacy.sizeOfNull", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  private def json(metrics: Seq[(String, Double, String)], correct: Boolean,
                   attempted: Long, failed: Long): String = {
    val ms = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$k": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val spansFile = Paths.get(arg(args, "--spans")).toAbsolutePath
    val docs = if (args.contains("--docs")) arg(args, "--docs").toInt else 0
    Files.createDirectories(work)

    val spark = session(work)
    val sc = spark.sparkContext
    sc.parallelize(1 to 4, 4).count() // executors up
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val tracer = new Tracer(sc)
      val w = Workloads(workload, new Ctx(spark, tracer, work, seed), docs)
      val prep = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime()
        val in = w.prepare()
        ((System.nanoTime() - t0) / 1e9, in)
      }
      val in = prep.last._2
      val setupS = sessionS + median(prep.map(_._1))

      val listener = new LayerListener
      if (traced) sc.addSparkListener(listener)
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val passError =
        try { tracer.span(s"$workload.pass")(w.pass(in)); None }
        catch { case e: Exception => Some(e) }
      val passS = (System.nanoTime() - t0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      passError.foreach(e => System.err.println(s"pass failed: $e"))
      val checks =
        if (passError.nonEmpty) Seq("pass completed" -> false)
        else
          try w.checks(in)
          catch { case e: Exception => Seq(s"checks raised $e" -> false) }
      checks.foreach { case (name, ok) =>
        println(s"# check ${if (ok) "ok  " else "FAIL"} $name")
      }
      if (passError.isEmpty) w.skipped(in).foreach(s => println(s"# check skipped: $s"))
      // one attempted op (the pass) plus each output check
      val attempted = 1L + checks.size
      val failed = passError.size.toLong + checks.count(!_._2)

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("docs_per_s", w.docs / passS, "docs/s"))
        else {
          drain(sc, listener)
          val spans = tracer.spans.toSeq
          val wall = spans.groupBy(_.name).map { case (k, ss) => k -> ss.map(_.wallS).sum }
          val layer = Trace.layerMetrics(Layers, spans, listener, tracer)
          val queries = spans.count(_.layer == "explore")
          val values = layer ++
            Map("explore.jobs_per_op" ->
              (if (queries == 0) 0.0 else layer("explore.jobs") / queries)) ++
            (if (passError.isEmpty) w.layerValues(in) else Map.empty) ++
            Map("trace.pass_wall_s" -> passS) ++
            Seq("document", "trend", "facet").map { k =>
              s"explore.$k.p50_ms" ->
                median(spans.filter(_.name == s"explore.$k").map(_.wallS * 1e3))
            }
          tracer.write(spansFile, s"$workload-seed$seed")
          PerLayer.map { case (name, unit) =>
            val v =
              if (name.endsWith(".wall_s") && name != "trace.pass_wall_s")
                wall.getOrElse(name.stripSuffix(".wall_s"), 0.0)
              else values.getOrElse(name, 0.0)
            (name, v, unit)
          }
        }
      val g = in.gen
      println(s"# workload=$workload seed=$seed docs=${w.docs} " +
        s"tokens=${g.tokenTotal} text_bytes=${g.textBytes} " +
        f"session_s=$sessionS%.2f prepare_s=${prep.map(p => f"${p._1}%.2f").mkString(",")} " +
        f"pass_s=$passS%.2f " +
        f"cpu_s=$cpuS%.2f")
      println(json(metrics, failed == 0, attempted, failed))
    } finally spark.stop()
  }

  /** Waits until the listener has seen every event posted so far: the
    * listener bus is asynchronous, and a marker job's end arrives after
    * all earlier events. */
  private def drain(sc: org.apache.spark.SparkContext, l: LayerListener): Unit = {
    val group = "corpusbench-drain"
    sc.setJobGroup(group, "drain")
    sc.parallelize(1 to 1, 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (l.lastEndedJobGroup != group && System.nanoTime() < deadline)
      Thread.sleep(1)
  }
}
