package graft

import graft.core.GraftSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}. Results are fully
  * materialized via the noop sink (count() could shortcut through parquet
  * metadata and under-measure).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus(Runtime.getRuntime.availableProcessors())
    // AQE ON is the recorded headline mode (VERDICT r10 #7): it is the
    // library/cluster default (runtime re-planning, skew splitting) and —
    // measured at 3 samples since r10 — beats AQE-off on this suite
    // (15.72s vs 18.41s at sf0.1). The AQE-off suite is still recorded as
    // the secondary section (the fixed-plan baseline without per-stage
    // materialization overheads), so both stories stay in the artifact.
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.adaptive.enabled", aqe)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: spin up executors/codegen so the first timed query
    // measures the engine, not JVM start. The decimal/group-by/window
    // passes pre-JIT the codegen paths the first headline queries hit —
    // without them q1's first sample pays ~2x in C2 compilation.
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000000)
      .selectExpr("id % 7 AS k", "cast(id as decimal(18,6)) AS d")
      .groupBy("k").agg(org.apache.spark.sql.functions.expr("sum(d)"),
        org.apache.spark.sql.functions.expr("avg(d)")).collect()
    spark.range(100000).selectExpr("id % 13 AS k", "id AS v")
      .selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY v) AS r")
      .filter("r <= 5").collect()
    // Idle-gate calibration (VERDICT r6 #2, hardened per r7 #2): a fixed
    // 50M-row sum costs a stable ~0.18s on an idle host. Two gates:
    //  (a) jitter — two consecutive samples must agree within 25% (a host
    //      with BURSTY load never settles and the run is delayed);
    //  (b) steady load — consecutive agreement alone passes under STEADY
    //      contention (r7 recorded calib 1.59s with two agreeing samples),
    //      so the settled value is also compared against a pinned idle
    //      constant; while it exceeds 3x idle we back off and resample.
    // If after all tries calib is still > 3x idle, the run proceeds but is
    // loudly marked `"contended": true` in the JSON so the driver (or a
    // human) can discard/retry — a marked-dirty number beats a silent one.
    val idleCalibSec = sys.env.getOrElse("SPARK_GRAFT_IDLE_CALIB", "0.18").toDouble
    def calibOnce(): Double = Calib.cpuOnce(spark)
    var calib = calibOnce()
    var calibTries = 1
    var settled = false
    while (!(settled && calib <= 3 * idleCalibSec) && calibTries < 12) {
      if (settled) { // settled-but-loaded: give the host time to drain
        System.err.println(
          f"[bench] host contended (calib $calib%.3fs > 3x idle " +
            f"$idleCalibSec%.3fs); backing off")
        Thread.sleep(5000)
        settled = false
      }
      val next = calibOnce()
      settled = math.abs(next - calib) / math.max(next, calib) <= 0.25
      calib = next
      calibTries += 1
    }
    val contended = calib > 3 * idleCalibSec
    // Bandwidth-shaped second probe (VERDICT r15 #2): calib_sec prices a
    // CPU burst and provably missed round-15's I/O/memory-bandwidth drift
    // (calib 0.126-0.444s while totals swung 21.7-24.9s). calib_io_sec is
    // a fixed scan+hash-agg over a pinned ~220 MB incompressible parquet
    // fixture (graft.Calib) — flat calib + inflated calib_io in a row
    // reads as bandwidth contention, not a code regression.
    // the fingerprint must never kill the measurement: a probe failure
    // records -1 (visible in the artifact) instead of aborting the run
    val calibIo =
      try Calib.ioSettled(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench] calib_io probe failed: ${e.getMessage}")
        -1.0
      }
    // Dev profiling hook: SPARK_GRAFT_BENCH_QUERIES="a,b" restricts the run
    // to the named queries (any registry query, not just headlines).
    val names = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Queries.headlines)
    // GC/heap telemetry (VERDICT r17 #7): the r17 artifact carried a
    // 6x phantom swing on untouched code (e_knn_ivf 0.68 -> 4.12 s at
    // local[32], 0.90 s at local[8] minutes later) with nothing in the
    // JSON to attribute it — 32 concurrent tasks in one JVM share heap
    // and memory bandwidth, and that contention mode was invisible.
    // Record cumulative driver-JVM GC ms per suite (local mode: the
    // driver IS the executor) plus the peak observed heap, so a slow
    // row with flat calibs but inflated gc_ms reads as JVM/memory
    // contention, not a code regression. Read-only diagnostics;
    // additive JSON keys only.
    def gcNowMs(): Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var s = 0L
      while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
      s
    }
    var peakHeapMb = 0L
    val suiteGcMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def recordGc[A](suite: String)(f: => A): A = {
      val g0 = gcNowMs()
      val r = f
      suiteGcMs(suite) = suiteGcMs.getOrElse(suite, 0L) + (gcNowMs() - g0)
      r
    }
    // One timed materialization; `ok = false` marks a failed sample so it
    // can never pose as a valid timing (a failed query used to record its
    // elapsed time as a normal sample and flow into the totals with the
    // failure visible only on stderr — the artifact itself must show it).
    def sampleOnce(name: String, tag: String): (Double, Boolean) = {
      val fn = Queries.queries(name)
      val t0 = System.nanoTime()
      var ok = true
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        ok = false
        System.err.println(s"[bench] $name$tag failed: ${e.getMessage}")
      }
      finally graft.core.CacheScope.release() // operator-internal persists
      val used = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed >> 20
      if (used > peakHeapMb) peakHeapMb = used
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    def runSuite(qnames: Seq[String], nSamples: Int,
                 tag: String): Seq[(String, Seq[(Double, Boolean)])] =
      qnames.map { name => name -> (1 to nSamples).map(_ => sampleOnce(name, tag)) }
    // min of three runs per query: the machine shares cores with the round
    // driver, and single samples carry multi-second scheduling noise —
    // round-6 measured the SAME code at 1.7s and 29s minutes apart under
    // host contention, so a third sample materially tightens the min.
    val results = recordGc("headline")(runSuite(names, 3, ""))
    // Second recorded variant (VERDICT r7 #7, flipped r11 per r10 #7):
    // the same headline suite in the OPPOSITE AQE mode — with the
    // headline now AQE-on, this records the fixed-plan AQE-off baseline
    // (and vice versa if the env overrides the primary to off). 3 samples
    // per query (min + median recorded): the r9 artifact's 2 samples let
    // one contended/warm-up sample read as a 2.7x "AQE regression" —
    // re-measured idle at 3 samples the modes agree within noise.
    // Skipped via SPARK_GRAFT_AQE_BOTH=false.
    val altAqe = if (aqe == "true") "false" else "true"
    val altResults: Seq[(String, Seq[(Double, Boolean)])] =
      if (sys.env.get("SPARK_GRAFT_AQE_BOTH").contains("false")) Nil
      else {
        spark.conf.set("spark.sql.adaptive.enabled", altAqe)
        val r = recordGc("aqe_alt")(runSuite(names, 3, s" (aqe=$altAqe)"))
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        r
      }
    // Third recorded section: the round-8 PIPELINE operators (selection,
    // LM filter, tokenizer application) timed SEPARATELY from the headline
    // total so round-over-round comparability of "value" is untouched —
    // the driver's parser reads additive keys. 2 samples, min recorded.
    // Kill-switch: SPARK_GRAFT_PIPELINE_BENCH=false.
    // m_image_resize exercises the multimodal decode path (stub codec, real
    // batched mapPartitions plumbing) and t_curation_pipeline the full
    // composed selection chain — both added r9 so codec or composition
    // regressions become visible round-over-round.
    val pipelineNames =
      if (sys.env.get("SPARK_GRAFT_PIPELINE_BENCH").contains("false")) Nil
      else Seq("t_dsir", "t_kneser_ney3", "t_ccnet_buckets", "t_contam_frac",
        "t_input_ids", "t_packed_ids", "t_source_kl", "m_image_resize",
        "t_curation_pipeline")
    // Frozen curation timed in TWO phases (VERDICT r9 #3): the single
    // t_frozen_curation number bundled the one-time freeze (training DSIR
    // weights, Blooms, KN3, the perplexity cutoff) with the per-batch
    // apply, so the 23.6s row read as if apply were slow. The design's
    // claim is cheap per-batch apply against warm frozen artifacts —
    // price each phase separately. Freeze timing INCLUDES materializing
    // every frozen artifact, which freeze() does itself (train once, ship
    // warm); apply then measures only curateBatch against them.
    def frozenSuite(): Seq[(String, Seq[(Double, Boolean)])] =
      if (pipelineNames.isEmpty) Nil
      else {
        import org.apache.spark.sql.functions.col
        def onePass(): ((Double, Boolean), (Double, Boolean)) = {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          val ref = docs.filter(col("doc_id") % 2 === 0)
          var okF = true
          var okA = true
          val t0 = System.nanoTime()
          val frozenOpt =
            try {
              val f = graft.streaming.CurationStream.freeze(
                ref, ref.filter(col("doc_id") % 31 === 0),
                col("lang") === "en")
              f.tables.foreach(graft.core.CacheScope.track)
              Some(f)
            } catch { case e: Throwable =>
              okF = false
              System.err.println(
                s"[bench] t_frozen_curation_freeze failed: ${e.getMessage}")
              None
            }
          val tF = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          frozenOpt match {
            case Some(f) =>
              try graft.streaming.CurationStream.curateBatch(
                  docs.filter(col("doc_id") % 2 === 1), f)
                .write.mode("overwrite").format("noop").save()
              catch { case e: Throwable =>
                okA = false
                System.err.println(
                  s"[bench] t_frozen_curation_apply failed: ${e.getMessage}")
              }
            case None => okA = false
          }
          val tA = (System.nanoTime() - t1) / 1e9
          graft.core.CacheScope.release()
          ((tF, okF), (tA, okA))
        }
        val passes = (1 to 2).map(_ => onePass())
        Seq("t_frozen_curation_freeze" -> passes.map(_._1),
          "t_frozen_curation_apply" -> passes.map(_._2))
      }
    val pipelineResults = recordGc("pipeline")(
      runSuite(pipelineNames, 2, " (pipeline)") ++ frozenSuite())
    // The pipeline suite in the OPPOSITE AQE mode (VERDICT r12 #8): the
    // headline records both modes but the heavy pipeline rows recorded
    // only the primary, so a mode-flip regression in exactly the rows
    // most sensitive to runtime re-planning was invisible in the driver
    // artifact. Same skip-switch as the headline's alt pass.
    val altPipelineResults: Seq[(String, Seq[(Double, Boolean)])] =
      if (altResults.isEmpty || pipelineNames.isEmpty) Nil
      else {
        spark.conf.set("spark.sql.adaptive.enabled", altAqe)
        val r = recordGc("pipeline_aqe_alt")(
          runSuite(pipelineNames, 2, s" (pipeline aqe=$altAqe)") ++
            frozenSuite())
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        r
      }
    // headline value per query = min of the OK samples (scheduling-noise
    // floor); all samples are recorded so a contaminated run is visible in
    // the artifact itself (VERDICT r6 #2), not just in its total. A sample
    // that FAILED records as null (never a number), a query with no OK
    // sample records null and is excluded from its suite total, and every
    // failed (suite, query) lands in the top-level "failed" list — the
    // artifact shows the failure, not just stderr.
    def minOk(v: Seq[(Double, Boolean)]): Option[Double] = {
      val ok = v.collect { case (s, true) => s }
      if (ok.isEmpty) None else Some(ok.min)
    }
    // median of the OK samples (VERDICT r10 #7): min is the
    // scheduling-noise floor, but the ±35% drift seen on ~1s rows is only
    // diagnosable when the artifact also shows the TYPICAL sample — a
    // noisy query has median >> min, a genuinely slow one moves both.
    def medianOk(v: Seq[(Double, Boolean)]): Option[Double] = {
      val ok = v.collect { case (s, true) => s }.sorted
      if (ok.isEmpty) None
      else if (ok.length % 2 == 1) Some(ok(ok.length / 2))
      else Some((ok(ok.length / 2 - 1) + ok(ok.length / 2)) / 2)
    }
    def qmap(rs: Seq[(String, Seq[(Double, Boolean)])],
             stat: Seq[(Double, Boolean)] => Option[Double]): String =
      rs.map { case (k, v) =>
        "\"" + k + "\":" + stat(v).map(m => f"$m%.3f").getOrElse("null")
      }.mkString("{", ",", "}")
    def suiteJson(rs: Seq[(String, Seq[(Double, Boolean)])]): (String, String, String) = {
      val tot = f"${rs.flatMap { case (_, v) => minOk(v) }.sum}%.3f"
      (qmap(rs, minOk), tot, qmap(rs, medianOk))
    }
    val failedJson = (results.map(("" , _)) ++ altResults.map(("aqe_alt:", _)) ++
        pipelineResults.map(("pipeline:", _)) ++
        altPipelineResults.map(("pipeline_aqe_alt:", _)))
      .collect { case (pfx, (k, v)) if minOk(v).isEmpty => "\"" + pfx + k + "\"" }
      .mkString("[", ",", "]")
    val (qs, total, qMed) = suiteJson(results)
    val samplesJson = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map { case (s, ok) =>
        if (ok) f"$s%.3f" else "null" }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val altName = if (altAqe == "true") "aqe_on" else "aqe_off"
    val aqeJson =
      if (altResults.isEmpty) ""
      else {
        val (aq, at, am) = suiteJson(altResults)
        s""""${altName}_queries":$aq,"${altName}_total":$at,""" +
          s""""${altName}_medians":$am,"""
      }
    val pipeJson =
      if (pipelineResults.isEmpty) ""
      else {
        val (pq, pt, pm) = suiteJson(pipelineResults)
        s""""pipeline_queries":$pq,"pipeline_total":$pt,""" +
          s""""pipeline_medians":$pm,"""
      }
    val altPipeJson =
      if (altPipelineResults.isEmpty) ""
      else {
        val (pq, pt, _) = suiteJson(altPipelineResults)
        s""""pipeline_${altName}_queries":$pq,""" +
          s""""pipeline_${altName}_total":$pt,"""
      }
    // Host fingerprint (VERDICT r13 #6): round-over-round artifacts must
    // be machine-adjudicable — r13 burned a same-host A/B to prove a
    // uniform 1.1-1.45x shift on byte-identical code was the host. The
    // cpu model + core count identify the machine class; calib_sec (the
    // fixed 50M-row sum) is the speed scalar to normalize by.
    val cpuModel = try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("model name") => l.split(":", 2)(1).trim
      }.getOrElse("unknown")
      finally src.close()
    } catch { case _: Exception => "unknown" }
    val nCores = Runtime.getRuntime.availableProcessors()
    // Per-query regression watch (VERDICT r16 #8): the 2x gate is defined
    // on suite TOTALS, so one slow query can hide under a fast total.
    // Compare this run's per-query MEDIANS against the previous
    // BENCH_LAST.json (read before it is overwritten below) and record
    // every query whose median exceeds 2x its predecessor — but ONLY when
    // both calibration probes are flat (<= 1.5x the previous run's), so
    // host drift (the adjudicated r15/r16 swing mode) never lands in the
    // watch list as a fake code regression. Non-fatal by design: the
    // driver consumes exit 0; the artifact carries the flag.
    val prevBench: Option[String] =
      try {
        val p = java.nio.file.Paths.get("BENCH_LAST.json")
        if (java.nio.file.Files.exists(p))
          Some(java.nio.file.Files.readString(p))
        else None
      } catch { case _: Exception => None }
    def mediansOf(json: String, key: String): Map[String, Double] =
      ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(json)
        .map(_.group(1)).toSeq.flatMap { body =>
          "\"([^\"]+)\":([0-9][0-9.]*)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble)
        }.toMap
    def scalarOf(json: String, key: String): Option[Double] =
      ("\"" + key + "\":(-?[0-9][0-9.]*)").r.findFirstMatchIn(json)
        .map(_.group(1).toDouble)
    val watchJson = prevBench match {
      case _ if sys.env.get("SPARK_GRAFT_WATCH").contains("false") => "[]"
      case None => "[]"
      case Some(prev) =>
        val calibFlat = Seq(("calib_sec", calib), ("calib_io_sec", calibIo))
          .forall { case (k, cur) =>
            scalarOf(prev, k).forall(p => p <= 0 || cur <= 0 || cur <= 1.5 * p)
          }
        if (!calibFlat) {
          System.err.println("[bench] watch list suppressed: calibration " +
            "probes moved >1.5x vs the previous run (host drift, not code)")
          "[]"
        } else {
          val prevMed = mediansOf(prev, "query_medians") ++
            mediansOf(prev, "pipeline_medians")
          val slow = (results ++ pipelineResults).flatMap { case (k, v) =>
            (medianOk(v), prevMed.get(k)) match {
              case (Some(cur), Some(p)) if p > 0 && cur > 2 * p =>
                System.err.println(
                  f"[bench] WATCH $k: median $cur%.3fs > 2x previous $p%.3fs" +
                    " with calibs flat")
                Some("\"" + k + "\"")
              case _ => None
            }
          }
          slow.mkString("[", ",", "]")
        }
    }
    val gcJson = suiteGcMs
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val commonTail =
      s""""gc_ms":$gcJson,"peak_heap_mb":$peakHeapMb,""" +
        s""""watch":$watchJson,"failed":$failedJson,""" +
        f""""calib_sec":$calib%.3f,"calib_io_sec":$calibIo%.3f,""" +
        s""""calib_tries":$calibTries,"contended":$contended,""" +
        s""""host_cpu":"${cpuModel.replace("\\", "/").replace("\"", "'")}","host_cores":$nCores,""" +
        s""""aqe":$aqe,"sf":"$sfDir"}"""
    val detailJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""query_medians":$qMed,""" +
        s""""samples":$samplesJson,$aqeJson$pipeJson$altPipeJson""" +
        commonTail
    // COMPACT driver line (VERDICT r11 #1/#7): the driver records only the
    // last ~2000 chars of stdout, and round-11's single detail line grew to
    // 3003 chars — its head (the {"metric"... prefix) fell off the capture
    // and the round's official record parsed as null. The driver-parsed
    // line must stay comfortably under that budget: per-sample arrays and
    // the per-query alt-AQE/median detail move to BENCH_LAST.json (and the
    // detail line below, printed FIRST so the compact line is always the
    // last — fully captured — line). Scalar totals for the alt-AQE and
    // pipeline suites stay in the compact record so round-over-round
    // comparability survives in the driver artifact itself.
    val altTotalJson =
      if (altResults.isEmpty) ""
      else s""""${altName}_total":${suiteJson(altResults)._2},"""
    val pipeCompactJson =
      if (pipelineResults.isEmpty) ""
      else {
        val (pq, pt, _) = suiteJson(pipelineResults)
        s""""pipeline_queries":$pq,"pipeline_total":$pt,"""
      }
    // alt-mode pipeline: TOTAL only in the compact line (the per-query
    // detail lives in BENCH_LAST.json; the compact line must stay well
    // under the driver's ~2000-char tail capture)
    val altPipeTotalJson =
      if (altPipelineResults.isEmpty) ""
      else s""""pipeline_${altName}_total":${suiteJson(altPipelineResults)._2},"""
    val compactJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""query_medians":$qMed,""" + altTotalJson + pipeCompactJson +
        altPipeTotalJson + commonTail
    // bare stdout lines (build.sbt strips sbt's [info] framing via
    // OutputStrategy): detail first, compact LAST so the tail capture
    // always holds one complete parseable record; the file copy keeps the
    // full detail either way.
    println(detailJson)
    println(compactJson)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"), detailJson + "\n")
    spark.stop()
  }
}
