package graft

/** Interleaved same-host A/B bench harness (VERDICT r15 #1).
  *
  * Cross-session bench deltas on this shared host are UNADJUDICABLE from
  * single-run artifacts: round 15 measured byte-identical code at
  * 17.64s vs 24.46s in different sessions, and the calib probes can say
  * "the host changed" but not "by how much for THIS suite". The only
  * clean adjudication is the one round 15 ran by hand — rebuild the old
  * ref in a worktree and alternate the two codebases' suites A,B,A,B in
  * ONE session, so host drift averages across both sides. This main makes
  * that a harness feature instead of a manual session step.
  *
  * Usage (from the repo root):
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch "runMain graft.BenchAB <refA> [refB] [alternations]"
  * }}}
  *  - `refA` — any git ref (the OLD side), checked out into a worktree
  *    under /tmp and compiled there with sbt;
  *  - `refB` — a second ref, or the literal `WORKTREE` (default): the
  *    CURRENT repo's already-compiled classes, so the usual call
  *    adjudicates "did MY diff slow anything down";
  *  - `alternations` — how many A,B pairs (default 2 → A,B,A,B).
  *
  * Each side runs the FULL Bench suite (headline 3-sample + pipeline +
  * frozen two-phase) in its own child JVM with `SPARK_GRAFT_AQE_BOTH=
  * false` (the alt-AQE re-run doubles wall time and adjudicates a
  * different question). Child runs are strictly sequential — concurrent
  * suites would contend with each other and poison the comparison.
  *
  * Output: one `ABBENCH.json` in the cwd (and the same JSON on stdout) —
  * per query the min across each side's runs, the b/a ratio, both suites'
  * totals, and every run's calib/calib_io fingerprint so the session's
  * own host state is in the artifact. Per-query ratios from min-of-N are
  * noise-floored the same way BENCH rows are; a ratio far from 1.0 on a
  * query whose diff is empty is the signal this harness exists to kill.
  */
object BenchAB {

  private def run(cmd: Seq[String], cwd: java.io.File,
                  env: Map[String, String] = Map.empty): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd)
    pb.redirectErrorStream(false)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    // drain stderr on a thread (sbt/spark logs) so the pipe never blocks
    val errT = new Thread(() => {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getErrorStream))
      var l = br.readLine()
      while (l != null) { System.err.println(l); l = br.readLine() }
    })
    errT.setDaemon(true); errT.start()
    val out = new StringBuilder
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream))
    var l = br.readLine()
    while (l != null) { out.append(l).append('\n'); l = br.readLine() }
    val code = p.waitFor()
    (code, out.toString)
  }

  private def sh(cwd: java.io.File, cmd: String*): String = {
    val (code, out) = run(cmd, cwd)
    require(code == 0, s"command failed ($code): ${cmd.mkString(" ")}")
    out.trim
  }

  // mirror build.sbt's jdk17AddOpens: the child JVM creates SparkSession
  // outside spark-submit, which normally injects these
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** One full Bench suite in a child JVM on `classesDir`'s code; returns
    * the parsed compact record (the last stdout line). */
  private def benchOnce(classesDir: String, scratch: java.io.File,
                        sfDir: String): com.fasterxml.jackson.databind.JsonNode = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    val cmd = Seq(java) ++ addOpens ++ Seq(
      s"-Xmx$mem", "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
      "-cp", s"$classesDir:/opt/spark/jars/*",
      "graft.Bench")
    val (code, out) = run(cmd, scratch, Map(
      "SPARK_GRAFT_SF_DIR" -> sfDir,
      "SPARK_GRAFT_AQE_BOTH" -> "false",
      // alternating children share the scratch dir's BENCH_LAST.json, so
      // the regression watch would "compare" A against B — that is this
      // harness's OWN job, done properly with ratios; suppress it
      "SPARK_GRAFT_WATCH" -> "false",
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)))
    require(code == 0, s"child Bench exited $code (classes: $classesDir)")
    val last = out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption
      .getOrElse(sys.error(s"child Bench printed no JSON (classes: $classesDir)"))
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(last)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: BenchAB <refA> [refB|WORKTREE] [alternations]")
    val refA = args(0)
    val refB = if (args.length > 1) args(1) else "WORKTREE"
    val rounds = if (args.length > 2) args(2).toInt else 4
    // Noise floor, self-calibrated by the committed r16 artifact
    // (ABBENCH.json's own 2-vs-4 alternation pair): at 2 alternations
    // diff-empty queries swing ±20-40%, settling only at 4. Per-query
    // ratios from fewer than 4 alternations are NOT adjudicable and
    // totals need >= 4 — warn loudly rather than let a below-floor run
    // masquerade as an adjudication (VERDICT r16 #7).
    if (rounds < 4)
      System.err.println(s"[benchab] WARNING: $rounds alternations is " +
        "below the measured noise floor — per-query ratios swing " +
        "±20-40% at 2 alternations (see README, 'A/B noise floor'); " +
        "use >= 4 for an adjudicable comparison")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repo = new java.io.File(".").getCanonicalFile

    /** Resolve a side to (label, sha, compiled-classes dir). `WORKTREE`
      * is the current tree's classes as already built by the enclosing
      * sbt (this very main just compiled); a ref gets its own git
      * worktree + sbt compile. */
    def prepare(ref: String): (String, String, String) =
      if (ref == "WORKTREE") {
        val sha = sh(repo, "git", "rev-parse", "--short", "HEAD")
        (s"worktree@$sha", sha,
          new java.io.File(repo, "target/scala-2.13/classes").getAbsolutePath)
      } else {
        val sha = sh(repo, "git", "rev-parse", "--short", ref)
        val wt = new java.io.File(s"/tmp/benchab_$sha")
        if (!wt.exists()) {
          sh(repo, "git", "worktree", "add", "--force", wt.getAbsolutePath, ref)
          System.err.println(s"[benchab] compiling $ref at $wt ...")
          val (c, out) = run(Seq("sbt", "-batch", "compile"), wt)
          require(c == 0, s"sbt compile failed for $ref:\n${out.takeRight(2000)}")
        } else System.err.println(s"[benchab] reusing built worktree $wt")
        (ref, sha,
          new java.io.File(wt, "target/scala-2.13/classes").getAbsolutePath)
      }

    val (labA, shaA, cpA) = prepare(refA)
    val (labB, shaB, cpB) = prepare(refB)
    val scratchA = java.nio.file.Files.createTempDirectory("benchab_a").toFile
    val scratchB = java.nio.file.Files.createTempDirectory("benchab_b").toFile

    // strict interleave: A,B,A,B... — host drift inside the session hits
    // both sides symmetrically instead of whichever ran last
    val runsA = scala.collection.mutable.ArrayBuffer
      .empty[com.fasterxml.jackson.databind.JsonNode]
    val runsB = scala.collection.mutable.ArrayBuffer
      .empty[com.fasterxml.jackson.databind.JsonNode]
    for (i <- 1 to rounds) {
      System.err.println(s"[benchab] round $i/$rounds: side A ($labA)")
      runsA += benchOnce(cpA, scratchA, sfDir)
      System.err.println(s"[benchab] round $i/$rounds: side B ($labB)")
      runsB += benchOnce(cpB, scratchB, sfDir)
    }

    def num(n: com.fasterxml.jackson.databind.JsonNode): Option[Double] =
      if (n == null || n.isNull || !n.isNumber) None else Some(n.asDouble)
    /** per-query min across a side's runs, for one suite key */
    def suiteMin(runs: Seq[com.fasterxml.jackson.databind.JsonNode],
                 key: String): Map[String, Double] =
      runs.flatMap { r =>
        import scala.jdk.CollectionConverters._
        Option(r.get(key)).toSeq.flatMap(_.fields().asScala
          .flatMap(e => num(e.getValue).map(e.getKey -> _)).toSeq)
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }

    def cmpJson(key: String): (String, Double, Double) = {
      val a = suiteMin(runsA.toSeq, key)
      val b = suiteMin(runsB.toSeq, key)
      val keys = (a.keySet ++ b.keySet).toSeq.sorted
      val body = keys.map { k =>
        val av = a.get(k); val bv = b.get(k)
        val ratio = for (x <- av; y <- bv) yield y / x
        s""""$k":{"a":${av.map(v => f"$v%.3f").getOrElse("null")},""" +
          s""""b":${bv.map(v => f"$v%.3f").getOrElse("null")},""" +
          s""""ratio":${ratio.map(v => f"$v%.3f").getOrElse("null")}}"""
      }.mkString("{", ",", "}")
      (body, a.values.sum, b.values.sum)
    }
    val (headCmp, headA, headB) = cmpJson("queries")
    val (pipeCmp, pipeA, pipeB) = cmpJson("pipeline_queries")
    def calibArr(runs: Seq[com.fasterxml.jackson.databind.JsonNode],
                 key: String): String =
      runs.map(r => num(r.get(key)).map(v => f"$v%.3f").getOrElse("null"))
        .mkString("[", ",", "]")
    val hostCpu = runsA.headOption.flatMap(r => Option(r.get("host_cpu")))
      .map(_.asText("unknown")).getOrElse("unknown")
    val json =
      s"""{"metric":"ab_compare","ref_a":"$labA","sha_a":"$shaA",""" +
        s""""ref_b":"$labB","sha_b":"$shaB","alternations":$rounds,""" +
        f""""headline_total_a":$headA%.3f,"headline_total_b":$headB%.3f,""" +
        f""""headline_ratio":${headB / headA}%.3f,""" +
        f""""pipeline_total_a":$pipeA%.3f,"pipeline_total_b":$pipeB%.3f,""" +
        f""""pipeline_ratio":${if (pipeA > 0) pipeB / pipeA else -1.0}%.3f,""" +
        s""""headline":$headCmp,"pipeline":$pipeCmp,""" +
        s""""calib_a":${calibArr(runsA.toSeq, "calib_sec")},""" +
        s""""calib_b":${calibArr(runsB.toSeq, "calib_sec")},""" +
        s""""calib_io_a":${calibArr(runsA.toSeq, "calib_io_sec")},""" +
        s""""calib_io_b":${calibArr(runsB.toSeq, "calib_io_sec")},""" +
        s""""host_cpu":"${hostCpu.replace("\"", "'")}",""" +
        s""""sf":"$sfDir","ts_ms":${System.currentTimeMillis}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("ABBENCH.json"), json + "\n")
  }
}
