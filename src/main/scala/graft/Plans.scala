package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.core.{CacheScope, GraftSession}

/** Dumps the formatted physical plans of the query registry — the evidence
  * artifact for plan-quality review (pushdown, pruning, broadcast choice,
  * codegen spans).
  *
  * `runMain graft.Plans [out] [sfDir]` writes every registry query's plan
  * to one markdown file (default PLANS.md). `runMain graft.Plans <outDir>
  * <sfDir> <name...>` writes only the named queries, one
  * `<outDir>/<name>.txt` each, for comparing plans across changes. */
object Plans {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "PLANS.md"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val only = args.drop(2)
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // literal control chars in plan expressions (e.g. the snapshot
    // fingerprint's U+0001 separator) would make the file binary —
    // escape them so the artifact stays reviewable text
    def plan(name: String): String =
      try Queries.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode)
        .flatMap(c => if (c < ' ' && c != '\n' && c != '\t')
          f"\\u${c.toInt}%04x" else c.toString)
      finally CacheScope.release() // operator-internal persists
    if (only.nonEmpty) {
      new java.io.File(out).mkdirs()
      for (name <- only) {
        Files.writeString(Paths.get(out, s"$name.txt"), plan(name))
        println(s"[plans] $out/$name.txt")
      }
    } else {
      val sb = new StringBuilder
      sb.append("# Physical plans of the FULL query registry\n\n")
      sb.append(s"Generated by `runMain graft.Plans` against `$dir`.\n")
      sb.append("Review checklist per plan: PushedFilters reach the scan, ")
      sb.append("ReadSchema is pruned, dimension joins broadcast, aggregates ")
      sb.append("are partial+final, WholeStageCodegen spans are wide.\n")
      // every oracle-checked query gets a section, so the zero-cartesian /
      // pruned-scan / SMJ machine scan is total, not a headline sample;
      // registry order = Queries.all order
      for ((name, _) <- Queries.all)
        sb.append(s"\n## $name\n\n```\n").append(plan(name)).append("```\n")
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plans] wrote $out")
    }
    spark.stop()
  }
}
