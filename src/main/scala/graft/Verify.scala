package graft
import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: names after the two dirs restrict the dump to those
    // queries (`Verify <sf> <out> <name>` runs one); with the two dirs
    // alone it dumps the whole registry
    val only = args.drop(2).toSet
    val spark = GraftSession.builder(GraftSession.envCpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // crashed queries are recorded in the OUTPUT DIR (failed.json), not
    // just stderr — so a missing <name>/ parquet is distinguishable from
    // a query that threw (the artifact carries its own honesty). So is a
    // query that leaves cached RDDs behind after its CacheScope release:
    // each kept table must be tracked, or owned by a model it releases
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val sc = spark.sparkContext
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val before = sc.getPersistentRDDs.keySet
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = String.valueOf(e.getMessage).take(500)
      }
      finally graft.core.CacheScope.release() // operator-internal persists
      val leaked = sc.getPersistentRDDs -- before
      if (leaked.nonEmpty) {
        val msg = s"left ${leaked.size} cached RDD(s) after release: " +
          leaked.values.mkString("; ")
        System.err.println(s"[verify] $name $msg")
        failed(name) = failed.get(name).fold(msg)(_ + "; " + msg)
        leaked.values.foreach(_.unpersist(blocking = false))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, msg) => s"${q(k)}: ${q(msg)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    spark.stop()
  }
}
