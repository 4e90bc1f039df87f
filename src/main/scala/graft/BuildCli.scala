package graft

import graft.core.{Corpus, GraftSession}

/** CLI parity with the reference's `nonconsumptive build --targets ...`
  * (commander.py:36-116). The reference's multiprocessing layer IS Spark
  * here (SURVEY §3.3): partitions replace bookstacks, the shuffle replaces
  * the filesystem handoff, and `total_wordcounts` is just an action that
  * runs before encoding targets.
  *
  * Usage:
  *   runMain graft.BuildCli --texts DIR [--format txt] [--metadata FILE]
  *     [--cache-dir DIR] --targets unigrams,encoded_unigrams,...
  */
object BuildCli {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val texts = opts.getOrElse("texts",
      sys.error("--texts DIR is required"))
    val targets = opts.getOrElse("targets", "unigrams").split(",").toSeq
    val cpus = GraftSession.envCpus(Runtime.getRuntime.availableProcessors())
    val builder = GraftSession.builder(cpus)
    val spark = sys.env.get("SPARK_MASTER").fold(builder)(builder.master)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = Corpus.fromFolder(spark, texts,
      format = opts.getOrElse("format", "txt"),
      metadata = opts.get("metadata"),
      cacheDir = opts.get("cache-dir"),
      cacheSet = targets.toSet + "catalog")
    // corpus-global vocabulary must exist before any encoded_* target
    // (reference build ordering, tests/test_threading.py:99-104)
    if (targets.exists(_.startsWith("encoded"))) corpus.totalWordcounts.count()
    corpus.cacheTargets(targets)
    targets.foreach(t => println(s"[build] $t rows=${corpus.derived(t).count()}"))
    spark.stop()
  }
}
