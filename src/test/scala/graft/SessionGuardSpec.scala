package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session factory: every main and test builds its session through
  * [[graft.core.GraftSession]], so the settings the oracles depend on
  * cannot drift between copies. `Smoke` alone keeps a plain builder, to
  * show `SparkEntry.entry` needs none of them. */
class SessionGuardSpec extends AnyFunSuite {

  test("only GraftSession and Smoke call the SparkSession builder") {
    val needle = "SparkSession" + ".builder" // not a match for this file
    val allowed = Set("GraftSession.scala", "Smoke.scala")
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val builders = sources.filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString)
    assert(builders.filterNot(allowed).isEmpty,
      s"sessions built outside GraftSession: ${builders.filterNot(allowed)}")
  }

  test("localCheckpoint only freezes a source before a write changes it") {
    // graft.core.CacheScope states the rule: every other eager keep is a
    // materialized leaf, which a release or its model frees. Checkpoint
    // blocks are freed by GC alone.
    val needle = ".localCheckpoint" + "("
    val allowed = Map(
      "CurationStream.scala" -> Seq("saveSeenDelta"),
      "Similarity.scala" -> Seq("addToSavedIvfPq", "addToSavedIvfPq"))
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // each call site, named by the nearest enclosing `def` above it
    val sites = sources.flatMap { p =>
      var owner = ""
      Files.readAllLines(p).asScala.flatMap { line =>
        "\\bdef (\\w+)".r.findFirstMatchIn(line).foreach(m => owner = m.group(1))
        if (line.contains(needle)) Some(p.getFileName.toString -> owner)
        else None
      }
    }.groupMap(_._1)(_._2)
    assert(sites == allowed, s"localCheckpoint call sites: $sites")
  }

  test("the test session carries the oracle settings from the factory") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.legacy.sizeOfNull") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
