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

  test("the test session carries the oracle settings from the factory") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.legacy.sizeOfNull") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
