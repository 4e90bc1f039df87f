package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Calib]]'s bandwidth probe writes a ~220 MB fixture per call; it must
  * not outlive the call. */
class CalibSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def fixtures(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.filter(_.startsWith("graft_calib_io")).toSet)
      .getOrElse(Set.empty)

  test("ioSettled deletes its bandwidth fixture") {
    val before = fixtures()
    assert(Calib.ioSettled(spark, 1) > 0.0)
    val left = fixtures() -- before
    assert(left.isEmpty, s"fixture directories left behind: $left")
  }
}
