package graft

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-tests")
      // config-based extension injection — the deployment route; proves the
      // SQL function surface loads without code access to the builder
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val fixtures: String = new java.io.File("src/test/resources").getAbsolutePath
}
