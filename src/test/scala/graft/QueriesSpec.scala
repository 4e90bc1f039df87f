package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered driver query must run at sf0.001 (the oracle VALUE match
  * is covered by Verify + tools/check.py; this catches runtime regressions
  * fast inside `sbt test`) and leave no cached RDD behind once its
  * CacheScope is released, as Verify checks per row. */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // queries whose correct result CAN be empty on tiny data
  private val mayBeEmpty = Set("t_jaccard_pairs", "t_minhash_lsh")

  Queries.all.foreach { case (name, q) =>
    test(s"$name runs at sf0.001") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val n =
        try q.fn(spark, dir).count()
        finally graft.core.CacheScope.release()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
      val leaked = sc.getPersistentRDDs -- before
      leaked.values.foreach(_.unpersist(blocking = false))
      assert(leaked.isEmpty,
        s"$name left cached RDDs after release: ${leaked.values.mkString("; ")}")
    }
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle name corresponds to a query") {
    assert(Queries.oracleSql.keySet.subsetOf(Queries.queries.keySet))
  }

  test("headline queries are registered") {
    assert(Queries.headlines.nonEmpty)
    assert(Queries.headlines.toSet.subsetOf(Queries.queries.keySet))
  }

  test("q1: integer-scaled long sums equal the decimal formulation") {
    // q1's aggregate runs in integer-scaled longs (primitive codegen adds);
    // this pins bit-equality against the decimal(18,s) reference
    // formulation the DuckDB oracle executes — the two must land on the
    // same output grid for every column, not just approximately.
    import org.apache.spark.sql.functions._
    def sdec(c: org.apache.spark.sql.Column, s: Int) =
      round(c, s).cast(s"decimal(18,$s)")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
    val qty = sdec(col("l_quantity"), 2)
    val price = sdec(col("l_extendedprice"), 2)
    val disc = sdec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    val charge = sdec(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * (lit(1) + col("l_tax")), 4)
    val reference = li.groupBy("l_returnflag", "l_linestatus").agg(
        round(sum(qty).cast("double"), 2).as("sum_qty"),
        round(sum(price).cast("double"), 2).as("sum_base_price"),
        round(sum(disc).cast("double"), 2).as("sum_disc_price"),
        round(sum(charge).cast("double"), 2).as("sum_charge"),
        round(sum(qty).cast("double") / count(lit(1)), 4).as("avg_qty"),
        round(sum(price).cast("double") / count(lit(1)), 4).as("avg_price"),
        round(sum(sdec(col("l_discount"), 6)).cast("double") / count(lit(1)), 6)
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
    val got = Queries.queries("q1_pricing_summary")(spark, dir)
    assert(got.collect().toSeq == reference.collect().toSeq)
  }
}
