package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards for the round-8 operators — the properties
  * that make them 100 TB-shaped, asserted on the physical plan so a future
  * Spark upgrade or refactor that silently degrades them fails loudly
  * (the IdsSpec single-shuffle assertion pattern).
  *
  * Deliberately coarse assertions (absence of catastrophic operators,
  * presence of the broadcast model join) rather than exact node counts —
  * exact plans may legitimately change across versions; a cartesian
  * product or a corpus-sized sort-merge join of the model never should. */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = Queries.queries(name)(spark, dir)
    try df.queryExecution.executedPlan.toString
    finally graft.core.CacheScope.release()
  }

  test("DSIR scoring: model joins broadcast, no cartesian, no corpus SMJ") {
    val p = planOf("t_dsir")
    assert(!p.contains("CartesianProduct"), "cartesian product in t_dsir")
    assert(!p.contains("SortMergeJoin"), "sort-merge join in t_dsir")
    assert(p.contains("BroadcastHashJoin"), "weight model join not broadcast")
  }

  test("curation pipeline: lineage cuts hold — bounded exchanges, no SMJ/cartesian") {
    // The composed clean->DSIR->decontam->dedup->KN3->BPE->pack chain cuts
    // lineage at the survivor and final-doc hubs (materialized leaves); without
    // those cuts the tree grows multiplicatively (measured: 49k Exchange
    // nodes, 1.2k SortMergeJoins, OOM at planning). Guard the cut: the
    // final packing stage's plan must stay leaf-rooted and small.
    val p = planOf("t_curation_pipeline")
    val nEx = "Exchange".r.findAllIn(p).size
    assert(nEx <= 16, s"curation pipeline final stage has $nEx exchanges — lineage cut lost")
    assert(!p.contains("SortMergeJoin"), "sort-merge join in the packing stage")
    assert(!p.contains("CartesianProduct"), "cartesian product in the pipeline")
  }

  test("frozen curation: the apply plan reads the frozen tables as leaves") {
    // freeze materializes every artifact as a leaf plan. Were they plain
    // persists, each consumer's plan would print the reference chain
    // beneath every frozen table (651k characters here before the leaves,
    // about 58k with them): lineage creeping back fails this bound.
    val p = planOf("t_frozen_curation")
    assert(p.length <= 100000,
      s"t_frozen_curation plan is ${p.length} characters — frozen lineage is back")
  }

  test("two-corpus DSIR: weight model joins broadcast, no cartesian on data") {
    val p = planOf("t_dsir_two_corpus")
    assert(!p.contains("CartesianProduct"), "cartesian product in two-corpus DSIR")
    assert(p.contains("BroadcastHashJoin"), "weight model join not broadcast")
  }

  test("wide Hamming: band join is an equi-join, never a cross product") {
    val p = planOf("s_srp_hamming_wide")
    assert(!p.contains("CartesianProduct"), "cartesian product in wide hamming")
    // the verify popcount is row-local: no second data shuffle after the join
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "band candidate join missing")
  }

  test("packed input ids: the piece-id map joins broadcast") {
    val p = planOf("t_packed_ids")
    assert(!p.contains("CartesianProduct"), "cartesian product in packing")
    assert(p.contains("BroadcastHashJoin"), "piece vocab join not broadcast")
  }

  test("source KL: pair grid joins stay equi (token-keyed), no cartesian on data") {
    // the sources x topV grid is a deliberate |S| x k cross of GEOMETRY —
    // a BroadcastNestedLoopJoin of two tiny sides is fine; what must never
    // appear is a CartesianProduct (both sides data-sized, no broadcast)
    val p = planOf("t_source_kl")
    assert(!p.contains("CartesianProduct"), "data-sized cartesian in source KL")
  }

  test("perplexity buckets: the rank is range-partitioned, not a global window") {
    val p = planOf("t_ccnet_buckets")
    assert(p.contains("rangepartitioning"), "two-phase rank lost its range exchange")
    // a data-sized unpartitioned window would print 'Window' with an empty
    // partition spec over the doc table; the only windows allowed here are
    // denseRankBy's partition-count prefix sums
    assert(!p.contains("CartesianProduct"))
  }

  test("incremental DSIR: merged statistics stay a broadcast model, no cartesian") {
    // the merge path must not lose the monolithic row's shape: the merged
    // (<= numBuckets)-row weight table still broadcasts onto the corpus
    // side, and nothing in the shard union introduces a cartesian or a
    // corpus-sized sort-merge join
    val p = planOf("t_dsir_incremental")
    assert(!p.contains("CartesianProduct"), "cartesian in t_dsir_incremental")
    assert(!p.contains("SortMergeJoin"), "sort-merge join in t_dsir_incremental")
    assert(p.contains("BroadcastHashJoin"), "merged weight join not broadcast")
  }

  test("incremental KN3: scoring joins the merged type tables, no cartesian") {
    val p = planOf("t_kn3_incremental")
    assert(!p.contains("CartesianProduct"), "cartesian in t_kn3_incremental")
  }

  test("dup source matrix: group-level self-join is an equi hash join") {
    // the per-(content, source) table self-joins on the content hash —
    // an equi join of group rows; a cartesian (or a theta-join fallback)
    // would mean the combinatorial-counting contract was lost
    val p = planOf("t_dup_source_matrix")
    assert(!p.contains("CartesianProduct"), "cartesian in dup source matrix")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "theta join in dup source matrix — equi key lost")
  }

  test("distilled quality: label join and weight scoring broadcast, no cartesian") {
    val p = planOf("t_distilled_quality")
    assert(!p.contains("CartesianProduct"), "cartesian in t_distilled_quality")
    assert(p.contains("BroadcastHashJoin"), "no broadcast join in distillation")
  }

  // ------------- full-registry scan (VERDICT r13 #4, extended r14 #4) ----

  /** The adjudicated SortMergeJoin sections (VERDICT r14): each is a
    * large-large join — corpus-sized tables against history/eval-sized
    * tables — where SMJ is the CORRECT strategy. Any OTHER query planning
    * an SMJ means a model join silently lost its broadcast (e.g. a
    * geometry table crossing the auto-broadcast threshold at a bigger
    * SF) and must fail CI naming the section. */
  private val SmjAdjudicated = Set(
    "q_events_range_join", "t_vocab_merge", "t_lsh_eval",
    "q_snapshot_diff", "t_distilled_quality", "t_naive_bayes",
    "t_curation_funnel", "t_curation_funnel_by_source",
    "t_frozen_curation", "t_curation_advance", "t_hard_negatives",
    "e_dup_clusters", "e_dedup_survivors", "e_semdedup_pairs",
    "e_semdedup_keep")

  /** BNLJ sections whose build side is a k-row FILTERED query set (the
    * ANN query vectors: `vec_id < k` against the embeddings table) rather
    * than an aggregate — geometry-bounded by the filter, which logical
    * size estimation cannot see without CBO. Every other BNLJ build side
    * must contain an aggregate (the 1-row/k-row compose). */
  private val BnljFilteredQuerySet = Set(
    "e_srp_knn", "e_knn_brute", "e_quantized", "e_knn_l2")

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.catalyst.optimizer.BuildLeft

  /** Every node reachable from `p`, crossing AQE roots, cached-relation
    * boundaries and subqueries — the string form crosses them too, but
    * tree-walking needs it explicit. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case s: InMemoryTableScanExec =>
        s.children :+ s.relation.cachedPlan
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(flatten)
  }

  test("FULL registry: no CartesianProduct anywhere; SortMergeJoin only " +
       "in the adjudicated large-large sections; every BNLJ build side " +
       "geometry-bounded (VERDICT r13 #4 + r14 #4)") {
    // One pass over every registry query's physical plan. A
    // CartesianProduct means both sides are data-sized with no key —
    // never acceptable. An SMJ outside the adjudicated list means a
    // model join lost its broadcast. A BroadcastNestedLoopJoin is
    // allowed only as a geometry compose: its BUILD side must contain an
    // aggregate (1-row/k-row reduction) — or be one of the named
    // filtered-query-set sections — so a data-sized table can never ride
    // into a nested-loop broadcast unnoticed.
    val cartesian = scala.collection.mutable.ArrayBuffer.empty[String]
    val smj = scala.collection.mutable.ArrayBuffer.empty[String]
    val bnlj = scala.collection.mutable.ArrayBuffer.empty[String]
    Queries.all.map(_._1).foreach { name =>
      val df = Queries.queries(name)(spark, dir)
      try {
        val plan = df.queryExecution.executedPlan
        val s = plan.toString
        if (s.contains("CartesianProduct")) cartesian += name
        if (s.contains("SortMergeJoin") && !SmjAdjudicated(name)) smj += name
        if (!BnljFilteredQuerySet(name))
          flatten(plan).foreach {
            case j: BroadcastNestedLoopJoinExec =>
              val build =
                if (j.buildSide == BuildLeft) j.left else j.right
              val bounded = flatten(build).exists {
                case _: BaseAggregateExec => true // 1-row/k-row compose
                case _: org.apache.spark.sql.execution.LocalTableScanExec =>
                  true // literal driver-side rows (e.g. a 4-row cap grid)
                case _: org.apache.spark.sql.execution.RangeExec => true
                case _ => false
              }
              if (!bounded)
                bnlj += s"$name (build side has no aggregate: " +
                  s"${build.nodeName})"
            case _ => ()
          }
      } finally graft.core.CacheScope.release()
    }
    assert(cartesian.isEmpty,
      s"CartesianProduct in: ${cartesian.mkString(", ")}")
    assert(smj.isEmpty,
      "SortMergeJoin OUTSIDE the adjudicated large-large sections — a " +
        s"model join lost its broadcast in: ${smj.mkString(", ")}")
    assert(bnlj.isEmpty,
      "BroadcastNestedLoopJoin with an unbounded build side in: " +
        bnlj.mkString(", "))
  }

  // ---------------- curateBatch persist discipline (VERDICT r14 #3) -----

  test("curateBatch persist discipline: the composed apply consumes the " +
       "cached kept/decon/fresh intermediates — a dropped persist fails " +
       "here instead of resurfacing as 2.5x superlinearity at 1600x") {
    // The round-14 adjudication: `decon`/`fresh` are each referenced
    // twice downstream, and unpersisted the composed single-action plan
    // re-ran the shingle explode, Bloom prunes and exact-confirm joins
    // up to 4x (composed 617.8 s vs staged 353.4 s at the 1600x notch).
    // The fix is three batch-sized persists inside curateBatchStages;
    // this spec pins them so a refactor that drops one goes red in CI,
    // which sf0.1 timing alone cannot catch.
    import graft.streaming.CurationStream
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    try {
      val stages = CurationStream.curateBatchStages(docs, frozen)
      val byName = stages.toMap
      // (a) each doubly-referenced intermediate IS persisted
      for (n <- Seq("resample", "decontam", "dedup")) {
        assert(byName(n).storageLevel.useMemory ||
               byName(n).storageLevel.useDisk,
          s"curateBatchStages '$n' intermediate is NOT persisted — the " +
            "composed apply will re-run its subtree per downstream " +
            "reference (the r13 superlinearity)")
      }
      // Tree-walk that STOPS at cache boundaries: toString prints the
      // cached plan INSIDE InMemoryRelation, so string counts would see
      // the (legitimately cached) shingle explodes as leaks.
      def outside(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
          case _: InMemoryTableScanExec => Nil // the boundary itself
          case other => other.children
        }
        p +: (kids ++ p.subqueries).flatMap(outside)
      }
      // (b) the composed plan READS the caches: the final stage consumes
      // `fresh` twice (KN3 scoring + final join), both through
      // InMemoryTableScan boundaries
      val nodes = outside(byName("perplexity").queryExecution.executedPlan)
      val imts = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(imts >= 2,
        s"composed apply plan has $imts InMemoryTableScan(s) outside " +
          "cache boundaries — expected both references to the cached " +
          "dedup survivor table; a persist was dropped or the cache " +
          "boundary moved")
      // (c) no duplicated shingle-explode subtree OUTSIDE the caches:
      // shingle explodes (decontam + dedup candidate scans) live BEHIND
      // the persisted intermediates; the only explode the composed stage
      // re-plans is the KN3 trigram generate over the cache
      val shingleGens = nodes.collect {
        case g: org.apache.spark.sql.execution.GenerateExec
            if g.generatorOutput.exists(_.name.contains("shingle")) => g
      }
      assert(shingleGens.isEmpty,
        s"${shingleGens.size} shingle-explode Generate(s) leaked past " +
          "the cache boundary (dropped persist)")
      // (d) each stage's own plan consumes its predecessor's cache
      val deconN = outside(byName("decontam").queryExecution.executedPlan)
      assert(deconN.exists(_.isInstanceOf[InMemoryTableScanExec]),
        "decontam stage does not read the cached resample survivors")
      val freshN = outside(byName("dedup").queryExecution.executedPlan)
      assert(freshN.exists(_.isInstanceOf[InMemoryTableScanExec]),
        "dedup stage does not read the cached decontam survivors")
    } finally {
      CurationStream.release(frozen)
      graft.core.CacheScope.release()
    }
  }
}
