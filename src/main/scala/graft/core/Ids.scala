package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dense, deterministic id assignment — the reference's `nc:id`
  * (catalog.py:278-297): a 0-based row number in a stable order.
  *
  * At scale, `row_number().over(Window.orderBy(...))` collapses to a single
  * partition — unusable at 100TB (SURVEY §7.5 #1). This implements the
  * two-phase scheme instead: range-partition by the sort key, count rows per
  * partition, prefix-sum the counts into per-partition offsets, then
  * `row_number` WITHIN each partition plus its offset. Stays entirely in the
  * SQL engine (codegen'd, lazy) — no RDD hop, no Tungsten deserialization.
  *
  * NEVER `monotonically_increasing_id` — not dense, not stable (SURVEY §1.5).
  */
object Ids {

  /** F13 id-prefix chunk planning (reference utils.py:13-54): split a SORTED
    * id list into chunks of [minSize, maxSize] docs, preferring to break
    * where adjacent ids share the shortest common prefix — so each chunk
    * spans a compact id-prefix range (good for partition pruning on id).
    * Driver-side planning over the (small) id list, like the reference. */
  def prefixChunks(sortedIds: IndexedSeq[String], minSize: Int = 256,
                   maxSize: Int = 16384): Seq[IndexedSeq[String]] = {
    require(minSize >= 1 && maxSize >= minSize, "need 1 <= minSize <= maxSize")
    def commonPrefix(a: String, b: String): Int =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    val chunks = Seq.newBuilder[IndexedSeq[String]]
    var start = 0
    while (start < sortedIds.length) {
      val remaining = sortedIds.length - start
      if (remaining <= maxSize) {
        chunks += sortedIds.slice(start, sortedIds.length)
        start = sortedIds.length
      } else {
        // best break in [start+minSize, start+maxSize]: smallest shared
        // prefix between the ids on either side of the cut (first wins).
        var best = start + maxSize
        var bestPrefix = Int.MaxValue
        var i = start + minSize
        while (i <= start + maxSize && i < sortedIds.length) {
          val p = commonPrefix(sortedIds(i - 1), sortedIds(i))
          if (p < bestPrefix) { bestPrefix = p; best = i }
          i += 1
        }
        chunks += sortedIds.slice(start, best)
        start = best
      }
    }
    chunks.result()
  }

  /** Append a dense `nc:id: long` numbered 0.. in ascending `orderCol`
    * order. Deterministic across runs given equal input data. */
  def assignDense(df: DataFrame, orderCol: String = "@id",
                  idName: String = "nc:id"): DataFrame =
    denseRankBy(df, Seq(df(orderCol)), idName)

  /** The general two-phase global rank: append `idName: long` numbered 0..
    * in `sortExprs` order (any mix of asc/desc columns; make the order
    * TOTAL — include a unique tie-break column — for run-identical ids).
    * Replaces `row_number() OVER (ORDER BY ...)`, whose single-partition
    * window is the classic 100 TB scale-killer.
    *
    * Pure-DataFrame plan, fully lazy and whole-stage-codegen'd:
    *  1. range-partition by the sort key (explicit partition count, so AQE
    *     cannot coalesce the two consumers of the exchange differently);
    *  2. tag rows with `spark_partition_id()` — every row in partition p
    *     sorts at-or-after every row in partitions < p;
    *  3. per-partition counts -> exclusive prefix sum = partition offsets.
    *     (The prefix-sum window is over AT MOST `numShufflePartitions`
    *     rows — bounded by cluster geometry, never data size — so its
    *     single-partition WindowExec is harmless at any scale.)
    *  4. broadcast the offsets back (one long per partition) and add
    *     `row_number` WITHIN each range partition.
    * CORRECTNESS-CRITICAL SINGLE-COMPUTATION CONTRACT: the offsets branch
    * and the data branch MUST read the same physical range partitioning.
    * RangePartitioner samples its boundaries with an rdd.id-derived seed,
    * so two independent executions of the "same" exchange draw DIFFERENT
    * boundaries — per-partition counts from one applied to partitions of
    * the other produce duplicate and inverted ranks. ReuseExchange
    * guarantees one execution for plain inputs, but NOT when the input is
    * a cached InMemoryRelation (observed at sf0.1: reuse silently fails,
    * two exchanges run, 104/5000 rows mis-ranked). So the ranged data is
    * pinned with an explicit CacheScope persist — both branches read one
    * materialization no matter what the planner does.
    *
    * The persist carries a per-call epoch literal (dropped before output):
    * the session CacheManager matches PLANS, so without it an identical
    * later denseRankBy over the same (since-rewritten) source file would
    * silently serve the stale cache — the staleness trap CorpusSpec
    * caught when this operator briefly persisted without a salt. The
    * epoch makes every invocation's plan unique: within the call both
    * branches share the cache, across calls nothing ever matches. */
  def denseRankBy(df: DataFrame, sortExprs: Seq[org.apache.spark.sql.Column],
                  idName: String): DataFrame = {
    val pid = "__graft_rank_pid"
    val off = "__graft_rank_off"
    val cnt = "__graft_rank_cnt"
    val mid = "__graft_rank_mid"
    val epoch = "__graft_rank_epoch"
    // monotonically_increasing_id() = (physical partition id << 33) | a
    // partition-LOCAL consecutive 0-based counter, evaluated in row order
    // above the within-partition sort — so it decomposes into exactly the
    // (partition, local row number) pair the two-phase rank needs, with NO
    // second full-data exchange and NO window sort. (As a direct ID it is
    // neither dense nor stable — SURVEY §1.5 — but split into its two
    // fields over range-partitioned sorted data it is deterministic: the
    // global rank offsets[pid] + local below is.)
    val ranged = CacheScope.persist(
      df.repartitionByRange(
          df.sparkSession.sessionState.conf.numShufflePartitions, sortExprs: _*)
        .sortWithinPartitions(sortExprs: _*)
        .withColumn(mid, monotonically_increasing_id())
        .withColumn(pid, shiftright(col(mid), 33))
        .withColumn(epoch, lit(rankEpoch.incrementAndGet())))
    // The prefix-sum window runs over AT MOST numShufflePartitions rows
    // (one per range partition) — bounded by cluster geometry, never data
    // size, so one partition is correct BY DESIGN. `pid % 1` (constant 0,
    // but not foldable — a literal key gets optimizer-eliminated back to an
    // empty partition spec) states that design in the plan and keeps
    // WindowExec's data-sized-global-window warning meaningful for real
    // regressions elsewhere.
    val offsets = ranged.groupBy(col(pid))
      .agg(count(lit(1)).as(cnt))
      .select(col(pid),
        (sum(cnt).over(
          Window.partitionBy(pmod(col(pid), lit(1L))).orderBy(col(pid)))
          - col(cnt)).as(off))
    ranged.join(broadcast(offsets), pid)
      .withColumn(idName,
        (col(off) + (col(mid).bitwiseAND(lit((1L << 33) - 1)))).cast(LongType))
      .drop(pid, off, mid, epoch)
  }

  /** Per-invocation salt for [[denseRankBy]]'s internal persist — see the
    * single-computation contract above. */
  private val rankEpoch = new java.util.concurrent.atomic.AtomicLong(0L)
}
