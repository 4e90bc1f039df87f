package graft.core

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.LeafShims
import org.apache.spark.storage.StorageLevel

/** Registry for operator-internal persisted tables.
  *
  * Several operators persist an intermediate that feeds two branches of the
  * returned (lazy) plan — e.g. the minhash signature table joined against
  * itself, or a vocabulary broadcast n times. The persist cannot be released
  * inside the operator (the caller has not materialized the plan yet), so a
  * long-lived session accumulates cached blocks and re-invocations log
  * "Asked to cache already cached data".
  *
  * Operators route those persists through [[persist]]; the session owner
  * calls [[release]] after the final action consuming the returned plan
  * (Verify and Bench do this per query). Releasing is safe at any point —
  * an unpersisted table recomputes instead of failing.
  *
  * The rule for keeping a table, in three parts:
  *  - [[persist]] is lazy: the caller's own action fills the cache, so it
  *    costs no job of its own. Use it for an intermediate that several
  *    branches of ONE plan read. The cached plan stays in the consumer's
  *    plan (an `InMemoryRelation` prints, and re-analyses, everything
  *    beneath it).
  *  - [[materialize]] is eager: one job now, and the result is a LEAF plan
  *    over the stored rows. Use it for a table that later plans are built
  *    on, above all a chain of tables each built from the last (a frozen
  *    model's artifacts, an iterative round's labels, a composed chain's
  *    hub stages) or a table that many later queries read: with `persist`
  *    each link would carry the whole chain beneath it, and Spark renders
  *    that plan text again on every adaptive stage update of every
  *    consuming query. A leaf is either tracked (the next [[release]]
  *    frees it) or owned by a model whose own release frees it.
  *  - `Dataset.localCheckpoint` is used only to freeze a source before a
  *    write changes it: a leaf here keeps its lineage and would recompute
  *    from the mutated table, a checkpoint cannot. Its blocks are freed by
  *    GC alone, so nothing else uses it.
  */
object CacheScope {
  private val tracked = mutable.ArrayBuffer.empty[DataFrame]
  /** Leaves made by [[materialize]] that still hold their rows, with the
    * measured row count of each stored partition. */
  private val held =
    mutable.HashMap.empty[DataFrame, (RDD[InternalRow], Array[Long])]

  /** Persist `df` and track it for the next [[release]]. */
  def persist(df: DataFrame): DataFrame = synchronized {
    tracked += df
    df.persist()
  }

  /** Compute `df` once (one job, MEMORY_AND_DISK) and return a leaf plan
    * over its rows, with `df`'s output partitioning and ordering and the
    * measured row count and size as its statistics. The stored RDD keeps
    * its lineage: a lost or freed block recomputes. `tracked` tables are
    * freed by the next [[release]]; untracked ones (frozen-model
    * artifacts, which must outlive per-batch releases) only by [[free]]. */
  def materialize(df: DataFrame, tracked: Boolean = true): DataFrame = {
    val (leaf, rdd, counts) =
      LeafShims.materialize(df, StorageLevel.MEMORY_AND_DISK)
    synchronized {
      held(leaf) = (rdd, counts)
      if (tracked) this.tracked += leaf
    }
    leaf
  }

  /** Row count of `df`: measured at materialization for a held leaf of
    * [[materialize]], otherwise a `count()` job. */
  def rowCount(df: DataFrame): Long =
    synchronized(held.get(df)).map(_._2.sum).getOrElse(df.count())

  /** Row `k` (0-based) of a held leaf of [[materialize]] in stored order,
    * partition after partition — for a leaf of a global sort, the row at
    * rank `k`. The measured partition counts locate it, and one job over
    * that one partition reads it; `None` when the leaf has at most `k`
    * rows. */
  def rowAt(df: DataFrame, k: Long): Option[Row] = {
    val (rdd, counts) = synchronized(held.get(df)).getOrElse(
      throw new IllegalArgumentException("rowAt needs a held materialized leaf"))
    val starts = counts.scanLeft(0L)(_ + _)
    counts.indices.find(p => k >= starts(p) && k < starts(p + 1))
      .map(p => LeafShims.rowAt(rdd, df.schema, p, k - starts(p)))
  }

  /** Free one table kept by [[materialize]] or `persist()` (non-blocking).
    * A frame that holds nothing is left as it is. */
  def free(df: DataFrame): Unit =
    synchronized(held.remove(df)) match {
      case Some((rdd, _)) => rdd.unpersist(blocking = false)
      case None => df.unpersist(blocking = false)
    }

  /** Track an ALREADY-kept frame for the next [[release]] without keeping
    * it again (no "already cached" warning) — adopts an independently
    * managed table (e.g. a frozen-model leaf) into this scope's
    * lifetime. */
  def track(df: DataFrame): DataFrame = synchronized {
    tracked += df
    df
  }

  /** Free every tracked table (non-blocking) and clear the registry. */
  def release(): Unit = {
    val frames = synchronized {
      val all = tracked.toList
      tracked.clear()
      all
    }
    frames.foreach(free)
  }

  /** Number of currently tracked persisted tables (test hook). */
  def trackedCount: Int = synchronized(tracked.size)
}
