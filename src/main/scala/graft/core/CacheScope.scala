package graft.core

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
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
  * Two ways to keep a table, chosen by who consumes it:
  *  - [[persist]] is lazy: the caller's own action fills the cache, so it
  *    costs no job of its own. Use it for an intermediate that several
  *    branches of ONE plan read. The cached plan stays in the consumer's
  *    plan (an `InMemoryRelation` prints, and re-analyses, everything
  *    beneath it).
  *  - [[materialize]] is eager: one job now, and the result is a LEAF plan
  *    over the stored rows. Use it for a table that later plans are built
  *    on, above all a chain of tables each built from the last (a frozen
  *    model's artifacts, an iterative round's labels) or a table that many
  *    later queries read: with `persist` each link would carry the whole
  *    chain beneath it, and Spark renders that plan text again on every
  *    adaptive stage update of every consuming query.
  */
object CacheScope {
  private val tracked = mutable.ArrayBuffer.empty[DataFrame]
  /** Leaves made by [[materialize]] that still hold their rows. */
  private val held = mutable.HashMap.empty[DataFrame, (RDD[_], Long)]

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
    val (leaf, rdd, rows) = LeafShims.materialize(df, StorageLevel.MEMORY_AND_DISK)
    synchronized {
      held(leaf) = (rdd, rows)
      if (tracked) this.tracked += leaf
    }
    leaf
  }

  /** Row count of `df`: measured at materialization for a held leaf of
    * [[materialize]], otherwise a `count()` job. */
  def rowCount(df: DataFrame): Long =
    synchronized(held.get(df)).map(_._2).getOrElse(df.count())

  /** Free one table kept by [[materialize]] or `persist()` (non-blocking).
    * A frame that holds nothing is left as it is. */
  def free(df: DataFrame): Unit =
    synchronized(held.remove(df)) match {
      case Some((rdd, _)) => rdd.unpersist(blocking = false)
      case None => df.unpersist(blocking = false)
    }

  /** Track an ALREADY-persisted frame for the next [[release]] without
    * re-persisting it (no "already cached" warning) — adopts an
    * independently-managed persist (e.g. a frozen-model table) into this
    * scope's lifetime. */
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
