package graft.core

import org.apache.spark.sql.SparkSession

/** The one way a graft main or test builds its session: a local builder
  * carrying the settings every oracle-checked run depends on, so they live
  * in one place instead of drifting between copies. A caller adds only
  * what is its own (an app name, extensions, AQE mode, another master)
  * and calls `getOrCreate()`.
  *
  * `Smoke` deliberately builds a plain session instead: it shows that
  * `SparkEntry.entry` needs none of these settings. */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions and the shared settings:
    *  - `size(null)` is null, matching DuckDB `len()` (Spark's default -1
    *    would desync any `size()` over a null text from the oracles);
    *  - the session time zone is UTC;
    *  - nanosecond parquet timestamps (`events.parquet`) read as longs;
    *  - the Spark UI is off;
    *  - plan strings are capped at 1 MB: adaptive execution rebuilds the
    *    plan's explain string on every re-plan even with the UI off, and an
    *    uncapped string over a deep lineage is a multi-hundred-MB heap
    *    spike. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.sizeOfNull", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)

  /** `SPARK_GRAFT_CPUS` if set, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
