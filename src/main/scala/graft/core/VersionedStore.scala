package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one on-disk layout of a saved, versioned artifact directory. The
  * frozen-curation artifact and the IVF-PQ index both live in it; each
  * keeps only its own tables, meta columns and delta rules.
  *
  * Layout under `dir`:
  *  - `meta_v<N>`: a one-row parquet of the artifact's scalars at state
  *    version N. Every family's live generation is one of its columns;
  *  - `<family>_v<K>`: one generation of a mutable table family (the
  *    curation seen hashes and seen Bloom, the index cells and codes);
  *  - `CURRENT.v<N>`: the create-only publish marker
  *    ([[Fs.writePointer]]); the current version is the max N;
  *  - `_delta_lock`: the single-writer lock every mutation runs under;
  *  - any other entry is immutable geometry written once by a save.
  *
  * Bucketed tables are read through catalog tables named
  * `graft_<kind>_<dir digest>_<subdir>`: a plain parquet read would not
  * know the bucketing.
  *
  * A directory that holds a pre-marker layout (a rename-era `CURRENT`
  * file, or an unversioned `meta`) is refused by [[version]], which every
  * operation resolves first. Reading such a directory as absent would let
  * a save publish v0 over its live state. Such a store must be re-saved
  * from a fresh freeze or fit.
  *
  * @param kind     catalog-name component ("frozen", "ivfpq")
  * @param families mutable table families and the meta column naming each
  *                 one's live generation
  * @param keepCol  meta column holding the retention window, if the
  *                 artifact records one (else the floor of two)
  */
final case class VersionedStore(kind: String, dir: String,
                                families: Seq[(String, String)],
                                keepCol: Option[String] = None) {

  def path(sub: String): String = s"$dir/$sub"
  def metaPath(v: Long): String = path(s"meta_v$v")

  /** Catalog name of the bucketed table stored under `sub`. */
  def table(sub: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_${kind}_${digest.take(12)}_$sub"
  }

  /** Current state version, -1 if nothing is published. Fails loudly on
    * a pre-marker layout. */
  def version(spark: SparkSession): Long = {
    for ((name, layout) <- Seq(
        "CURRENT" -> "a rename-era CURRENT pointer file",
        "meta" -> "an unversioned meta directory"))
      if (Fs.exists(spark, path(name)))
        throw new IllegalStateException(s"$dir holds a pre-marker store " +
          s"layout ($layout). Only the CURRENT.v<N> marker layout is " +
          "read; re-save this artifact from a fresh freeze or fit into a " +
          "new directory.")
    Fs.readPointer(spark, dir).getOrElse(-1L)
  }

  /** The one-row meta of the current version. A store operation reads
    * it once, at its start, and hands the row (or the scalars parsed from
    * it) down: each read is a schema-inference job plus a scan. */
  def current(spark: SparkSession): DataFrame = {
    val v = version(spark)
    require(v >= 0, s"no saved artifact at $dir")
    spark.read.parquet(metaPath(v))
  }

  /** Write `meta` (one row) as the meta of version `v`, publish `v`
    * (every `_v<v>` file is fully written), then prune what no reader can
    * need. The caller's row serves the prune, so a publish reads back
    * only the older retained metas. */
  def publish(spark: SparkSession, v: Long, meta: DataFrame): Unit = {
    meta.coalesce(1).write.mode("overwrite").parquet(metaPath(v))
    Fs.writePointer(spark, dir, v)
    prune(spark, v, meta.head())
  }

  /** The save-side guard: an atomic-create store, no pre-marker layout,
    * and (unless `force`) no published version. `inPlace` names what a
    * save rewrites in place. Returns the version the save publishes. */
  def requireFresh(spark: SparkSession, what: String, inPlace: String,
                   force: Boolean): Long = {
    Fs.requireAtomicStore(spark, dir, what)
    val cur = version(spark)
    if (!force && cur >= 0)
      throw new IllegalStateException(s"$what: $dir already holds a " +
        s"published artifact. $inPlace are rewritten in place: re-saving " +
        "over a LIVE artifact tears them for concurrent readers, and a " +
        "crash mid-save leaves no complete version. Save to a fresh " +
        "directory (growth goes through the delta API), or pass " +
        "force = true if provably no reader exists.")
    cur + 1
  }

  /** Run a mutation of a published store under its single-writer lock
    * ([[Fs.withLock]]); `recovery` names the repair after a crash. */
  def locked[T](spark: SparkSession, recovery: String,
                leaseMs: Long)(f: => T): T = {
    require(version(spark) >= 0, s"no saved artifact at $dir (save one " +
      "before deltas, compactions or vacuums)")
    Fs.withLock(spark, path("_delta_lock"), recovery, leaseMs)(f)
  }

  /** Write `df` bucketed and sorted on `key` under `sub`, registered as
    * [[table]]`(sub)`. */
  def writeTable(df: DataFrame, sub: String, key: String,
                 buckets: Int): Unit =
    Bucketing.writeBucketed(df, table(sub), path(sub), key, buckets)

  /** Catalog-attach the bucketed table under `sub`, so a fresh session
    * reads a store it never wrote. An existing entry is refreshed: another
    * session may have appended since this one cached the file listing.
    * The location is quote-escaped (a `'` in `dir` must not break, or
    * inject into, the DDL). */
  def attach(spark: SparkSession, sub: String, key: String, buckets: Int,
             ddl: => String): DataFrame = {
    val t = table(sub)
    if (!spark.catalog.tableExists(t))
      spark.sql(s"CREATE TABLE $t ($ddl) USING PARQUET " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
        s"LOCATION '${path(sub).replace("'", "''")}'")
    else spark.catalog.refreshTable(t)
    spark.table(t)
  }

  /** Compaction rewrite of the attached table `from` into `to`: one file
    * per bucket, no shuffle. The bucketed scan is forced, because the
    * planner otherwise drops an explicit repartition on the bucket key as
    * redundant and then disables the bucketed scan as unneeded, leaving
    * size-packed splits that span many buckets (a re-fragmented
    * "compaction"). Returns the rewritten file count. */
  def rewrite(spark: SparkSession, from: String, to: String, key: String,
              buckets: Int): Long = {
    Bucketing.withForcedBucketedScan(spark) {
      writeTable(spark.table(table(from)), to, key, buckets)
    }
    files(spark, to)
  }

  /** Parquet files directly under `sub`. */
  def files(spark: SparkSession, sub: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path(sub))
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
  }

  /** The manifest columns every store shares: (state version, `meta_v<N>`
    * directories on disk, `CURRENT.v<N>` markers on disk). */
  def census(spark: SparkSession): (Long, Long, Long) = {
    val v = version(spark)
    val p = new org.apache.hadoop.fs.Path(dir)
    val names = p.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(p).map(_.getPath.getName)
    (v, names.count(_.matches("meta_v\\d+")).toLong,
      names.count(_.matches("CURRENT\\.v\\d+")).toLong)
  }

  /** Drop every generation except the current one: the explicit reclaim
    * for operators who know no reader is mid-scan (the automatic prune
    * keeps a grace window, up to 2x a history-sized table's storage).
    * Runs under the lock, so it never deletes a generation a concurrent
    * delta is superseding. Returns what was reclaimed. */
  def vacuum(spark: SparkSession, leaseMs: Long): VacuumStats =
    locked(spark, "re-run the vacuum (it only deletes non-current state)",
        leaseMs) {
      val cur = version(spark)
      val live = current(spark).head()
      val stats = deleteGenerations(spark) {
        case ("meta", v) => v != cur
        case (family, v) => v != live.getAs[Long](families.toMap.apply(family))
      }
      Fs.prunePointers(spark, dir, cur)
      stats
    }

  /** Delete generations behind the retention window: metas older than
    * `keep` versions back, and family generations no retained meta
    * references (a compaction moves the table to a new generation while
    * the older metas still read the old one, so it survives the same
    * window). The window is `keepCol` from the current meta, floor two:
    * one delta call can publish twice (the delta and its
    * auto-compaction), and a window of one would let that single call
    * delete the state a reader resolved just before it. */
  private def prune(spark: SparkSession, cur: Long, curMeta: Row): Unit = {
    val keep = keepCol.fold(2L)(c => math.max(2, curMeta.getAs[Int](c)).toLong)
    // the older retained metas in ONE read, schema from the current row
    // (same writer, so no per-directory schema inference)
    val familyCols = StructType(families.map(_._2).distinct.map(curMeta.schema(_)))
    val older = (cur - keep until cur)
      .filter(v => v >= 0 && Fs.exists(spark, metaPath(v))).map(metaPath)
    val retained = curMeta +: (if (older.isEmpty) Nil
      else spark.read.schema(familyCols).parquet(older: _*).collect().toSeq)
    deleteGenerations(spark) {
      case ("meta", v) => v < cur - keep
      case (family, v) =>
        val col = families.toMap.apply(family)
        v < cur && !retained.exists(_.getAs[Long](col) == v)
    }
    Fs.prunePointers(spark, dir, cur - keep)
  }

  /** Delete every `meta_v<N>` / `<family>_v<N>` entry `doomed` selects,
    * with the catalog entry over a deleted family directory. */
  private def deleteGenerations(spark: SparkSession)(
      doomed: ((String, Long)) => Boolean): VacuumStats = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val names = ("meta" +: families.map(_._1)).toSet
    val Generation = """(.+)_v(\d+)""".r
    f.listStatus(p).foldLeft(VacuumStats.Zero) { (acc, st) =>
      st.getPath.getName match {
        case Generation(name, v) if names(name) && doomed((name, v.toLong)) =>
          val gone = VacuumStats.delete(f, st.getPath)
          if (name != "meta")
            spark.sql(s"DROP TABLE IF EXISTS ${table(st.getPath.getName)}")
          acc + gone
        case _ => acc
      }
    }
  }
}

object VersionedStore {

  /** Appends since the last full write past which a load warns about
    * fragmentation (appends + 1 ≈ files per bucket). */
  val FragmentationWarnDeltas = 32L

  /** Bucket count for a save: max(cluster parallelism, 32, `rows` /
    * `rowsPerBucket`), logged. A fixed count would silently cap the
    * parallelism of every bucketed join once the table outgrows it. */
  def autoBuckets(spark: SparkSession, rows: Long, rowsPerBucket: Long,
                  what: String): Int = {
    val b = math.max(
      math.max(32, spark.sparkContext.defaultParallelism).toLong,
      (rows + rowsPerBucket - 1) / rowsPerBucket).toInt
    System.err.println(s"[$what] buckets=$b auto-sized ($rows rows, " +
      s"target $rowsPerBucket rows/bucket)")
    b
  }
}
