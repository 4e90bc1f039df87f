package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a vacuum reclaimed — returned as DATA (VERDICT r13 #9) so artifact
  * hygiene is monitorable from a manifest/metrics pipeline instead of from
  * stderr lines lost in executor logs. `pathsDropped` counts generation
  * directories deleted; `filesReclaimed` / `bytesReclaimed` are the
  * recursive file count / byte size those paths held at deletion time
  * (from FileSystem.getContentSummary, taken before the delete).
  */
final case class VacuumStats(
    pathsDropped: Long, filesReclaimed: Long, bytesReclaimed: Long) {
  def +(o: VacuumStats): VacuumStats =
    VacuumStats(pathsDropped + o.pathsDropped,
      filesReclaimed + o.filesReclaimed, bytesReclaimed + o.bytesReclaimed)

  /** One-row frame for appending to a run manifest. */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((pathsDropped, filesReclaimed, bytesReclaimed))
      .toDF("paths_dropped", "files_reclaimed", "bytes_reclaimed")
  }
}

object VacuumStats {
  val Zero: VacuumStats = VacuumStats(0L, 0L, 0L)

  /** Measure-then-delete: summarize `p`, delete it, return what was
    * reclaimed. The delete's boolean is honored (ADVICE r14): a failed or
    * raced-away delete reports Zero, never phantom reclaimed bytes. A
    * summary that fails with a transient IOException while the delete
    * STILL SUCCEEDS counts the path as dropped with unknown size —
    * VacuumStats(1, 0, 0) — rather than Zero (ADVICE r15: callers gating
    * on pathsDropped > 0 would otherwise report a successful vacuum as a
    * no-op); Zero is reserved for a delete that failed or raced away. */
  def delete(f: org.apache.hadoop.fs.FileSystem,
             p: org.apache.hadoop.fs.Path): VacuumStats = {
    val s = try {
      val cs = f.getContentSummary(p)
      Some(VacuumStats(1L, cs.getFileCount, cs.getLength))
    } catch { case _: java.io.IOException => None }
    val deleted = try f.delete(p, true)
                  catch { case _: java.io.IOException => false }
    if (deleted) s.getOrElse(VacuumStats(1L, 0L, 0L)) else Zero
  }
}
