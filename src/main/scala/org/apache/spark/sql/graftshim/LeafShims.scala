package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Materialize-and-re-wrap, the `Dataset.localCheckpoint` recipe with a
  * persisted RDD in place of a checkpointed one: the rows are computed once
  * into `level` storage and the returned frame is a `LogicalRDD` leaf over
  * them. The RDD keeps its lineage, so lost or unpersisted blocks recompute
  * instead of failing. `LogicalRDD.fromDataset` is `private[sql]`, hence the
  * package. */
object LeafShims {

  /** The leaf frame, the persisted RDD it reads and the measured row count
    * of each of its partitions. The leaf keeps `df`'s output partitioning
    * and ordering; its statistics are the measured row count and UnsafeRow
    * bytes, which is what a materialized `persist()` reports to the planner
    * too. */
  def materialize(df: DataFrame,
                  level: StorageLevel): (DataFrame, RDD[InternalRow], Array[Long]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val schema = ds.schema
    val (rdd, counts, bytes) =
      SQLExecution.withNewExecutionId(qe, Some("materialize")) {
        // physical operators reuse their output row objects: copy each row
        // into its own UnsafeRow before the block store keeps references
        val rdd: RDD[InternalRow] = qe.executedPlan.execute().mapPartitions { it =>
          lazy val toUnsafe = UnsafeProjection.create(schema)
          it.map {
            case u: UnsafeRow => u.copy(): InternalRow
            case r => toUnsafe(r).copy()
          }
        }.persist(level)
        val perPartition = rdd.mapPartitions { it =>
          var n = 0L
          var b = 0L
          it.foreach { r => n += 1; b += r.asInstanceOf[UnsafeRow].getSizeInBytes }
          Iterator.single((n, b))
        }.collect()
        (rdd, perPartition.map(_._1), perPartition.map(_._2).sum)
      }
    val origin = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val (_, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
    val leaf = LogicalRDD(origin.output, rdd, origin.outputPartitioning,
      origin.outputOrdering, isStreaming = false)(ds.sparkSession,
      Some(Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(counts.sum))),
      constraints)
    (classic.Dataset.ofRows(ds.sparkSession, leaf), rdd, counts)
  }

  /** Row `offset` of partition `p` of a stored `rdd` of `schema` rows,
    * read by a job over that one partition. */
  def rowAt(rdd: RDD[InternalRow], schema: StructType, p: Int,
            offset: Long): Row = {
    val fetched = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      var i = 0L
      while (i < offset) { it.next(); i += 1 }
      it.next().copy()
    }, Seq(p))
    CatalystTypeConverters.createToScalaConverter(schema)(fetched.head)
      .asInstanceOf[Row]
  }
}
