package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Frames whose rows sit on the driver. A frame over a `LocalRelation`
  * stays one as long as only filters and projections follow: Spark's
  * `ConvertToLocalRelation` evaluates them while it optimizes the plan.
  * Such a frame's rows are read here without a job, and a frame over
  * rows the driver computed is built without one. `Dataset.ofRows` is
  * package-private to `org.apache.spark.sql`, hence this shim's package
  * (see [[CheckpointUtil]]).
  */
object LocalFrames {

  /** `df`'s rows, in Spark's internal form, when its optimized plan has
    * folded to a `LocalRelation`; None otherwise. Runs no job. */
  def rows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming => Some(l.data)
      case _ => None
    }

  /** A frame over `rows`, whose values are Spark's internal ones for
    * `schema`. */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df` over a `LocalRelation`: `df` itself when it has folded, else
    * its rows collected in one job and kept in their internal form. */
  def collected(df: DataFrame): DataFrame =
    if (rows(df).isDefined) df
    else {
      val qe = df.queryExecution
      frame(df.sparkSession, df.schema,
        SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect()).toSeq)
    }
}
