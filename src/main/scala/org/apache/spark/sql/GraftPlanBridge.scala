package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's private[sql] Dataset.ofRows so graft can wrap a
  * custom LogicalPlan node as a DataFrame (the standard extension-
  * library idiom, same as [[GraftColumnBridge]]), plus the two
  * private[spark] helpers graft's physical operators run on. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `RDD.mapPartitionsInternal`: a per-partition map without closure
    * cleaning, the way Spark's own physical operators run theirs. */
  def mapPartitionsInternal(rdd: RDD[InternalRow])(
      f: Iterator[InternalRow] => Iterator[InternalRow]): RDD[InternalRow] =
    rdd.mapPartitionsInternal(f, preservesPartitioning = true)

  /** A grouping key as Spark's aggregates group it: -0.0 equal to 0.0
    * and every NaN equal (identity for non-floating-point keys). */
  def normalizedKey(e: Expression): Expression =
    NormalizeFloatingNumbers.normalize(e)
}
