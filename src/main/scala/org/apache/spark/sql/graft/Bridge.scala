package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.errors.QueryExecutionErrors

/** The sanctioned crossings into Spark's `private[sql]` surface:
  * wrapping a custom [[LogicalPlan]] (graft.plans.AsOfJoin) back into a
  * user-facing DataFrame, and raising a builtin's error class from a
  * custom expression that must fail exactly as the builtin it replaces.
  * Spark's own connectors do the same; everything else in the repo stays
  * on public API. (Spark 4 moved the concrete session/dataset types
  * under `sql.classic`; a local session always is one.)
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** `element_at`'s ANSI error (INVALID_ARRAY_INDEX_IN_ELEMENT_AT). */
  def elementAtIndexError(index: Int, numElements: Int): ArrayIndexOutOfBoundsException =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)
}
