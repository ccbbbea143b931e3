package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for custom Catalyst expressions.
  * Spark 4 made these conversions `private[sql]`; the conventional way for
  * an extension library to reach them is a shim inside the sql package
  * (same pattern as frameless / deequ).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an already-built logical plan (`Dataset.ofRows` went
    * `private[sql]` in Spark 4). Used by the engine's snapshot-isolation
    * read path, which rewrites analyzed plans to pinned table versions.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an already-OPTIMIZED logical plan: its query
    * execution skips analysis and optimization and starts at physical
    * planning. Used by the engine's generic plans, which bind parameter
    * values into a plan optimized once per template.
    */
  def ofOptimized(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    val qe = new org.apache.spark.sql.execution.QueryExecution(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan) {
      override def analyzed = plan
      override def optimizedPlan = plan
    }
    new org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row](qe,
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(plan.schema))
  }

  /** Bucket id encoded in a bucketed part-file name (`..._00003.c000...`),
    * parsed by the SAME routine the bucketed reader trusts. The engine's
    * copy-on-write stays FILE-granular under bucket layouts (survivors
    * re-hash through the bucketed writer); this accessor exists so tests
    * (CowRewriteSpec) can validate the file-naming invariant the partial
    * rewrite preserves — that every new file carries the bucket id its
    * rows hash to — against the reader's own parse.
    */
  def bucketIdFromFileName(name: String): Option[Int] =
    org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId(name)
}
