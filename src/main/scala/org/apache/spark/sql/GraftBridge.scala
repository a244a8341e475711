package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}

/** Minimal bridge into Spark's `private[sql]` plan→DataFrame constructor,
  * so engine code can wrap a custom [[LogicalPlan]] node (graft.plans.*)
  * in a DataFrame. This is the standard extension-library pattern for
  * custom operators: everything else (strategy injection, distribution/
  * ordering requirements) goes through public `SparkSessionExtensions` /
  * `spark.experimental` APIs.
  *
  * The prepared API endpoints ([[graft.api.SqlApi]]) also need a physical
  * plan prepared for execution without the adaptive wrapper, and a way to
  * run one outside a SQL execution.
  */
object GraftBridge {
  private def asClassic(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(asClassic(spark), plan)

  /** `plan` through the execution preparations (exchanges, codegen
    * stages, columnar transitions) that Spark applies to a subquery:
    * every preparation except the adaptive-execution wrapper. */
  def prepareWithoutAdaptive(spark: SparkSession, plan: SparkPlan): SparkPlan =
    QueryExecution.prepareExecutedPlan(asClassic(spark), plan)

  /** `body` with `spark` active and its SQL conf passed to the tasks that
    * `body` launches, as a SQL execution would pass it, but without
    * starting one (no execution id, no listener events). */
  def withSessionConf[T](spark: SparkSession)(body: => T): T = {
    val s = asClassic(spark)
    s.withActive(SQLExecution.withSQLConfPropagated(s)(body))
  }
}
