package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge to the `private[sql]` surface needed to parse SQL text
  * into a [[LogicalPlan]] and to turn a hand-constructed or rewritten plan
  * into a [[DataFrame]] — the
  * standard technique of Spark extension libraries (an object in an
  * `org.apache.spark.sql` subpackage; compare spark-xml / sedona / delta,
  * which each ship one). Everything else in graft uses the public API;
  * keep this file the ONLY place with package-private access so the
  * blast radius of a Spark upgrade is one object.
  */
object Bridge {

  /** `Dataset.ofRows`: wrap a logical plan (e.g. graft's
    * [[graft.plans.AsOfJoinNode]]) as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's SQL parser applied to `text` (extensions included):
    * the unresolved plan `spark.sql(text)` would analyze. */
  def parse(spark: SparkSession, text: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser
      .parsePlan(text)

  /** The analyzed logical plan of a DataFrame (resolved attributes with
    * stable exprIds — the inputs a hand-built binary node needs). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
}
