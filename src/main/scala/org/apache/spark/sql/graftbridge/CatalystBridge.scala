package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Catalyst plumbing (Column ↔
  * Expression, function registry). Lives under `org.apache.spark.sql` for
  * visibility only — the standard pattern for Spark extension libraries;
  * everything else in this project stays in `graft.*`.
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder as a SQL function. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Wrap a logical plan as a DataFrame (Dataset.ofRows). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A copy of `spark`'s session: same SparkContext, shared state
    * (cache manager included) and extensions, with its own copy of the
    * SQL conf, catalog temp views and functions as they stand now. Conf
    * set on the copy never reaches `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Bring a [[cloneSession]] copy up to date with its origin: its SQL
    * conf becomes `from`'s current settings plus `extra` (keys `from` no
    * longer sets are unset), and its planner strategies and optimizer
    * rules become `from`'s. */
  def resync(from: SparkSession, to: SparkSession, extra: Seq[(String, String)]): Unit = {
    val (f, t) = (classic(from), classic(to))
    val want = f.sessionState.conf.getAllConfs ++ extra
    val conf = t.sessionState.conf
    conf.getAllConfs.keys.filterNot(want.contains).foreach(conf.unsetConf)
    want.foreach { case (k, v) =>
      if (conf.getConfString(k, null) != v) conf.setConfString(k, v)
    }
    t.experimental.extraStrategies = f.experimental.extraStrategies
    t.experimental.extraOptimizations = f.experimental.extraOptimizations
  }

  private def classic(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The standard wrong-arity AnalysisException (WRONG_NUM_ARGS), as
    * built-in function builders raise it.
    */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, Seq(expected), actual)

  /** Add a planner strategy to the session (idempotent). */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.classic.Strategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Add an optimizer rule to the session (idempotent). Runs in the
    * optimizer's fixed-point "User Provided Optimizers" batch — early
    * enough that a Filter a rule lands on a relation still reaches the
    * file source's PushedFilters at physical planning. */
  def addOptimization(spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ r
  }
}
