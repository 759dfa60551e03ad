package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}

/** Thin bridge to `private[sql]` plan/column constructors — lives under the
  * org.apache.spark.sql package for access, like the native expressions.
  * Used by the ANN rewrite rule, which needs to lift a matched logical
  * subtree (the query-table side of a batch kNN join) back into a
  * DataFrame so the index path can consume it, and by the corpus-prep
  * stage boundaries (graft.operators.Checkpoints.boundary), which run a
  * frame as one SQL action and re-root it on the rows it produced.
  */
object PlanBridge {

  /** DataFrame over an analyzed logical plan (Dataset.ofRows). */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(session.asInstanceOf[ClassicSparkSession], plan)

  /** Column wrapping a resolved expression (ExpressionUtils.column) —
    * attribute-exact selection, immune to name ambiguity.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column — the inverse of [[column]].
    * Lets Column-composed functions (the whole text/pipeline layer) be
    * registered as SQL functions: wrap the call-site child expressions in
    * Columns, compose with the functions API, unwrap the result.
    *
    * Uses the ACTIVE session's node-to-expression converter
    * (`classic.SparkSession.expression`) for an eager conversion —
    * `ExpressionUtils.expression` alone wraps the tree in a lazy
    * `ColumnNodeExpression` that an injected-function call site would
    * carry unresolved all the way into codegen.
    */
  def expression(c: Column): Expression =
    SparkSession.active.asInstanceOf[ClassicSparkSession].expression(c)

  /** Runs `body` on `df`'s executed plan as one SQL execution named
    * `name` — the way `Dataset` actions, `Dataset.checkpoint` among them,
    * run, so listeners and the SQL UI see the jobs under one query.
    */
  def withAction[T](df: DataFrame, name: String)(body: SparkPlan => T): T = {
    val qe = df.asInstanceOf[ClassicDataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.executedPlan))
  }

  /** Frame whose plan is one `LogicalRDD` leaf over `rows`, which must
    * hold `origin`'s output rows as produced by its executed plan. The
    * leaf takes `origin`'s output attributes, partitioning and ordering
    * (as `Dataset.checkpoint` does) and reports `stats` as its size.
    */
  def rddLeaf(origin: DataFrame, rows: RDD[InternalRow], stats: Statistics): DataFrame = {
    val session = origin.sparkSession.asInstanceOf[ClassicSparkSession]
    val leaf = LogicalRDD.fromDataset(rows, origin.asInstanceOf[ClassicDataset[_]],
      isStreaming = false)
    ofRows(session, leaf.copy()(session, Some(stats), None))
  }
}
