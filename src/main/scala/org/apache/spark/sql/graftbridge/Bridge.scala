package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedAggregator}
import org.apache.spark.sql.types.StructType

/** Minimal access bridge into Spark's `private[sql]` planner surface
  * (Column→Expression, LogicalPlan→DataFrame, typed aggregators) for
  * the engine's custom operators — the same doorway every Spark
  * extension library uses. Keep it tiny: everything engine-specific
  * lives in `graft.plans`.
  */
object Bridge {

  /** Eager conversion: ExpressionUtils.expression returns a lazy
    * ColumnNodeExpression that only analysis of standard Dataset
    * operators unwraps — inside a custom logical node it would reach
    * execution unevaluable. */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter.apply(c.node)

  /** Reverse direction: wrap an already-built catalyst Expression as
    * a user-facing Column (the classic ExpressionUtils.column, which
    * is private[sql]). */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A checkpointed frame (one LogicalRDD leaf) rebuilt to report a
    * measured row count as its statistics: `rows` and rows × the
    * estimated row width. The leaf otherwise inherits its origin
    * plan's estimate. Partitioning and ordering are kept, and so are
    * the constraints over the leaf's own output: the origin's rewrite
    * can leave a constraint naming an attribute of the origin plan,
    * which fails the constraint rewrite of a Union above the leaf. */
  def withRowCount(checkpointed: DataFrame, rows: Long): DataFrame = {
    val r = checkpointed.queryExecution.logical.asInstanceOf[LogicalRDD]
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(r.output) * rows,
      rowCount = Some(BigInt(rows)))
    val s = checkpointed.sparkSession.asInstanceOf[CSparkSession]
    val constraints = r.constraints.filter(_.references.subsetOf(r.outputSet))
    ofRows(s, r.copy()(s, Some(stats), Some(ExpressionSet(constraints))))
  }

  /** `schema` with every field nullable, nested fields included: the
    * schema a file-source read returns for data written as `schema`. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** The builder `spark.udf.register(name, udaf(agg))` registers for
    * a typed `Aggregator` (its `ScalaAggregator` is private[sql]), so
    * a session extension can inject the aggregator as a SQL function. */
  def aggregator[IN, BUF, OUT](name: String, agg: Aggregator[IN, BUF, OUT],
      in: Encoder[IN]): Seq[Expression] => Expression = {
    val udaf = UserDefinedAggregator(agg, in, Some(name))
    children => ScalaAggregator(udaf, children)
  }
}
