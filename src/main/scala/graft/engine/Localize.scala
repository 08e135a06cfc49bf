package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.types.StructType

/** Run a tiny-result plan NOW and hand its rows back as a local
  * relation, releasing whatever distributed state backed it
  * (persisted working sets, per-block broadcasts) via `release`.
  * The pattern behind every iterative/model-building query: without
  * it each invocation leaks pinned executor state into the session —
  * harmless once, ruinous across a 100-query bench loop. Only for
  * results that are small by construction (model rows, thresholded
  * pair sets); corpus-sized outputs must stay distributed.
  *
  * An ordered result is collected unsorted and sorted on the driver
  * ([[local]]): a global `orderBy` costs a range-sample job and a sort
  * shuffle for rows that end up on the driver anyway. */
object Localize {
  def apply(result: DataFrame, orderBy: String*)(release: => Unit): DataFrame = {
    val collected = result.collect()
    release
    local(result.sparkSession, collected.toSeq, result.schema, orderBy)
  }

  /** Driver-side rows as a local relation of `schema`, sorted by the
    * top-level columns `orderBy` as Spark's `orderBy` sorts them
    * (ascending, nulls first; Catalyst's own comparator), with no
    * Spark job. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType,
      orderBy: Seq[String]): DataFrame = {
    val sorted = if (orderBy.isEmpty) rows else {
      val keys = StructType(orderBy.map(schema(_)))
      val at = orderBy.map(schema.fieldIndex)
      val toKey = ExpressionEncoder(keys).createSerializer()
      rows.sortBy(r => toKey(Row.fromSeq(at.map(r.get))).copy())(
        InterpretedOrdering.forSchema(keys.map(_.dataType)))
    }
    spark.createDataFrame(java.util.Arrays.asList(sorted: _*), schema)
  }
}
