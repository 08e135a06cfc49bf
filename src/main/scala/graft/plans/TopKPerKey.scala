package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator custom plan: exact top-k rows per key without a
  * sort — the escape hatch the build plan reserves for semantics the
  * built-ins can't express efficiently (SURVEY.md §7 "custom vs
  * built-in", option (c): LogicalPlan + Strategy + SparkPlan).
  *
  * Spark's idiomatic form (`row_number().over(partitionBy(keys)
  * .orderBy(v desc)) <= k`, our q12) shuffles EVERY row and sorts
  * every partition. This operator plans as two phases, exactly like
  * partial aggregation:
  *
  *   TopKPerKeyExec(final)   — per-key k-bounded heaps, exact
  *     +- Exchange(keys)     — receives ≤ k rows per (partition, key)
  *        +- TopKPerKeyExec(partial) — per-key heaps in each input
  *           partition, no distribution requirement
  *
  * so shuffle volume drops from N rows to ≤ k·partitions·keys, and
  * per-row cost is O(log k) heap maintenance instead of a sort. Ties
  * at the k boundary keep an arbitrary row (same contract as LIMIT);
  * the retained VALUE multiset is exact.
  */
case class TopKPerKey(k: Int, keyExprs: Seq[Expression], orderExpr: Expression,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

case class TopKPerKeyExec(k: Int, keyExprs: Seq[Expression], orderExpr: Expression,
    partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (keyExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(keyExprs))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kk = k
    val keyEs = keyExprs
    val ordE = orderExpr
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyEs, childOutput)
      val ordProj = UnsafeProjection.create(Seq(ordE), childOutput)
      // children without whole-stage codegen can emit non-UnsafeRow
      // InternalRows — convert through an identity projection instead
      // of casting (the projection reuses one buffer, so copy after)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      def retain(row: InternalRow): UnsafeRow = row match {
        case u: UnsafeRow => u.copy()
        case other => toUnsafe(other).copy()
      }
      // min-heap per key: head is the weakest retained row
      implicit val byValue: Ordering[(Double, UnsafeRow)] =
        Ordering.by[(Double, UnsafeRow), Double](_._1).reverse
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[(Double, UnsafeRow)]]
      it.foreach { row =>
        val ordRow = ordProj(row)
        if (!ordRow.isNullAt(0)) {
          val v = ordRow.getDouble(0)
          val key = keyProj(row).copy()
          val heap = heaps.getOrElseUpdate(key,
            mutable.PriorityQueue.empty[(Double, UnsafeRow)])
          if (heap.size < kk) {
            heap.enqueue((v, retain(row)))
          } else if (v > heap.head._1) {
            heap.dequeue()
            heap.enqueue((v, retain(row)))
          }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._2))
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"
}

/** Library entry point. */
object TopK {

  /** Exact top-k rows per key, ranked by `order` (descending, nulls
    * dropped). Planned by `TopKPerKeyStrategy`, which
    * [[graft.engine.GraftExtensions]] injects: the session needs the
    * extension. */
  def topKPerKey(df: DataFrame, k: Int, order: Column, keys: Column*): DataFrame = {
    // a non-castable order column (string…) would cast to all-null and
    // silently return an empty result — reject it; numeric, date and
    // timestamp all cast to double order-preservingly
    val orderType = df.select(order).schema.head.dataType
    val orderable = orderType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    require(orderable,
      s"topKPerKey order column must be numeric/date/timestamp, got ${orderType.simpleString}")
    val node = TopKPerKey(k,
      keys.map(Bridge.expression),
      Bridge.expression(order.cast("double")),
      df.queryExecution.logical)
    Bridge.ofRows(df.sparkSession, node)
  }
}
