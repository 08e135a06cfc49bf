package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The family of `TypedImperativeAggregate[Array[Double]]` functions
  * behind `graft_vecsum` and `graft_r*`: one unary input
  * expression, an `Array[Double]` accumulator whose length 0 means
  * "nothing consumed", and an element-wise fold that is ALSO the
  * partial-merge (the per-row extracted vector and a partial buffer
  * have the same shape). Implemented by [[VecSum]] (vector
  * sum — KMeans centroid/LogReg gradient accumulate) and
  * [[ScalarReduce]] (double min/max/sum/avg — the reference's
  * `simple-double-reduce-{min,max,sum,avg}.cl` prebuilt kernels,
  * `AllReduceDriver.java:1400-1424`, selected by UDF class name at
  * `AllReduceDriver.java:1417-1431`). Serialization is shared:
  * little-endian packed doubles. */
trait KernelAgg extends TypedImperativeAggregate[Array[Double]]
    with UnaryLike[Expression] {
  def child: Expression

  /** One row's evaluated input as a primitive vector (never called
    * with null — update() short-circuits null inputs first). */
  def toVec(value: Any): Array[Double]

  /** Element-wise fold of one extracted vector OR one partial buffer
    * into the accumulator; returns the (possibly re-allocated)
    * buffer. Must treat a length-0 argument as "nothing". */
  def fold(acc: Array[Double], v: Array[Double]): Array[Double]

  override def createAggregationBuffer(): Array[Double] =
    Array.emptyDoubleArray

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf else fold(buf, toVec(v))
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] =
    fold(buf, other)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(out)
    out
  }
}

/** Element-wise vector sum over an `array<float>` or `array<double>`
  * column — the KMeans centroid-accumulate shape (reference TornadoVM
  * `ChainedAllReduceDriver.java:852`: the per-cluster centroid
  * partial reduction the artifact offloads to the device; the same
  * shape as the LogReg gradient partial-sum,
  * `ChainedAllReduceDriver.java:563-600`). Buffer = `Array[Double]`
  * of component sums (length 0 = nothing consumed → result NULL);
  * a NON-EMPTY input whose length differs from the dimension already
  * accumulated FAILS FAST (callers feed fixed-dimension vectors — a
  * ragged input is an upstream data bug, and zero-padding it would
  * yield plausible-looking wrong sums; round-8 advice); empty arrays
  * are ignored like nulls, so the check never depends on row order.
  * Ascending component order, double accumulators — the engine-wide
  * fold-order contract.
  *
  * Exposed to SQL as `graft_vecsum` via [[Functions.register]] /
  * [[graft.engine.GraftExtensions]]. Planned through
  * ObjectHashAggregateExec (typed-imperative, binary-serialized
  * partials — the standard two-stage partial/final split, so the
  * map-side combine runs before the shuffle like any built-in agg).
  */
case class VecSum(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KernelAgg {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_vecsum expects array<float> or array<double>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vecsum"

  override def toVec(value: Any): Array[Double] =
    VecSum.toDoubles(value.asInstanceOf[ArrayData], child.dataType)

  override def fold(acc: Array[Double], v: Array[Double]): Array[Double] =
    VecSum.accumulate(acc, v)

  override def eval(buf: Array[Double]): Any =
    if (buf.isEmpty) null else new GenericArrayData(buf)

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecSum =
    copy(child = newChild)
}

object VecSum {

  private[plans] def checkDim(have: Int, got: Int): Unit =
    if (have != got) throw new IllegalArgumentException(
      s"graft_vecsum: ragged input — accumulated dimension $have, " +
        s"incoming vector length $got (fixed-dimension vectors required)")

  /** Element extraction per declared input type; float components
    * widen exactly, so both input types share one double fold. */
  private[plans] def toDoubles(ad: ArrayData, dt: DataType): Array[Double] =
    dt match {
      case ArrayType(FloatType, _) =>
        val f = ad.toFloatArray()
        val d = new Array[Double](f.length)
        var i = 0
        while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
        d
      case _ => ad.toDoubleArray()
    }

  /** Scalar accumulate: acc += v, ascending component order; the
    * first NON-EMPTY vector fixes the dimension, later non-empty
    * lengths must match. Empty vectors contribute nothing (like
    * nulls) regardless of where they land in the fold — dimension
    * checking must not depend on row order, which is free across
    * runs. Also the partial-merge fold (a 0-length partial buffer is
    * "nothing consumed"). Returns the (possibly re-allocated)
    * buffer. */
  def accumulate(acc0: Array[Double], v: Array[Double]): Array[Double] = {
    if (v.isEmpty) acc0
    else if (acc0.isEmpty) v.clone()
    else {
      checkDim(acc0.length, v.length)
      var i = 0
      while (i < v.length) { acc0(i) += v(i); i += 1 }
      acc0
    }
  }

}

/** Scalar double reduction — min/max/sum/avg — as the same
  * typed-imperative [[KernelAgg]] shape as [[VecSum]]: the reference
  * precompiles exactly these four as device kernels
  * (`simple-double-reduce-{min,max,sum,avg}.cl`) and selects one by
  * the UDF's class name (`AllReduceDriver.java:1400-1431`,
  * `ReduceMin/ReduceMax/ReduceSum/ReduceAvg`) — the IoT pipeline's
  * global-reduce stage. Buffer: `[m]` for min/max/sum, `[sum, count]`
  * for avg — in every case the per-row extracted vector has the same
  * shape, so ONE element-wise fold serves row-update and partial
  * merge (avg folds `[x, 1]` by addition; the division
  * happens once in eval). Exposed to SQL as
  * `graft_rmin/graft_rmax/graft_rsum/graft_ravg` via
  * [[Functions.register]] / [[graft.engine.GraftExtensions]], planned
  * through ObjectHashAggregateExec like VecSum. Strict DoubleType
  * input — callers cast, so the SQL surface can't silently widen
  * decimals through a double fold. */
case class ScalarReduce(child: Expression, op: ScalarReduce.Op,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KernelAgg {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects double, got ${t.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = s"graft_r${op.name}"

  override def toVec(value: Any): Array[Double] = {
    val d = value.asInstanceOf[Double]
    if (op eq ScalarReduce.Avg) Array(d, 1.0) else Array(d)
  }

  override def fold(acc: Array[Double], v: Array[Double]): Array[Double] =
    if (v.isEmpty) acc
    else if (acc.isEmpty) v.clone()
    else {
      VecSum.checkDim(acc.length, v.length)
      var i = 0
      while (i < v.length) { acc(i) = op.combine(acc(i), v(i)); i += 1 }
      acc
    }

  override def eval(buf: Array[Double]): Any =
    if (buf.isEmpty) null
    else if (op eq ScalarReduce.Avg) buf(0) / buf(1)
    else buf(0)

  override def withNewMutableAggBufferOffset(newOffset: Int): ScalarReduce =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ScalarReduce =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ScalarReduce =
    copy(child = newChild)
}

object ScalarReduce {
  /** The element-wise combiner. For Avg the buffer is [sum, count] and
    * BOTH components combine by +, so `combine` ignores the index. */
  sealed abstract class Op(val name: String) extends Serializable {
    def combine(a: Double, b: Double): Double
  }
  // NaN follows Spark's stock ordering, where NaN sorts GREATEST:
  // min skips NaN (unless every input is NaN — the buffer seeds from
  // the first value, so all-NaN still yields NaN), max returns NaN if
  // any input is NaN (math.max already propagates it). math.min would
  // instead propagate NaN, diverging from stock min({1.0, NaN}) = 1.0.
  case object Min extends Op("min") {
    def combine(a: Double, b: Double): Double =
      if (b.isNaN) a else if (a.isNaN) b else math.min(a, b)
  }
  case object Max extends Op("max") {
    def combine(a: Double, b: Double): Double = math.max(a, b)
  }
  case object Sum extends Op("sum") {
    def combine(a: Double, b: Double): Double = a + b
  }
  case object Avg extends Op("avg") {
    def combine(a: Double, b: Double): Double = a + b
  }
  val All: Seq[Op] = Seq(Min, Max, Sum, Avg)
}
