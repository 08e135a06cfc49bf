package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

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
  * Exposed to SQL as `graft_vecsum` by
  * [[graft.engine.GraftExtensions]]. Planned through
  * ObjectHashAggregateExec (typed-imperative, binary-serialized
  * partials — the standard two-stage partial/final split, so the
  * map-side combine runs before the shuffle like any built-in agg).
  * The buffer of a row update and of a partial merge have the same
  * shape, so one fold ([[VecSum.accumulate]]) serves both; partials
  * serialize as little-endian packed doubles.
  */
case class VecSum(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_vecsum expects array<float> or array<double>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vecsum"

  override def createAggregationBuffer(): Array[Double] =
    Array.emptyDoubleArray

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf
    else VecSum.accumulate(buf, VecSum.toDoubles(v.asInstanceOf[ArrayData], child.dataType))
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] =
    VecSum.accumulate(buf, other)

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
      if (acc0.length != v.length) throw new IllegalArgumentException(
        s"graft_vecsum: ragged input — accumulated dimension ${acc0.length}, " +
          s"incoming vector length ${v.length} (fixed-dimension vectors required)")
      var i = 0
      while (i < v.length) { acc0(i) += v(i); i += 1 }
      acc0
    }
  }
}
