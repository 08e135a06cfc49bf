package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>`
  * columns, accumulated in double in ascending index order (the same
  * fold order as the DuckDB oracle's list_sum, so results are
  * bit-identical).
  *
  * This is the codegen answer to the embedding math that Spark's
  * built-in `aggregate`/`zip_with` higher-order functions evaluate
  * interpreted (lambda call + boxing per element — the reference's
  * equivalent pain is why it JIT-compiles UDFs to kernels at all,
  * `/root/reference` TornadoVM graal phases, SURVEY.md §0.2). Here
  * `doGenCode` emits a primitive loop straight into the whole-stage
  * generated class: no virtual calls, no allocation per row.
  *
  * Exposed to SQL as `graft_dot` via [[Functions.register]].
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native cosine similarity of two `array<float>` columns: dot
  * product and both squared norms accumulate in ONE fused ascending
  * loop (double accumulators), then `dot / (sqrt(na)·sqrt(nb))` —
  * sqrt and division are exactly-rounded IEEE ops, so given the
  * fold-order contract the result is bit-identical to the DuckDB
  * oracle's list_sum form. Zero-norm inputs yield 0.0 (the
  * embedding-pipeline convention, never NaN). Where [[DotProduct]]
  * needs pre-normalized vectors or three expressions, this is the
  * one-pass form the similarity queries want on the SQL surface
  * (`graft_cosine`). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      s += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else s / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $s += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $s / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration for the engine's native expressions. */
object Functions {

  /** Make `graft_dot(a, b)` callable from SQL/expr in this session.
    * Idempotent; queries that use native expressions call this in
    * their builder. Registers once per session — re-registering is
    * harmless but warns "replaced a previously registered function"
    * on every query build, which pollutes bench logs. */
  def register(spark: SparkSession): Unit = {
    if (!spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"))) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_dot",
        (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1)),
        "built-in")
    }
    if (!spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine"))) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_cosine",
        (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1)),
        "built-in")
    }
    if (!spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_h60"))) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_h60",
        (exprs: Seq[Expression]) => {
          import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Md5, Substring}
          require(exprs.length == 1, s"graft_h60 takes 1 argument, got ${exprs.length}")
          Cast(Conv(Substring(Md5(exprs.head), Literal(1), Literal(15)),
            Literal(16), Literal(10)), org.apache.spark.sql.types.LongType)
        },
        "built-in")
    }
    if (!spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_vecsum"))) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_vecsum",
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, s"graft_vecsum takes 1 argument, got ${exprs.length}")
          VecSum(exprs.head).toAggregateExpression(isDistinct = false)
        },
        "built-in")
    }
    // graft_rmin/rmax/rsum/ravg(x): scalar double reductions (the
    // reference's prebuilt
    // simple-double-reduce-{min,max,sum,avg}.cl workload class) — see
    // graft.plans.ScalarReduce
    ScalarReduce.All.foreach { op =>
      val name = s"graft_r${op.name}"
      if (!spark.sessionState.functionRegistry
          .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))) {
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          name,
          (exprs: Seq[Expression]) => {
            require(exprs.length == 1, s"$name takes 1 argument, got ${exprs.length}")
            ScalarReduce(exprs.head, op).toAggregateExpression(isDistinct = false)
          },
          "built-in")
      }
    }
    // Sketch aggregates on the SQL surface: `graft_hh(col)` —
    // Misra-Gries heavy hitters (k=32) as map<item, est_count> — and
    // `graft_cm(col)` — the Count-Min table (d=4, w=256) as
    // array<bigint> — so sketches compose in spark.sql text alongside
    // the built-in HLL family (hll_sketch_agg / hll_union_agg /
    // hll_sketch_estimate covers that slot natively). Parameters are
    // fixed at registration (SQL UDAFs take column args only);
    // callers needing other k/d/w use the Sketches API directly.
    if (!spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_hh"))) {
      spark.udf.register("graft_hh", org.apache.spark.sql.functions.udaf(
        new graft.operators.Sketches.HeavyHittersAgg(32)))
    }
    if (!spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cm"))) {
      spark.udf.register("graft_cm", org.apache.spark.sql.functions.udaf(
        new graft.operators.Sketches.CountMinAgg(4, 256)))
    }
  }
}
