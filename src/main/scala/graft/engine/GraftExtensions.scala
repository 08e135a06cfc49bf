package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.DotProduct

/** Canonical engine registration via SparkSessionExtensions — the
  * mechanism SURVEY.md §7 reserves for custom plan surface. The
  * injected surface is the `graft_*` SQL functions (all of them
  * codegen'd expressions or two-stage aggregates) plus the
  * TopKPerKey planner strategy. Users opt in with either
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.engine.GraftExtensions`; library
  * entry points ([[graft.plans.Functions.register]],
  * [[graft.plans.TopK.topKPerKey]]) also self-register per session so
  * the extension class is a convenience, not a requirement.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[graft.plans.CosineSim].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => graft.plans.CosineSim(exprs.head, exprs(1))))
    // graft_h60(s): the engine's portable 60-bit hash
    // ([[graft.functions.Portable.h60]]) on the SQL surface, so pure-SQL
    // users get the same reproducible sharding/sampling/sketch keys as
    // the Scala API. Built from stock codegen'd expressions (md5 →
    // substring → conv → cast), so it stays inside whole-stage codegen.
    ext.injectFunction((
      FunctionIdentifier("graft_h60"),
      new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.Conv].getName,
        "graft_h60"),
      (exprs: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions._
        require(exprs.length == 1, s"graft_h60 takes 1 argument, got ${exprs.length}")
        Cast(Conv(Substring(Md5(exprs.head), Literal(1), Literal(15)),
          Literal(16), Literal(10)), org.apache.spark.sql.types.LongType)
      }))
    // graft_vecsum(v): element-wise array<float> sum (KMeans
    // centroid-accumulate shape) — see graft.plans.VecSum
    ext.injectFunction((
      FunctionIdentifier("graft_vecsum"),
      new ExpressionInfo(classOf[graft.plans.VecSum].getName, "graft_vecsum"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"graft_vecsum takes 1 argument, got ${exprs.length}")
        graft.plans.VecSum(exprs.head)
          .toAggregateExpression(isDistinct = false)
      }))
    // graft_rmin/rmax/rsum/ravg(x): scalar double reductions, the same
    // aggregate family as graft_vecsum (the reference's prebuilt
    // simple-double-reduce-* device kernels) — see
    // graft.plans.ScalarReduce
    graft.plans.ScalarReduce.All.foreach { op =>
      val name = s"graft_r${op.name}"
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[graft.plans.ScalarReduce].getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, s"$name takes 1 argument, got ${exprs.length}")
          graft.plans.ScalarReduce(exprs.head, op)
            .toAggregateExpression(isDistinct = false)
        }))
    }
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftbridge.TopKPerKeyStrategy)
  }
}
