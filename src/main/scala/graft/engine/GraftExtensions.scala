package graft.engine

import org.apache.spark.sql.{Encoders, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.Sketches
import graft.plans.DotProduct

/** The engine's whole SQL surface, registered through
  * SparkSessionExtensions — the mechanism SURVEY.md §7 reserves for
  * custom plan surface, and the only place the engine registers
  * anything. The injected surface is six `graft_*` SQL functions
  * (codegen'd expressions, a two-stage aggregate and two sketch
  * aggregators) plus the TopKPerKey planner strategy.
  * [[GraftSession.builder]] installs it in every session it builds; a
  * session built elsewhere needs either
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.engine.GraftExtensions`, as Delta and
  * Iceberg do. Sessions cloned from one that has it
  * (`newSession()`, a StreamingQuery's clone) inherit it.
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
    // Sketch aggregates on the SQL surface: `graft_hh(col)` —
    // Misra-Gries heavy hitters (k=32) as map<item, est_count> — and
    // `graft_cm(col)` — the Count-Min table (d=4, w=256) as
    // array<bigint> — so sketches compose in spark.sql text alongside
    // the built-in HLL family (hll_sketch_agg / hll_union_agg /
    // hll_sketch_estimate covers that slot natively). SQL aggregates
    // take column arguments only, so the parameters are fixed here;
    // callers needing other k/d/w use the Sketches API directly.
    Seq(
      "graft_hh" -> new Sketches.HeavyHittersAgg(32),
      "graft_cm" -> new Sketches.CountMinAgg(4, 256)).foreach { case (name, agg) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(agg.getClass.getName, name),
        Bridge.aggregator(name, agg, Encoders.STRING)))
    }
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftbridge.TopKPerKeyStrategy)
  }
}
