package graft.engine

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-side iteration helper — the Spark-idiomatic replacement for
  * the reference's `IterativeDataSet`/`DeltaIteration` dataflow nodes
  * (`/root/reference` flink-java DataSet.java:1191,1241 and
  * flink-runtime iterative/task/IterationHeadTask.java et al.).
  *
  * Flink runs supersteps inside the dataflow with a sync barrier per
  * iteration; Spark has no iteration operator, so the idiomatic form
  * (same as MLlib) is a driver loop re-submitting jobs. Two hazards at
  * scale, both handled here:
  *
  *   - lineage growth: each superstep stacks a plan on top of the
  *     last; after tens of steps analysis/codegen time dominates and a
  *     lost-partition recompute replays the whole history. Every loop
  *     here truncates with [[measured]] at every superstep, which
  *     also gives step N+1 the same plan shape as step N, so its
  *     generated classes come from the codegen cache.
  *   - tiny driver state (e.g. k centroids) is better carried as plain
  *     Scala values re-broadcast into literals each step than as a
  *     DataFrame — see [[graft.analytics.Iterative]].
  *
  * Like the reference's iteration head, this object owns how state is
  * materialized: [[measured]] is the engine's only materialization
  * call, used by these loops and by every query that reads one
  * derived frame more than once.
  */
object Iterate {

  /** Fold a plain driver-side state through n supersteps. */
  def loop[A](init: A, n: Int)(step: (A, Int) => A): A =
    (1 to n).foldLeft(init)(step)

  /** Iterate a DataFrame-valued superstep n times, truncating the
    * lineage after every step ([[measured]]). */
  def loopDF(init: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(init, n)((cur, i) => measured(step(cur, i)))

  /** Delta iteration — Flink's `solution.iterateDelta(workset,
    * maxIterations, keyPositions)` (reference flink-java
    * DataSet.java:1241; ConnectedComponents.java:99-104). `step` maps
    * (solution, workset) to the superstep's DELTA: the rows to upsert
    * into the solution, with the solution's columns in its order. The
    * delta is also the next workset; the loop stops when it is empty,
    * or after `maxIter` supersteps. The merge is by `key`: a key that
    * names every column (set semantics — the step must return only
    * rows not yet in the solution) is a plain union; any other key
    * replaces the solution rows whose key the delta carries (left-anti
    * join on the key, then union).
    *
    * Each superstep's delta is computed and materialized ONCE and
    * serves both roles, and an initial solution that is also the
    * initial workset is materialized once. The delta's measured row
    * count is the emptiness test. A whole-row merge stays a union of
    * measured leaves (its statistics are their sum); a keyed merge is
    * materialized and measured like the delta.
    */
  def delta(solution: DataFrame, workset: DataFrame, maxIter: Int, key: String*)(
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val wholeRow = key.toSet == solution.columns.toSet
    def merge(sol: DataFrame, d: DataFrame): DataFrame =
      if (wholeRow) sol.union(d)
      else measured(sol.join(d.select(key.map(col): _*), key, "left_anti").union(d))
    @tailrec def go(sol: DataFrame, ws: DataFrame, i: Int): DataFrame =
      if (i >= maxIter || rowCount(ws) == 0) sol
      else {
        val d = measured(step(sol, ws))
        go(if (rowCount(d) > 0) merge(sol, d) else sol, d, i + 1)
      }
    val init = measured(solution)
    go(init, if (workset eq solution) init else measured(workset), 0)
  }

  /** The engine's one materialization call: checkpoint `df` locally
    * and count its rows in ONE job (counting the checkpoint's RDD
    * computes it and fills the local checkpoint), then attach the
    * count as the leaf's statistics ([[rowCount]] reads it back).
    *
    * A checkpoint otherwise inherits its origin plan's size estimate,
    * which for joins over derived keys is garbage — at sf0.1, q57's
    * 75-row edge state was estimated at 5.1 GiB and its 108-row first
    * delta at 15.9 EiB, so every superstep planned two sort-merge
    * joins over four shuffle exchanges that AQE only replaced with
    * broadcasts after running them; with measured sizes they
    * broadcast both states and shuffle only the delta's dedup. */
  def measured(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(false)
    val rows = cp.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.count()
    }
    Bridge.withRowCount(cp, rows)
  }

  /** The row count [[measured]] attached to `m`, read from the plan
    * with no job. */
  def rowCount(m: DataFrame): Long =
    m.queryExecution.logical.stats.rowCount.get.toLong
}
