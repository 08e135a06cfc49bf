package graft.engine

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
  *     here truncates with `localCheckpoint` at every superstep, which
  *     also gives step N+1 the same plan shape as step N, so its
  *     generated classes come from the codegen cache.
  *   - tiny driver state (e.g. k centroids) is better carried as plain
  *     Scala values re-broadcast into literals each step than as a
  *     DataFrame — see [[graft.analytics.Iterative]].
  */
object Iterate {

  /** Fold a plain driver-side state through n supersteps. */
  def loop[A](init: A, n: Int)(step: (A, Int) => A): A =
    (1 to n).foldLeft(init)(step)

  /** Iterate a DataFrame-valued superstep n times, truncating the
    * lineage after every step (eager localCheckpoint). */
  def loopDF(init: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((cur, i) => step(cur, i).localCheckpoint(true))

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
    * initial workset is materialized once.
    *
    * Every state the loop materializes carries its MEASURED size as
    * plan statistics (row count, and rows × estimated row width): a
    * checkpoint otherwise inherits its origin plan's estimate, which
    * for joins over derived keys is garbage — at sf0.1, q57's 75-row
    * edge state was estimated at 5.1 GiB and its 108-row first delta at
    * 15.9 EiB, so every superstep planned two sort-merge joins over
    * four shuffle exchanges that AQE only replaced with broadcasts
    * after running them; with measured sizes they broadcast both
    * states and shuffle only the delta's dedup. The count is the one
    * job that materializes the (lazily marked) checkpoint, and it
    * doubles as the emptiness test. A whole-row merge stays a union of
    * those measured leaves (its statistics are their sum); a keyed
    * merge is materialized and measured like the delta.
    */
  def delta(solution: DataFrame, workset: DataFrame, maxIter: Int, key: String*)(
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val wholeRow = key.toSet == solution.columns.toSet
    val init = measured(solution)
    var sol = init._1
    var (ws, rows) = if (workset eq solution) init else measured(workset)
    var i = 0
    while (i < maxIter && rows > 0) {
      val (d, n) = measured(step(sol, ws))
      if (n > 0) sol =
        if (wholeRow) sol.union(d)
        else measured(sol.join(d.select(key.map(col): _*), key, "left_anti").union(d))._1
      ws = d
      rows = n
      i += 1
    }
    sol
  }

  /** Checkpoint `df` and count its rows in one job (counting the
    * checkpoint's RDD computes it and fills the local checkpoint),
    * then attach the count as the leaf's statistics. */
  private def measured(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(false)
    val rows = cp.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.count()
    }
    (Bridge.withRowCount(cp, rows), rows)
  }
}
