package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Helpers for CPU-bound per-row stages (digest hashing, gram
  * expansion, fingerprinting) whose cost is decoupled from input
  * BYTES — the class of work where Spark's byte-oriented split
  * planning under-parallelizes.
  */
object Cpu {

  /** Ensure at least core-count parallelism before a CPU-heavy
    * stage. A small compressed file arrives as ONE split regardless
    * of `spark.sql.files.maxPartitionBytes`, pinning an entire
    * digest pass to one task on a 32-core executor; the spread
    * shuffle moves only the projected input columns. At real corpus
    * scale the scan already yields >= cores splits and this is a
    * no-op — no corpus-sized shuffle is ever added.
    *
    * The gate is the OPTIMIZER'S size estimate, not
    * `df.rdd.getNumPartitions`: building the RDD instantiates a whole
    * separate physical plan per call (once per streaming micro-batch
    * on the drift/winnow gates) and can disagree with the executed
    * plan's post-AQE partitioning anyway. `optimizedPlan.stats` costs
    * one logical-optimization pass that execution pays regardless.
    * Estimate below cores × maxPartitionBytes ⇒ the scan cannot yield
    * cores splits ⇒ repartition. Two known blind spots, both handled
    * or accepted:
    *  - RDD-backed plans (LogicalRDD: localCheckpoint results,
    *    MemoryStream / foreachBatch micro-batches) have no size
    *    statistics — the leaf reports the `defaultSizeInBytes`
    *    sentinel (Long.MaxValue by default), which would always pass
    *    the size gate and silently drop the guaranteed parallelism.
    *    Sentinel EQUALITY at the root is not enough: any Project or
    *    Filter above the leaf SCALES the estimate (column pruning
    *    multiplies by an output/input row-size ratio), so
    *    `batch.select(...)` over a micro-batch no longer equals the
    *    sentinel while still being pure garbage — that shape ran
    *    q193's per-trigger minhash SINGLE-partition for ~100 s at
    *    sf1. So: whenever a LogicalRDD leaf exists ANYWHERE below,
    *    ignore the size estimate entirely and gate on the RDD's
    *    actual partition count (free to read — the RDD already
    *    exists in the plan node; no second physical plan is built).
    *    The frames [[Iterate.measured]] materializes do carry measured
    *    sizes (row count × row width), but this gate and
    *    [[sizedParts]] still size EVERY LogicalRDD leaf by its
    *    partition count: nothing marks which leaves are measured.
    *  - A handful of huge NON-splittable files (gzip) pass the size
    *    gate while arriving as few splits — accepted; none of this
    *    engine's sources are gzip text.
    */
  def spread(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val cores = sess.sparkContext.defaultParallelism
    val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
    val plan = df.queryExecution.optimizedPlan
    // ALL LogicalRDD leaves, gated on the MINIMUM partition count: a
    // plan mixing an RDD leaf with file-scan leaves (checkpoint
    // joined to a scan) must not be sized by whichever leaf a
    // pre-order collectFirst happened to hit — one single-partition
    // leaf anywhere is enough to pin the whole zipped stage (r12
    // advice; previously latent because every call site was
    // single-source).
    val rddParts = plan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.getNumPartitions
    }
    rddParts.minOption match {
      case Some(p) => if (p < cores) df.repartition(cores) else df
      case None =>
        val est = plan.stats.sizeInBytes
        if (est < BigInt(cores) * maxSplit) df.repartition(cores) else df
    }
  }

  /** Size-derived width for an EXPLICIT repartition that feeds a
    * persisted/checkpointed relation (guide §2: scale-adaptive
    * partitioning, the inverse of [[spread]]). The session's
    * shuffle-partition count is a cluster-posture constant, and
    * cached plans execute without AQE coalescing, so
    * `repartition(col)` pins a tiny relation at full session width —
    * measured as 32 near-empty cached edge partitions driving
    * 32-task jobs in EVERY superstep of the graph family at test SF.
    * Width = ceil(optimizer size estimate / targetBytes), clamped to
    * [1, spark.sql.shuffle.partitions]: a test-scale relation
    * collapses to a few real partitions, a deployment-scale relation
    * keeps the configured session width (the estimate only coalesces
    * downward, exactly what AQE would do if it could see through the
    * cache). LogicalRDD-leaf plans mostly carry no real statistics
    * (only the [[Iterate.delta]] states are measured, and nothing
    * marks them) — keep the session width for every one (the same
    * blind-spot rule as [[spread]], pointed the safe way: never
    * under-parallelize unknown data). */
  def sizedParts(df: DataFrame, targetBytes: Long = 16L << 20): Int = {
    val sess = df.sparkSession
    val width = sess.sessionState.conf.numShufflePartitions
    val plan = df.queryExecution.optimizedPlan
    val hasRdd = plan.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.nonEmpty
    if (hasRdd) width
    else {
      val est = plan.stats.sizeInBytes
      val n = (est + targetBytes - 1) / targetBytes
      n.min(BigInt(width)).max(BigInt(1)).toInt
    }
  }

  /** Explode an EXPENSIVE computed array (per-gram digests, shingle
    * construction) without the two hidden costs of
    * `explode(expensive(x))`:
    *
    *  1. Catalyst's InferFiltersFromGenerate adds `size(arr) > 0`
    *     for a non-outer explode and pushes it to the scan — the
    *     entire computation evaluated a SECOND time, below any
    *     spread exchange (i.e. at file-split parallelism). At sf0.1
    *     this made q177's winnow kernel the slowest query in the
    *     registry by two orders of magnitude and is what overran the
    *     round-9 driver bench window. The OUTER explode is exempt
    *     from the inference; the null row an empty array produces is
    *     dropped by the isNotNull filter, so output rows are
    *     identical (our generators never produce null ELEMENTS).
    *  2. File-split under-parallelism — handled by [[spread]].
    */
  def explodeComputed(df: DataFrame, keep: Seq[Column], arr: Column,
      alias: String): DataFrame =
    spread(df).select((keep :+ explode_outer(arr).as(alias)): _*)
      .filter(col(alias).isNotNull)
}
