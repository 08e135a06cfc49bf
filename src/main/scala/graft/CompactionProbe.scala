package graft

import org.apache.spark.sql.functions._

/** Measurement harness for the INLINE AUTO-COMPACTION stall (r15
  * verdict #3): DurableIndex.append() folds the log in-line once the
  * live entry count crosses the threshold, and the fold's cost grows
  * with INDEX size while the threshold counts ENTRIES — so a
  * long-lived maintainer stream pays a periodic latency cliff inside
  * a foreachBatch trigger. This probe drives the q197 posting shape
  * (tfd over the documents table) through a seeded log and a run of
  * appends with a small threshold, printing per-append wall seconds
  * and flagging the appends whose live-entry count collapsed (the
  * folds) — the numbers behind SCALE.md's stall table and the
  * documented deployment escape (threshold 0 + scheduled compact()
  * between triggers at a quiesce point).
  *
  * Usage: `graft.CompactionProbe <sfDir> [threshold] [appends]`
  * (run alone on a rested box, like every measurement main here). */
object CompactionProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CompactionProbe <sfDir> [threshold] [appends]")
    val dir = args(0)
    val threshold = if (args.length > 1) args(1).toInt else 8
    val appends = if (args.length > 2) args(2).toInt else 16
    val spark = engine.GraftSession.local("graft-compactprobe")
    val docs = sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val state = streaming.DurableIndex.temp(spark, "compactprobe", "doc_id",
      autoCompactEntries = threshold)
    try {
      // seed: 80% of the corpus pre-indexed (the deployment shape —
      // the index is big, each trigger is small)
      state.seed(pipeline.Scoring.tfdOf(docs.filter(col("doc_id") % 10 < 8)))
      val tail = engine.Iterate.measured(docs.filter(col("doc_id") % 10 >= 8)
        .withColumn("__b", pmod(col("doc_id"), lit(appends.toLong))))
      spark.read.parquet(s"$dir/nation.parquet").count() // session warm-up
      System.gc(); Thread.sleep(1000)
      var prevLive = state.committedSeqs().size
      (0 until appends).foreach { i =>
        val b = tail.filter(col("__b") === i).drop("__b")
        val t0 = System.nanoTime()
        state.append(i.toLong, b.select(col("doc_id")),
          pipeline.Scoring.tfdOf(b))
        val sec = (System.nanoTime() - t0) / 1e9
        val live = state.committedSeqs().size
        val folded = live < prevLive + 1
        prevLive = live
        val rows = b.count()
        println(f"[compactprobe] append=$i%2d rows=$rows%6d " +
          f"wall=$sec%6.2f s live=$live%2d${if (folded) "  <-- FOLDED" else ""}")
      }
      // the isolated fold cost at final index size, for comparison
      System.gc(); Thread.sleep(1000)
      val t0 = System.nanoTime()
      state.compact()
      println(f"[compactprobe] final explicit compact: " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s " +
        f"(index rows=${state.current().count()})")
    } finally state.delete()
    spark.stop()
  }
}
