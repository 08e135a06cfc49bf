package graft

/** Measurement harness for the q206 ANN-routed hard-negative miner's
  * recall vs the exact q202 scan (SCALE.md): ScoringSpec pins the
  * ≥ 1/2 recall floor at spec scale only, but cell OCCUPANCY shifts
  * with the corpus (a replica corpus re-shapes the IVF histogram), so
  * the floor is re-measured at each rehearsal scale and the number —
  * not the assertion — goes in SCALE.md next to the q61 family's
  * envelope (r14 verdict #7).
  *
  * Usage: `graft.RecallProbe <sfDir> [sfDir...]`
  * (run alone on a quiet box, like every measurement main here). */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallProbe <sfDir> [sfDir...]")
    val spark = engine.GraftSession.local("graft-recallprobe")
    args.foreach { dir =>
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Int, Long)] =
        df.collect().map(r => (r.getInt(0), r.getLong(2))).toSet
      val t0 = System.nanoTime()
      val exact = pairs(pipeline.Scoring.q202HardNegatives(spark, dir))
      val t1 = System.nanoTime()
      val routed = pairs(pipeline.Scoring.q206HardNegativesRouted(spark, dir))
      val t2 = System.nanoTime()
      val hits = routed.intersect(exact).size
      println(f"[recallprobe] $dir: exact=${exact.size} routed=${routed.size} " +
        f"hits=$hits recall=${hits.toDouble / exact.size}%.4f " +
        f"(exact ${(t1 - t0) / 1e9}%.1f s, routed ${(t2 - t1) / 1e9}%.1f s)")
      engine.SessionCache.sweepBetweenQueries(spark)
    }
    spark.stop()
  }
}
