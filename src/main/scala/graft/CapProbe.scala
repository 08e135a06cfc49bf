package graft

/** Measurement harness for the MaxBucket governor (SCALE.md): runs
  * the q29 MinHash-LSH pair listing uncapped and at the given caps on
  * one scale dir, printing wall seconds, emitted pairs, and recall vs
  * the uncapped answer — the number behind the "bounded wall under a
  * pair budget" claim for mega-cluster corpora (r13 verdict #4).
  * Capping only DROPS hot buckets, so the capped output is a subset
  * of the uncapped one and the count ratio IS pair recall.
  *
  * Usage: `graft.CapProbe <sfDir> <cap> [cap...]`
  * (run alone on a quiet box, like every measurement main here). */
object CapProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CapProbe <sfDir> <cap> [cap...]")
    val dir = args(0)
    val caps = args.drop(1).map(_.toInt)
    val spark = engine.GraftSession.local("graft-capprobe")
    def timed(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // warm the session so the first measured row isn't charged JVM
    // startup (the Bench warm-up contract)
    spark.read.parquet(s"$dir/nation.parquet").count()
    System.gc(); Thread.sleep(1000)
    val (base, tBase) = timed(pipeline.Dedup.q29MinhashLsh(spark, dir).count())
    println(f"[capprobe] uncapped: pairs=$base wall=$tBase%.1f s")
    caps.foreach { c =>
      System.gc(); Thread.sleep(1000)
      val (n, t) = timed(pipeline.Dedup.q29MinhashLsh(spark, dir, c).count())
      println(f"[capprobe] cap=$c: pairs=$n wall=$t%.1f s " +
        f"recall=${n.toDouble / base}%.4f")
    }
    spark.stop()
  }
}
