package graft
/** Benchmark main: the driver-protocol walk over the whole registry.
  *
  * Contract:
  *  - exactly one compact JSON line on stdout (Spark logs and full
  *    per-query detail go to stderr). The driver's log capture keeps
  *    only the last ~2000 chars of stdout, so the line stays inside
  *    [[LineBudget]] by folding the fastest rows into "others";
  *  - a measured-time budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default
  *    240 s). A partial but parsed line always beats a walk the
  *    driver kills before it prints anything;
  *  - each row is its wall time, min over SPARK_GRAFT_BENCH_RUNS runs
  *    (default 1), -1 for a crash or a budget expiry, and absent from
  *    "queries" (named in "skippedq") when admission skipped it.
  *
  * Order: the seven reference analogues first (the "ref" sub-map is
  * never empty), then cheapest-first by the prior sidecar
  * (SPARK_GRAFT_BENCH_FULL, default BENCH_FULL.json; rows without a
  * prior at the median). Under budget pressure the rows skipped are
  * then the costliest ones, and the fewest rows are lost. A name-ordered
  * walk would spend the budget on whichever expensive family sorts
  * early. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine's tuned session (AQE, broadcast threshold, Kryo…)
    // IS part of the engine — bench with it, not Spark defaults
    val spark = graft.engine.GraftSession.local("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val load0 = loadAvg()
    // runs >= 2 is for the sidecar regeneration: min-of-N hides the
    // cold first run (codegen, JIT, checkpoints), so the line and the
    // sidecar record the setting whenever it differs from 1
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption).getOrElse(1))
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(_.toIntOption).getOrElse(240)
    // the clock starts BEFORE any warm-up: warm-up time on a loaded
    // box must eat visible budget (graceful skips), never the driver's
    // window outside it (a kill with no metric line)
    val benchStart = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - benchStart) / 1e9
    var deadlineBlown = false
    // A timed-out run that would not cancel keeps executing in the
    // shared JVM and inflates every later measurement: block until it
    // settles or the budget runs out, re-issuing the cancel and stream
    // stop every second (superstep and streaming zombies launch
    // successor jobs). `what` names the job group, as in runWithWatchdog.
    def settleZombie(leftover: Option[scala.concurrent.Future[Boolean]],
        what: String): Unit = leftover.foreach { fut =>
      val wait = math.max(1.0, budgetSec - elapsed())
      System.err.println(
        f"[bench] waiting up to $wait%.0f s for $what zombie to settle")
      val stop = System.nanoTime() + (wait * 1e9).toLong
      while (!fut.isCompleted && System.nanoTime() < stop) {
        spark.sparkContext.cancelJobGroup(s"bench-$what")
        try spark.streams.active.foreach(_.stop())
        catch { case scala.util.control.NonFatal(_) => () }
        try {
          scala.concurrent.Await.ready(fut, scala.concurrent.duration
            .Duration(1, java.util.concurrent.TimeUnit.SECONDS)); ()
        } catch { case _: concurrent.TimeoutException => () }
      }
      if (!fut.isCompleted) {
        System.err.println(
          s"[bench] $what zombie did not settle; deadline blown")
        deadlineBlown = true
      }
    }
    // every run is guarded: a hung warm-up or query would otherwise
    // hold the walk past the driver's window with no metric line
    def guarded(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame,
        deadline: Double): WatchdogOutcome = {
      val out = runWithWatchdog(spark, name, fn, sfDir, deadline)
      out match {
        case WatchdogOutcome.TimedOut(leftover) => settleZombie(leftover, name)
        case _ => ()
      }
      out
    }
    val prior = readPriorSidecar(expectSf = sfDir)
    val ordered = orderForBudget(SparkEntry.queries.keys.toSeq, prior)
    val byName = SparkEntry.queries
    // Warm-ups, untimed but inside the budget. The scan pass takes the
    // JVM and parquet-reader startup off the first measured row. The
    // machinery pass covers what a scan misses: the streaming
    // micro-batch path, Iterate.measured, the parquet write path
    // and the window/join codegen shapes; without it the first row of
    // each family pays that machinery's first use.
    guarded("session warm-up",
      (s, d) => s.read.parquet(s"$d/nation.parquet").groupBy("n_regionkey").count(),
      math.max(5.0, budgetSec * 0.1))
    guarded("machinery warm-up", machineryWarm, math.max(5.0, budgetSec * 0.1))
    // The refs walk first, so a cold first position would charge them
    // the JVM's early JIT (measured 5-9x: matmul 0.25 s warm, 2.3 s
    // cold-first). Warm each one once, inside a 35%-of-budget slice.
    val warmCap = budgetSec * 0.35
    ordered.filter(n => refQueryShorts.contains(shortKey(n))).foreach { name =>
      val left = warmCap - elapsed()
      if (left > 1.0) guarded(s"$name (warm-up)", byName(name), left)
    }
    // a crashed or cancelled warm-up must not leak pinned working
    // sets into the measured refs
    graft.engine.SessionCache.sweepBetweenQueries(spark)
    // Admission scales each prior by the walk's running median of
    // measured/prior (lower clamp 0.25, so it learns down as well as
    // up): the sidecar's warm min-of-2 priors under-predict a cold
    // walk, and unscaled they admit a row that then runs into the
    // budget and ends the walk on a -1 (q124 on a 4-core sf0.1 walk).
    val ratios = scala.collection.mutable.ArrayBuffer.empty[Double]
    def inflation: Double =
      if (ratios.isEmpty) 1.0
      else math.min(20.0, math.max(0.25, median(ratios.toSeq)))
    val medianPrior = if (prior.isEmpty) 1.0 else median(prior.values.toSeq)
    def predicted(name: String): Double =
      prior.getOrElse(name, medianPrior) * inflation * runs
    var skipped = List.empty[String]
    val results = ordered.flatMap { name =>
      // a SIGTERM runs Spark's shutdown hook concurrently with the
      // walk; every later row would then crash in milliseconds
      if (spark.sparkContext.isStopped && !deadlineBlown) {
        System.err.println("[bench] SparkContext stopped underneath the walk; aborting")
        deadlineBlown = true
      }
      // refs are always admitted: an empty "ref" sub-map is the worst
      // artifact to ship
      val admit = !deadlineBlown && (refQueryShorts.contains(shortKey(name)) ||
        elapsed() + predicted(name) <= budgetSec)
      if (!admit) { skipped ::= name; None } else Some {
        // the deadline is the budget left at each run's start, so a
        // timed-out run blows the walk's deadline and ends it
        val times = (1 to runs).map { _ =>
          if (deadlineBlown) -1.0
          else guarded(name, byName(name), math.max(5.0, budgetSec - elapsed())) match {
            case WatchdogOutcome.Done(t) => t
            case WatchdogOutcome.TimedOut(_) =>
              System.err.println(
                "[bench] deadline blown; remaining queries will be skipped")
              deadlineBlown = true; -1.0
          }
        }
        // full name, every run, full precision: min-of-N alone can't
        // tell a cold first run from genuine cost
        System.err.println("[bench-runs] " + name + " " +
          times.zipWithIndex.map { case (t, i) => f"run${i + 1}=$t%.3f" }.mkString(" "))
        prior.get(name).foreach { est =>
          val best = times.filter(_ >= 0)
          if (best.nonEmpty && est > 0.05) ratios += best.min / est
        }
        // release what the query pinned so late rows are not taxed
        // for early rows' caches (a no-op when nothing was pinned)
        graft.engine.SessionCache.sweepBetweenQueries(spark)
        name -> (if (times.exists(_ < 0)) -1.0 else times.min)
      }
    }
    if (skipped.nonEmpty) System.err.println(
      s"[bench] budget ${budgetSec}s exhausted; skipped ${skipped.size}: " +
        skipped.reverse.map(shortKey).mkString(","))
    println(jsonLine(results, sfDir, loadTag(load0, loadAvg()),
      skipped.size, runs, skipped.reverse.map(shortKey)))
    // The stdout line folds fast rows into "others"; the sidecar keeps
    // every row at full precision. A walk whose context died must not
    // overwrite it: its -1 rows are shutdown artifacts.
    if (!spark.sparkContext.isStopped) writeFull(results, sfDir, skipped.size, runs)
    spark.stop()
  }

  /** Machinery warm-up body over a tiny synthetic frame: one
    * FileDrip micro-batch that writes and re-reads parquet, one
    * `Iterate.measured` frame, and a window + broadcast-join +
    * aggregate plan.
    * Reads nothing from sfDir and caches nothing. */
  def machineryWarm(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val base = graft.engine.Iterate.measured(s.range(0, 512, 1, 4).toDF("id"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_warm")
    try {
      graft.streaming.FileDrip.drive(Seq(base)) { stream =>
        graft.streaming.Streams.toForeachBatch(stream, "bench-machinery-warm") {
          (b, _) =>
            val dir = s"$tmp/w"
            b.limit(64).write.mode("overwrite").parquet(dir)
            s.read.parquet(dir).count(); ()
        }
      }
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("id"))
    base.withColumn("g", pmod(col("id"), lit(8)))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(base.limit(16)), Seq("id"), "left_outer")
      .groupBy(col("g")).agg(sum(col("rn")).as("s"))
  }

  /** Outcome of one watchdog-guarded execution. */
  sealed trait WatchdogOutcome
  object WatchdogOutcome {
    /** Finished inside the deadline; sec = -1.0 for a crash. */
    final case class Done(sec: Double) extends WatchdogOutcome
    /** Deadline fired. `leftover` carries the still-running future
      * when the 10 s cancel grace loop failed to stop the job; the
      * caller must settle it before measuring anything else. */
    final case class TimedOut(
        leftover: Option[scala.concurrent.Future[Boolean]])
      extends WatchdogOutcome
  }

  /** One timed execution under a hard deadline. Runs the query on a
    * watchdog thread inside its own job group; if the deadline
    * passes, the group is cancelled (repeatedly, because superstep
    * loops keep launching new jobs) and TimedOut is returned with
    * the leftover future when cancellation didn't land. */
  def runWithWatchdog(spark: org.apache.spark.sql.SparkSession,
      name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame,
      sfDir: String, deadlineSec: Double): WatchdogOutcome = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val group = s"bench-$name"
    val t0 = System.nanoTime()
    val fut = Future {
      // interruptOnCancel: kills the executor task threads too, not
      // just the scheduler entries — local[N] shares the JVM
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try { fn(spark, sfDir).count(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name: $e"); false }
      finally spark.sparkContext.clearJobGroup()
    }
    try {
      val ok = Await.result(fut, deadlineSec.seconds)
      WatchdogOutcome.Done(if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    } catch { case _: concurrent.TimeoutException =>
      System.err.println(f"[bench] $name TIMED OUT after $deadlineSec%.0f s; " +
        "cancelling its job group")
      // grace loop: cancel for up to 10 s, because a driver-side loop
      // may launch successor jobs after the first cancel. Streaming
      // jobs run on the stream's own thread outside the job group, so
      // stop the streams too (the walk is sequential: every active
      // stream belongs to the timed-out query).
      var waited = 0
      while (!fut.isCompleted && waited < 20) {
        spark.sparkContext.cancelJobGroup(group)
        try spark.streams.active.foreach(_.stop())
        catch { case scala.util.control.NonFatal(_) => () }
        Thread.sleep(500); waited += 1
      }
      WatchdogOutcome.TimedOut(if (fut.isCompleted) None else Some(fut))
    }
  }

  /** The committed full sidecar (the flat map writeFull emits), read
    * with a tolerant regex to order the walk and predict admission.
    * Missing or unparseable → empty map: name order, every estimate
    * at the 1.0 default. */
  def readPriorSidecar(path: String =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json"),
      expectSf: String = ""): Map[String, Double] = {
    if (path.isEmpty) return Map.empty
    try {
      val body = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      // an sf1 sidecar seeding an sf0.1 walk would predict ~10x real
      // cost and starve admission — a cross-scale prior is worse than
      // none (bench_diff.py refuses the same comparison)
      val sfRec = """"sf":\s*"([^"]*)"""".r.findFirstMatchIn(body).map(_.group(1))
      if (expectSf.nonEmpty && sfRec.exists(_ != expectSf)) {
        System.err.println(s"[bench] prior sidecar ignored: recorded " +
          s"sf ${sfRec.get} != $expectSf")
        return Map.empty
      }
      val entry = """"(q\d+_\w+)":\s*(-?\d+(?:\.\d+)?)""".r
      entry.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._2 >= 0) // a prior crash is not a cost estimate
        .toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Walk order: the seven reference analogues in [[RefBenchmarks]]
    * order, then everything else ascending by prior cost, rows without
    * a prior at the median, the name breaking ties. */
  def orderForBudget(names: Seq[String], prior: Map[String, Double]): Seq[String] = {
    val byShort = names.map(n => shortKey(n) -> n).toMap
    val refNames = RefBenchmarks.flatMap { case (_, q) => byShort.get(q) }
    val med = if (prior.isEmpty) 1.0 else median(prior.values.toSeq)
    refNames ++ names.filterNot(refNames.toSet)
      .sortBy(n => (prior.getOrElse(n, med), n))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Full-precision per-query sidecar (SPARK_GRAFT_BENCH_FULL, default
    * `BENCH_FULL.json`, empty to disable), written only by a walk that
    * skipped nothing. Best-effort: a read-only working dir must not
    * cost the line. tools/bench_diff.py compares two by hand. */
  def writeFull(results: Seq[(String, Double)], sfDir: String,
      skipped: Int, runs: Int): Unit = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    if (path.isEmpty) return
    if (skipped > 0) {
      System.err.println(s"[bench] sidecar NOT written: $skipped queries skipped")
      return
    }
    try {
      // Locale.ROOT: the same comma-decimal hazard loadTag guards
      val qs = results.sortBy(_._1).map { case (k, v) =>
        "  \"" + k + "\": " + String.format(java.util.Locale.ROOT,
          "%.3f", Double.box(v)) }.mkString("{\n", ",\n", "\n}")
      // escaped: a quoting path must not make the sidecar unparseable
      val sfEsc = sfDir.replace("\\", "\\\\").replace("\"", "\\\"")
      // runs rides the artifact so per-query compares can normalize:
      // min-of-2 hides the 2-4× cold first run
      val body = s"""{"sf": "$sfEsc", "runs": $runs, "queries": $qs}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body + "\n")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] full sidecar write failed: $e") }
  }

  /** 1-minute load average, at walk start and end in the line, so a
    * loaded box is told apart from a regression. Unreadable → omitted. */
  def loadAvg(): Option[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+").headOption.map(_.toDouble)
      finally src.close()
      // NonFatal only: an OOM/interrupt must propagate
    } catch { case scala.util.control.NonFatal(_) => None }

  def loadTag(start: Option[Double], end: Option[Double]): String =
    (start, end) match {
      case (Some(s), Some(e)) =>
        // Locale.ROOT: a comma-decimal default locale would split the
        // JSON array
        String.format(java.util.Locale.ROOT,
          "\"loadavg\":[%.2f,%.2f]", Double.box(s), Double.box(e))
      case _ => ""
    }

  /** The qNN id prefix used as the compact metric key — BenchSpec
    * asserts these stay unique across the registry and that the whole
    * line fits the harness's tail-capture budget. */
  def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** The reference's seven benchmark workloads (BASELINE.md matrix)
    * mapped to their graft query analogues, surfaced as their own
    * sub-map so the baseline comparison needs no cross-referencing. */
  val RefBenchmarks: Seq[(String, String)] = Seq(
    "matmul" -> "q22", "kmeans" -> "q23", "dft" -> "q25", "logreg" -> "q24",
    "iot" -> "q21", "pi" -> "q26", "vadd" -> "q27")

  val refQueryShorts: Set[String] = RefBenchmarks.map(_._2).toSet

  /** Centiseconds below 10 s, deciseconds to 100 s, whole seconds to
    * 1000 s, exponent notation above (a >16-minute single query means
    * the walk is dead anyway — only the magnitude matters). */
  private def fmt(v: Double): String =
    if (v >= 1000) f"$v%.0e" else if (v >= 100) f"$v%.0f"
    else if (v >= 10) f"$v%.1f" else f"$v%.2f"

  /** The harness's log capture holds only the last ~2000 chars of
    * stdout, and ~80 of those go to sbt's trailer — past this budget
    * the line itself gets truncated and nothing parses. */
  val LineBudget = 1880

  /** How many skipped shortKeys ride the line before the list
    * truncates (the count stays whole): stderr is not in the capture,
    * so the line itself names them. 40 names ≈ 280 chars. */
  val SkipListCap = 40

  def jsonLine(results: Seq[(String, Double)], sfDir: String,
      loadavg: String = "", skipped: Int = 0, runs: Int = 1,
      skippedq: Seq[String] = Nil): String = {
    val loadField = (if (loadavg.isEmpty) "" else "," + loadavg) +
      // deadline guard fired: the total covers only the measured
      // prefix — flag it so a compare can't mistake a truncated walk
      // for a speedup
      (if (skipped == 0) "" else s""","skipped":$skipped""") +
      (if (skippedq.isEmpty) "" else
        skippedq.take(SkipListCap)
          .map("\"" + _ + "\"").mkString(""","skippedq":[""", ",", "]")) +
      // non-default runs setting: min-of-N is not comparable to
      // single-run numbers (cold run hidden), so the artifact says so
      (if (runs == 1) "" else s""","runs":$runs""")
    def entry(k: String, v: Double) = "\"" + shortKey(k) + "\":" + fmt(v)
    // per-family wall rollup: where the walk's budget goes, carried in
    // the artifact itself. Measured rows only; a crash (-1) counts in
    // `n` but adds nothing to the total.
    val fam = results.groupBy { case (k, _) => SparkEntry.familyOf(k) }
      .toSeq.sortBy(_._1)
      .map { case (f, rs) =>
        val t = rs.map(_._2).filter(_ >= 0).sum
        s""""$f":{"n":${rs.size},"total":${f"$t%.1f"}}"""
      }.mkString("{", ",", "}")
    def render(qs: Seq[(String, Double)], others: Seq[(String, Double)]): String = {
      val qmap = qs.map((entry _).tupled).mkString("{", ",", "}")
      val byShort = results.map { case (k, v) => shortKey(k) -> v }.toMap
      val ref = RefBenchmarks.flatMap { case (name, q) =>
        byShort.get(q).map(v => "\"" + name + "\":" + fmt(v))
      }.mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      // failed count rides the headline so a total compare can never
      // mistake "13 queries crashed" for "2.5x faster"
      val failed = results.count(_._2 < 0)
      val oth = if (others.isEmpty) "" else {
        val t = others.map(_._2).filter(_ >= 0).sum
        s""","others":{"n":${others.size},"total":${f"$t%.2f"}}"""
      }
      s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec","failed":$failed$loadField,"queries":$qmap$oth,"fam":$fam,"ref":$ref,"sf":"$sfDir"}"""
    }
    val full = render(results.sortBy(_._1), Nil)
    if (full.length <= LineBudget) full
    else {
      // overflow: keep every crash and the slowest rows individual and
      // fold the fastest into one "others" count+total. splitAt keeps
      // the prefix, so crashes sort first (-MaxValue), then slowest to
      // fastest, the key breaking ties.
      val ordered = results.sortBy { case (k, v) =>
        (if (v < 0) -Double.MaxValue else -v, k)
      }
      var keep = ordered.length
      var line = full
      while (line.length > LineBudget && keep > 1) {
        keep -= 1
        val (kept, dropped) = ordered.splitAt(keep)
        line = render(kept.sortBy(_._1), dropped)
      }
      line
    }
  }
}
