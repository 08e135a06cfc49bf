package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the bench walk: the driver's log capture keeps
  * only the last ~2000 chars of stdout, so the line must always fit
  * and the compact qNN keys must never collide; the walk order and
  * the per-query watchdog decide which rows get measured. */
class BenchSpec extends AnyFunSuite with SparkSpec {

  test("short metric keys are unique across the whole query registry") {
    val names = SparkEntry.queries.keys.toSeq
    val shorts = names.map(Bench.shortKey)
    assert(shorts.distinct.size == names.size,
      s"colliding qNN prefixes: ${shorts.groupBy(identity).filter(_._2.size > 1).keys}")
    assert(shorts.forall(_.matches("q\\d+")), "every query name must start qNN_")
  }

  test("metric line fits the tail-capture budget even with worst-case values") {
    // worst case: every query slow — still must leave headroom for
    // sbt's trailing [success] line (~80 chars observed) inside the
    // ~2000-char tail window; values >= 100s drop their (noise)
    // centiseconds, 10-100s keep one decimal
    // worst case: every query at fmt's widest rendering (99.99 ->
    // "100.0", 5 chars). The line must NEVER exceed the tail budget:
    // past LineBudget the fastest queries fold into an "others"
    // count+total while every slow/crashed query stays individual.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val worst = names.map(_ -> 99.99)
    val line = Bench.jsonLine(worst, "/root/testdata/sf0.1")
    assert(line.length <= Bench.LineBudget,
      s"metric line ${line.length} chars — budget enforcement broken")
    // truncation keeps a summary whose count covers what was dropped
    if (line.contains(""""others"""")) {
      val n = """"others":\{"n":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
      assert(n > 0 && n < names.size)
    }
    // mixed timings: the SLOW queries always survive truncation
    val mixed = names.zipWithIndex.map { case (nm, i) =>
      nm -> (if (i % 20 == 0) 50.0 else 0.05)
    }
    val mline = Bench.jsonLine(mixed, "/x")
    assert(mline.length <= Bench.LineBudget)
    mixed.filter(_._2 == 50.0).foreach { case (nm, _) =>
      assert(mline.contains("\"" + Bench.shortKey(nm) + "\":50.0"), nm)
    }
    val secs = Bench.jsonLine(Seq("q01_x" -> 999.99), "/x")
    assert(secs.contains(""""q01":1000"""), "slow queries render without decimals")
    // past 1000 s the value degrades to magnitude-only e-notation --
    // still valid JSON, never more than 11 chars per entry
    val absurd = Bench.jsonLine(Seq("q01_x" -> 99999.99), "/x")
    assert(absurd.contains(""""q01":1e+05"""), absurd)
    assert(line.startsWith("""{"metric":"total"""") && line.endsWith("}"))
    // crashed queries (-1) must not corrupt the JSON shape
    val withCrash = Bench.jsonLine(Seq("q01_x" -> -1.0, "q02_y" -> 1.5), "/x")
    assert(withCrash.contains(""""q01":-1.00""") && withCrash.contains(""""q02":1.50"""))
    // the total excludes crashed queries, and the crash is COUNTED in
    // the headline so cross-round total compares can't misread
    // "queries crashed" as "got faster"
    assert(withCrash.contains(""""value":1.50""") && withCrash.contains(""""failed":1"""))
    assert(line.contains(""""failed":0"""))
    // deadline-guard truncation must be visible in the headline (a
    // truncated run must never read as a speedup) and absent otherwise
    val part = Bench.jsonLine(Seq("q01_x" -> 1.0), "/x", skipped = 7)
    assert(part.contains(""""skipped":7"""), part)
    assert(!withCrash.contains("skipped"))
    // the artifact must say WHICH rows were skipped (r15 verdict #4:
    // the identities lived only on a truncated stderr line)
    val named = Bench.jsonLine(Seq("q01_x" -> 1.0), "/x", skipped = 2,
      skippedq = Seq("q62", "q191"))
    assert(named.contains(""""skippedq":["q62","q191"]"""), named)
    // a pathological skip list degrades to the cap, count stays honest
    val many = Bench.jsonLine(Seq("q01_x" -> 1.0), "/x", skipped = 100,
      skippedq = (1 to 100).map(i => s"q$i"))
    assert(many.contains(""""skipped":100"""), many)
    assert(many.count(_ == '[') == 1 &&
      many.split("\"skippedq\":\\[")(1).takeWhile(_ != ']')
        .count(_ == ',') == Bench.SkipListCap - 1, many)
  }

  test("budget walk order: refs, then cheapest-first with no-prior rows at the median") {
    val refs = Seq("q22_matmul", "q23_kmeans", "q25_dft", "q24_logreg",
      "q21_iot", "q26_pi", "q27_vadd")
    val rest = Seq("q125_hits", "q01_cheap", "q50_mid", "q99_new", "q07_tie")
    // listed out of RefBenchmarks order: the refs still lead in it
    val names = refs.reverse ++ rest
    val prior = Map("q125_hits" -> 98.0, "q01_cheap" -> 0.2, "q50_mid" -> 1.0,
      "q07_tie" -> 0.5, "q22_matmul" -> 0.3, "q23_kmeans" -> 1.5,
      "q25_dft" -> 0.4, "q24_logreg" -> 1.2, "q21_iot" -> 0.5,
      "q26_pi" -> 0.2, "q27_vadd" -> 0.2)
    val order = Bench.orderForBudget(names, prior)
    // the seven reference analogues lead, so a budget-truncated walk
    // never ships an empty "ref" sub-map
    assert(order.take(7) == refs, order.take(7))
    // the median of the eleven priors is 0.5: q99_new (no prior) walks
    // at 0.5 and the name breaks its tie with q07_tie; the priciest
    // row walks last, so it is the first one a tight budget skips
    assert(order.drop(7) == Seq("q01_cheap", "q07_tie", "q99_new", "q50_mid",
      "q125_hits"), order.drop(7))
    // with no prior at all, the rows after the refs walk in name order
    val bare = Bench.orderForBudget(names, Map.empty)
    assert(bare.take(7) == refs)
    assert(bare.drop(7) == rest.sorted)
    // every name survives the reorder exactly once
    assert(order.sorted == names.sorted && bare.sorted == names.sorted)
  }

  test("runWithWatchdog: a crash is -1, a hang is cancelled in time, a normal run is timed") {
    val crash = Bench.runWithWatchdog(spark, "spec-crash",
      (_, _) => throw new RuntimeException("boom"), sf, 30.0)
    assert(crash == Bench.WatchdogOutcome.Done(-1.0), crash)
    // one task that sleeps in a UDF long past the deadline; the
    // filter keeps the UDF in the plan under count()
    val sleepy = udf { (id: Long) => Thread.sleep(60000); id >= 0 }
    val t0 = System.nanoTime()
    val hung = Bench.runWithWatchdog(spark, "spec-hang",
      (s, _) => s.range(0, 1, 1, 1).filter(sleepy(col("id"))).toDF(), sf, 2.0)
    val waited = (System.nanoTime() - t0) / 1e9
    // None: the job-group cancel landed inside the grace loop, so no
    // zombie is left for settleZombie
    assert(hung == Bench.WatchdogOutcome.TimedOut(None), hung)
    assert(waited < 12.0, s"watchdog returned after $waited s")
    // the session is usable after the cancel
    assert(spark.range(10).count() == 10)
    Bench.runWithWatchdog(spark, "spec-ok", (s, _) => s.range(100).toDF(), sf, 30.0) match {
      case Bench.WatchdogOutcome.Done(t) => assert(t >= 0.0, t)
      case other => fail(s"expected Done, got $other")
    }
  }

  test("prior sidecar parse tolerates crashes and junk, keyed by full name") {
    val f = java.nio.file.Files.createTempFile("bench", ".json")
    java.nio.file.Files.writeString(f,
      """{"sf": "/x", "runs": 2, "queries": {
        |  "q01_alpha": 1.519,
        |  "q02_crashed": -1.000,
        |  "q125_hits": 98.065
        |}}""".stripMargin)
    val prior = try Bench.readPriorSidecar(f.toString)
      finally java.nio.file.Files.deleteIfExists(f)
    // the crashed row (-1) is dropped: a crash is not a cost estimate
    assert(prior == Map("q01_alpha" -> 1.519, "q125_hits" -> 98.065))
    // missing file → empty map, no throw
    assert(Bench.readPriorSidecar("/nonexistent/nope.json").isEmpty)
  }

  test("median of odd/even/empty sequences") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Bench.median(Nil) == 0.0)
  }

  test("non-default runs setting is visible in the metric line") {
    val two = Bench.jsonLine(Seq("q01_x" -> 1.0), "/x", runs = 2)
    assert(two.contains(""""runs":2"""), two)
    val one = Bench.jsonLine(Seq("q01_x" -> 1.0), "/x", runs = 1)
    assert(!one.contains("runs"), one)
  }

  test("overflow fold keeps every crash individual, never in 'others'") {
    // enough queries that the line MUST fold, with one crash buried
    // among the fastest values — the crash must survive the fold
    // (review finding: +MaxValue sorted crashes into the dropped
    // suffix, the exact inversion of the stated intent)
    val many = (1 to 400).map(i => f"q$i%03d_x" -> 0.05) :+ ("q999_dead" -> -1.0)
    val line = Bench.jsonLine(many, "/x")
    assert(line.length <= Bench.LineBudget)
    assert(line.contains(""""q999":-1.00"""), line.takeRight(300))
    assert(line.contains(""""others""""), "fixture must actually overflow")
  }

  test("prior sidecar is ignored when its recorded sf differs") {
    val f = java.nio.file.Files.createTempFile("bench_sf", ".json")
    java.nio.file.Files.writeString(f,
      """{"sf": "/tmp/graft_sf1", "queries": { "q01_alpha": 15.0 }}""")
    try {
      assert(Bench.readPriorSidecar(f.toString,
        expectSf = "/root/testdata/sf0.1").isEmpty,
        "cross-sf priors would predict 10x real cost and starve admission")
      assert(Bench.readPriorSidecar(f.toString,
        expectSf = "/tmp/graft_sf1") == Map("q01_alpha" -> 15.0))
      assert(Bench.readPriorSidecar(f.toString) == Map("q01_alpha" -> 15.0),
        "no expectation -> accept (local tooling)")
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("every reference benchmark maps to a registered query") {
    val shorts = SparkEntry.queries.keys.map(Bench.shortKey).toSet
    Bench.RefBenchmarks.foreach { case (name, q) =>
      assert(shorts.contains(q), s"ref benchmark $name maps to missing query $q")
    }
    val line = Bench.jsonLine(SparkEntry.queries.keys.toSeq.sorted.map(_ -> 1.0), "/x")
    assert(line.contains(""""ref":{"matmul":1.00"""))
  }
}
