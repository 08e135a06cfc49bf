package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Patterns

/** CEP pattern matcher: unit semantics of the earliest-chain fold,
  * guard behaviour, and equivalence of the flatMapGroups driver with
  * a declarative three-step min-chain plan on the real events table
  * (the same derivation the DuckDB oracle states in SQL). */
class PatternsSpec extends AnyFunSuite with SparkSpec {

  test("earliestChain takes the earliest match of each step strictly after the previous") {
    val evs = Seq(
      (10L, "view"), (12L, "click"), (11L, "view"), (15L, "purchase"),
      (13L, "click"), (14L, "view"))
    val got = Patterns.earliestChain(IndexedSeq("view", "click", "purchase"), evs.iterator)
    assert(got.contains(IndexedSeq(10L, 12L, 15L)))
  }

  test("earliestChain is order-insensitive and strict on ties") {
    val evs = Seq((10L, "view"), (10L, "click"), (11L, "click"), (12L, "purchase"))
    // click at t=10 is NOT after the view at t=10 — strict ordering
    for (perm <- evs.permutations.take(24)) {
      val got = Patterns.earliestChain(IndexedSeq("view", "click", "purchase"), perm.iterator)
      assert(got.contains(IndexedSeq(10L, 11L, 12L)), s"perm $perm")
    }
    assert(Patterns.earliestChain(IndexedSeq("view", "click"),
      Seq((10L, "click"), (11L, "view")).iterator).isEmpty)
  }

  test("repeated-tag steps consume distinct events") {
    val evs = Seq((10L, "click"), (11L, "click"))
    val got = Patterns.earliestChain(IndexedSeq("click", "click"), evs.iterator)
    assert(got.contains(IndexedSeq(10L, 11L)))
    assert(Patterns.earliestChain(IndexedSeq("click", "click"),
      Seq((10L, "click"), (10L, "click")).iterator).isEmpty,
      "same-time duplicates cannot chain under strict ordering")
  }

  test("spanClear guard excludes only strictly-interior events") {
    val evs = Seq((10L, "error"), (15L, "error"), (20L, "error"))
    assert(Patterns.spanClear("error", 10L, 15L, evs.filter(_._1 != 15L).filter(_._1 != 10L)))
    assert(!Patterns.spanClear("error", 10L, 20L, evs))
    assert(Patterns.spanClear("error", 15L, 15L, Seq((15L, "error"))),
      "boundary events are outside the open interval")
  }

  test("q116 funnel equals the declarative min-chain plan on real events") {
    import org.apache.spark.sql.DataFrame
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
    def step(prev: DataFrame, tag: String, tPrev: String, tOut: String): DataFrame =
      ev.filter(col("event_type") === tag)
        .join(prev.select(col("user_id"), col(tPrev)), Seq("user_id"))
        .filter(col("t_us") > col(tPrev))
        .groupBy(col("user_id"))
        .agg(min(col("t_us")).as(tOut))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t_us")).as("t1_us"))
    val c = step(v, "click", "t1_us", "t2_us")
    val p = step(c, "purchase", "t2_us", "t3_us")
    val declarative = v.join(c, Seq("user_id")).join(p, Seq("user_id"))
      .select("user_id", "t1_us", "t2_us", "t3_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val nfa = graft.operators.Patterns.q116Funnel(spark, sf)
      .select("user_id", "t1_us", "t2_us", "t3_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(nfa == declarative && nfa.nonEmpty)
  }

  test("earliestChain equals the recursive min-chain definition on random event sets") {
    val rng = new scala.util.Random(7)
    val tags = IndexedSeq("a", "b", "c")
    def brute(steps: IndexedSeq[String], evs: Seq[(Long, String)]): Option[IndexedSeq[Long]] =
      steps.foldLeft(Option(IndexedSeq.empty[Long])) {
        case (Some(acc), tag) =>
          val cands = evs.filter(e => e._2 == tag && (acc.isEmpty || e._1 > acc.last))
          if (cands.isEmpty) None else Some(acc :+ cands.map(_._1).min)
        case (None, _) => None
      }
    (1 to 200).foreach { i =>
      val n = 1 + rng.nextInt(12)
      val evs = Seq.fill(n)((rng.nextInt(8).toLong, tags(rng.nextInt(3))))
      val steps = IndexedSeq.fill(1 + rng.nextInt(3))(tags(rng.nextInt(3)))
      val got = Patterns.earliestChain(steps, evs.iterator)
      assert(got == brute(steps, evs), s"case $i: steps=$steps evs=$evs")
    }
  }

  test("earliestWithin equals brute-force enumeration and degrades to earliestChain at T=inf") {
    val rng = new scala.util.Random(23)
    val tags = IndexedSeq("a", "b", "c")
    def bruteWithin(steps: IndexedSeq[String], t: Long,
        evs: Seq[(Long, String)]): Option[IndexedSeq[Long]] = {
      // enumerate every strictly-increasing tag-matching chain, keep
      // those inside the window, pick earliest completion then the
      // lexicographic minimum (what greedy-forward must produce)
      def chains(i: Int, prev: Long): Seq[List[Long]] =
        if (i == steps.length) Seq(Nil)
        else evs.filter(e => e._2 == steps(i) && e._1 > prev).distinct
          .flatMap(e => chains(i + 1, e._1).map(e._1 :: _))
      val valid = chains(0, Long.MinValue).filter(c => c.last - c.head <= t)
      if (valid.isEmpty) None
      else {
        val t3 = valid.map(_.last).min
        implicit val ord: Ordering[List[Long]] = Ordering.Implicits.seqOrdering
        Some(valid.filter(_.last == t3).min.toIndexedSeq)
      }
    }
    (1 to 150).foreach { i =>
      val n = 1 + rng.nextInt(10)
      val evs = Seq.fill(n)((rng.nextInt(20).toLong, tags(rng.nextInt(3))))
      val steps = IndexedSeq("a", tags(rng.nextInt(3)), "c").take(2 + rng.nextInt(2))
      val t = 3L + rng.nextInt(10)
      val got = Patterns.earliestWithin(steps, t, evs.iterator)
      val want = bruteWithin(steps, t, evs)
      assert(got == want, s"case $i: steps=$steps T=$t evs=$evs got=$got want=$want")
      // at T covering the whole span, within == the unconstrained chain
      val free = Patterns.earliestWithin(steps, 1000L, evs.iterator)
      val chain = Patterns.earliestChain(steps, evs.iterator)
      assert(free.map(_.last).forall(l => chain.isDefined),
        s"case $i: within-inf found a chain earliestChain missed")
      assert(chain.isEmpty || free.isDefined,
        s"case $i: earliestChain found a chain within-inf missed")
    }
  }

  test("streaming matcher over ordered batches equals the graded batch funnel") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map { case (u, t, tag) => Patterns.PEvent(u, t, tag) }
      .sortBy(_.t_us)
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchChainStream(ms.toDS(), IndexedSeq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("cep").outputMode(OutputMode.Append()).start()
    // three event-time-ordered batches with boundaries mid-stream
    evs.grouped(math.max(1, evs.length / 3)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cep").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    val batch = Patterns.q116Funnel(spark, sf).collect()
      .map(r => (r.getLong(0), List(r.getLong(1), r.getLong(2), r.getLong(3)))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming guard suppresses error-spanned matches like the batch q117") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map { case (u, t, tag) => Patterns.PEvent(u, t, tag) }
      .sortBy(_.t_us)
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchChainStream(ms.toDS(), IndexedSeq("view", "click", "purchase"),
        guard = Some("error"))
      .writeStream.format("memory").queryName("cepg").outputMode(OutputMode.Append()).start()
    evs.grouped(math.max(1, evs.length / 4)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cepg").collect().map(_.getLong(0)).toSet
    val batch = Patterns.q117FunnelGuard(spark, sf).collect().map(_.getLong(0)).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming within-matcher over ordered batches equals the graded q120") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map { case (u, t, tag) => Patterns.PEvent(u, t, tag) }
      .sortBy(_.t_us)
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchWithinStream(ms.toDS(),
        IndexedSeq("view", "click", "purchase"), Patterns.WithinUs)
      .writeStream.format("memory").queryName("cepw").outputMode(OutputMode.Append()).start()
    evs.grouped(math.max(1, evs.length / 5)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cepw").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    val batch = Patterns.q120FunnelWithin(spark, sf).collect()
      .map(r => (r.getLong(0), List(r.getLong(1), r.getLong(2), r.getLong(3)))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming chain state expires done-key tombstones after the idle horizon") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val base = 1704067200000000L // 2024-01-01 UTC, micros
    val hour = 3600L * 1000000L
    val idle = 24L * hour
    // keys 1..5 complete the funnel; key 6 stays partial forever; key
    // 7 never matches step one and so holds no state at all
    val b1 = (1L to 5L).flatMap(k => Seq(
      Patterns.PEvent(k, base + k, "view"),
      Patterns.PEvent(k, base + hour + k, "click"),
      Patterns.PEvent(k, base + 2 * hour + k, "purchase"))) ++ Seq(
      Patterns.PEvent(6L, base + 3, "view"),
      Patterns.PEvent(7L, base + 4, "purchase"))
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchChainStream(ms.toDS(), IndexedSeq("view", "click", "purchase"),
        idleExpiryUs = idle)
      .writeStream.format("memory").queryName("cepx").outputMode(OutputMode.Append()).start()
    ms.addData(b1); q.processAllAvailable()
    def stateRows(): Long = q.lastProgress.stateOperators.head.numRowsTotal
    assert(spark.table("cepx").count() == 5)
    assert(stateRows() == 6, "5 tombstones + 1 partial expected")
    // sentinel events far past lastSeen + idle: the first advances the
    // watermark, the second runs the batch in which timeouts fire
    ms.addData(Patterns.PEvent(100L, base + 5 * idle, "view")); q.processAllAvailable()
    ms.addData(Patterns.PEvent(100L, base + 6 * idle, "view")); q.processAllAvailable()
    val after = stateRows()
    val emitted = spark.table("cepx").count()
    q.stop()
    // tombstones 1..5 expired; partials (key 6, key 100) survive — the
    // chain matcher keeps partial chains while the key lives
    assert(after == 2, s"done tombstones not expired: after=$after")
    assert(emitted == 5, "expiry changed the emitted matches")
  }

  test("streaming within state expires dead buffers at max(buffered)+within") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val base = 1704067200000000L
    val hour = 3600L * 1000000L
    val within = 6L * hour
    val idle = 24L * hour
    // keys 1..3 complete inside the window; key 4 buffers a lone view
    val b1 = (1L to 3L).flatMap(k => Seq(
      Patterns.PEvent(k, base + k, "view"),
      Patterns.PEvent(k, base + hour + k, "click"),
      Patterns.PEvent(k, base + 2 * hour + k, "purchase"))) :+
      Patterns.PEvent(4L, base + 7, "view")
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchWithinStream(ms.toDS(),
        IndexedSeq("view", "click", "purchase"), within, idleExpiryUs = idle)
      .writeStream.format("memory").queryName("cepwx").outputMode(OutputMode.Append()).start()
    ms.addData(b1); q.processAllAvailable()
    def stateRows(): Long = q.lastProgress.stateOperators.head.numRowsTotal
    assert(spark.table("cepwx").count() == 3)
    assert(stateRows() == 4, "3 tombstones + 1 live buffer expected")
    // first sentinel pushes the watermark past key 4's buffer horizon
    // (base + within) but NOT past the tombstones' idle horizon —
    // key 4's dead buffer must go while tombstones stay
    ms.addData(Patterns.PEvent(100L, base + within + 2 * hour, "view")); q.processAllAvailable()
    ms.addData(Patterns.PEvent(100L, base + within + 3 * hour, "view")); q.processAllAvailable()
    val mid = stateRows()
    assert(mid == 4, s"buffer-only expiry wrong: mid=$mid (3 tombstones + sentinel buffer)")
    // now push past lastSeen + idle for keys 1..3: tombstones expire
    ms.addData(Patterns.PEvent(100L, base + 3 * idle, "view")); q.processAllAvailable()
    ms.addData(Patterns.PEvent(100L, base + 4 * idle, "view")); q.processAllAvailable()
    val after = stateRows()
    val emitted = spark.table("cepwx").count()
    q.stop()
    assert(after == 1, s"tombstones not expired: after=$after (only the sentinel buffer should remain)")
    assert(emitted == 3, "expiry changed the emitted matches")
  }

  test("keys that never match step one hold no state in the skip-past-last, quantified and group-loop twins") {
    import spark.implicits._
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Patterns.QStep
    implicit val ctx = spark.sqlContext
    val base = 1704067200000000L // 2024-01-01 UTC, micros
    val hour = 3600L * 1000000L
    // three keys whose events never match step one of any twin below
    val evs = (1L to 3L).flatMap(k => Seq(
      Patterns.PEvent(k, base + k, "purchase"),
      Patterns.PEvent(k, base + hour + k, "error"),
      Patterns.PEvent(k, base + 2 * hour + k, "purchase")))
    val funnel = IndexedSeq("view", "click", "purchase")
    val twins: Seq[(String, Dataset[Patterns.PEvent] => Dataset[_])] = Seq(
      "cepnm_all" -> (Patterns.matchChainStreamAll(_, funnel, Patterns.SkipMax)),
      "cepnm_quant" -> (Patterns.matchQuantStream(_, IndexedSeq(QStep.once("view"),
        QStep.timesOrMore("click", 2), QStep.once("purchase")))),
      "cepnm_group" -> (Patterns.matchGroupLoopStream(_, IndexedSeq("view", "click"), "purchase")))
    twins.foreach { case (name, twin) =>
      val ms = MemoryStream[Patterns.PEvent]
      val q = twin(ms.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      ms.addData(evs); q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      q.stop()
      assert(spark.table(name).count() == 0, s"$name emitted a match")
      assert(stateRows == 0, s"$name holds $stateRows state rows for never-matching keys")
    }
  }

  test("earliestQuantChain equals brute-force enumeration on random quantified chains") {
    import graft.operators.Patterns.QStep
    val rng = new scala.util.Random(41)
    val tags = IndexedSeq("a", "b", "c")
    // brute force: a step (tag, k) can complete at any tag time t with
    // >= k distinct tag times in (prev, t]; enumerate every chain and
    // take the lexicographic minimum of the completion vectors
    def bruteComps(steps: Seq[(String, Int)], evs: Seq[(Long, String)]): Option[Seq[Long]] = {
      def options(tag: String, k: Int, prev: Long): Seq[Long] = {
        val ts = evs.filter(e => e._2 == tag && e._1 > prev).map(_._1).distinct.sorted
        ts.zipWithIndex.collect { case (t, i) if i >= k - 1 => t }
      }
      def go(i: Int, prev: Long): Seq[List[Long]] =
        if (i == steps.length) Seq(Nil)
        else options(steps(i)._1, steps(i)._2, prev)
          .flatMap(t => go(i + 1, t).map(t :: _))
      val all = go(0, Long.MinValue)
      implicit val ord: Ordering[List[Long]] = Ordering.Implicits.seqOrdering
      if (all.isEmpty) None else Some(all.min)
    }
    (1 to 300).foreach { i =>
      val n = 1 + rng.nextInt(14)
      val evs = Seq.fill(n)((rng.nextInt(10).toLong, tags(rng.nextInt(3))))
      val nSteps = 1 + rng.nextInt(3)
      val raw = IndexedSeq.fill(nSteps)((tags(rng.nextInt(3)), 1 + rng.nextInt(3)))
      val steps = raw.map { case (t, k) =>
        if (k == 1) QStep.once(t) else QStep.timesOrMore(t, k)
      }
      val got = graft.operators.Patterns.earliestQuantChain(steps, evs.iterator)
      val want = bruteComps(raw, evs)
      assert(got.map(_.map(_._1)) == want.map(_.toIndexedSeq),
        s"case $i: steps=$raw evs=$evs got=$got want=$want")
      // greedy counts: distinct tag times strictly inside the gap
      got.foreach { m =>
        m.indices.foreach { si =>
          val lo = if (si == 0) Long.MinValue else m(si - 1)._1
          val hi = if (si == m.length - 1) Long.MaxValue else m(si + 1)._1
          val expect =
            if (steps(si).looping)
              evs.filter(e => e._2 == steps(si).tag && e._1 > lo && e._1 < hi)
                .map(_._1).distinct.size
            else 1
          assert(m(si)._2 == expect, s"case $i count[$si]: steps=$raw evs=$evs m=$m")
        }
      }
    }
  }

  test("quantified chain with times=1 everywhere degrades to earliestChain") {
    import graft.operators.Patterns.QStep
    val rng = new scala.util.Random(43)
    val tags = IndexedSeq("a", "b", "c")
    (1 to 100).foreach { i =>
      val evs = Seq.fill(1 + rng.nextInt(12))((rng.nextInt(8).toLong, tags(rng.nextInt(3))))
      val names = IndexedSeq.fill(1 + rng.nextInt(3))(tags(rng.nextInt(3)))
      val quant = graft.operators.Patterns
        .earliestQuantChain(names.map(QStep.once), evs.iterator).map(_.map(_._1))
      val plain = graft.operators.Patterns.earliestChain(names, evs.iterator)
      assert(quant == plain, s"case $i: names=$names evs=$evs")
    }
  }

  test("optional steps report the earliest in-gap event without constraining the chain") {
    import graft.operators.Patterns.QStep
    val steps = IndexedSeq(QStep.once("a"), QStep.optional("b"), QStep.once("c"))
    // b inside the (a, c) gap -> reported
    val m1 = graft.operators.Patterns.earliestQuantChain(steps,
      Seq((10L, "a"), (12L, "b"), (13L, "b"), (15L, "c")).iterator)
    assert(m1.map(_.map(_._1)).contains(IndexedSeq(10L, 12L, 15L)))
    // no b in the gap -> (-1, 0) but the chain still matches
    val m2 = graft.operators.Patterns.earliestQuantChain(steps,
      Seq((10L, "a"), (9L, "b"), (15L, "c"), (20L, "b")).iterator)
    assert(m2.map(_.map(_._1)).contains(IndexedSeq(10L, -1L, 15L)))
    // optional never blocks: required chain missing -> None regardless of b
    val m3 = graft.operators.Patterns.earliestQuantChain(steps,
      Seq((10L, "a"), (12L, "b")).iterator)
    assert(m3.isEmpty)
    // boundary events are outside the open gap
    val m4 = graft.operators.Patterns.earliestQuantChain(steps,
      Seq((10L, "a"), (10L, "b"), (15L, "b"), (15L, "c")).iterator)
    assert(m4.map(_.map(_._1)).contains(IndexedSeq(10L, -1L, 15L)))
  }

  test("streaming quantified matcher over ordered batches equals the graded q127") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Patterns.QStep
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map { case (u, t, tag) => Patterns.PEvent(u, t, tag) }
      .sortBy(_.t_us)
    val steps = IndexedSeq(QStep.once("view"), QStep.timesOrMore("click", 2),
      QStep.once("purchase"))
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchQuantStream(ms.toDS(), steps)
      .writeStream.format("memory").queryName("cepq").outputMode(OutputMode.Append()).start()
    evs.grouped(math.max(1, evs.length / 4)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cepq").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getSeq[Int](2).toList)).toSet
    val batch = Patterns.q127ClickBurst(spark, sf).collect()
      .map(r => (r.getLong(0), List(r.getLong(1), r.getLong(2), r.getLong(3)),
        List(1, r.getLong(4).toInt, 1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("q117 guard is a subset of q116 and drops exactly the error-spanned users") {
    val full = graft.operators.Patterns.q116Funnel(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(3)))).toMap
    val guarded = graft.operators.Patterns.q117FunnelGuard(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(guarded.subsetOf(full.keySet))
    val errs = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "error")
      .select(col("user_id"), expr("ts div 1000").as("t_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectedDropped = full.filter { case (u, (t1, t3)) =>
      errs.exists { case (eu, et) => eu == u && et > t1 && et < t3 }
    }.keySet
    assert(full.keySet -- guarded == expectedDropped)
  }

  test("allMatchesSkipPastLast equals repeated greedy chaining; matches never overlap") {
    val rng = new scala.util.Random(41)
    val tags = IndexedSeq("a", "b", "c")
    def bruteChain(steps: IndexedSeq[String], evs: Seq[(Long, String)]): Option[IndexedSeq[Long]] =
      steps.foldLeft(Option(IndexedSeq.empty[Long])) {
        case (Some(acc), tag) =>
          val cands = evs.filter(e => e._2 == tag && (acc.isEmpty || e._1 > acc.last))
          if (cands.isEmpty) None else Some(acc :+ cands.map(_._1).min)
        case (None, _) => None
      }
    (1 to 300).foreach { i =>
      val n = 1 + rng.nextInt(20)
      val evs = Seq.fill(n)((rng.nextInt(15).toLong, tags(rng.nextInt(3))))
      val steps = IndexedSeq.fill(1 + rng.nextInt(3))(tags(rng.nextInt(3)))
      val max = 1 + rng.nextInt(4)
      val got = Patterns.allMatchesSkipPastLast(steps, max, evs.iterator)
      // reference: re-run the stepwise-min greedy chain on the events
      // strictly after the previous match's final event (the
      // SkipPastLastStrategy definition), up to the cap
      var want = Vector.empty[IndexedSeq[Long]]
      var lower = Long.MinValue
      var go = true
      while (go && want.length < max) {
        bruteChain(steps, evs.filter(_._1 > lower)) match {
          case Some(m) => want = want :+ m; lower = m.last
          case None    => go = false
        }
      }
      assert(got == want, s"case $i steps=$steps evs=$evs max=$max")
      got.sliding(2).foreach {
        case Seq(a, b) => assert(b.head > a.last, s"overlap in case $i")
        case _ =>
      }
    }
  }

  test("q135 first match per user equals q116 and respects the per-key cap") {
    val all = graft.operators.Patterns.q135AllFunnels(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val first = all.filter(_._2 == 1L).map(t => (t._1, t._3, t._4, t._5)).toSet
    val q116 = graft.operators.Patterns.q116Funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(first == q116 && first.nonEmpty)
    val perUser = all.groupBy(_._1)
    perUser.foreach { case (u, ms) =>
      assert(ms.length <= graft.operators.Patterns.SkipMax, s"user $u over cap")
      assert(ms.map(_._2).sorted.sameElements(1L to ms.length.toLong), s"user $u ordinals")
    }
  }

  test("streaming skip-past-last matcher over ordered batches equals the graded q135") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map { case (u, t, tag) => Patterns.PEvent(u, t, tag) }
      .sortBy(_.t_us)
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchChainStreamAll(ms.toDS(),
        IndexedSeq("view", "click", "purchase"), Patterns.SkipMax)
      .writeStream.format("memory").queryName("cepall")
      .outputMode(OutputMode.Append()).start()
    evs.grouped(math.max(1, evs.length / 4)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cepall").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet
    val batch = graft.operators.Patterns.q135AllFunnels(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        List(r.getLong(2), r.getLong(3), r.getLong(4)))).toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(batch.exists(_._2 > 1L), "fixture should produce repeat matches")
  }

  test("streaming until matcher over ordered batches equals the graded q145") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Patterns.QStep
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map { case (u, t, tag) => Patterns.PEvent(u, t, tag) }
      .sortBy(_.t_us)
    val steps = IndexedSeq(QStep.once("view"),
      QStep.oneOrMoreUntil("click", "error"), QStep.once("purchase"))
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchQuantStream(ms.toDS(), steps)
      .writeStream.format("memory").queryName("cepu").outputMode(OutputMode.Append()).start()
    evs.grouped(math.max(1, evs.length / 4)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cepu").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getSeq[Int](2).toList)).toSet
    val batch = Patterns.q145UntilBurst(spark, sf).collect()
      .map(r => (r.getLong(0), List(r.getLong(1), r.getLong(2), r.getLong(3)),
        List(1, r.getLong(4).toInt, 1))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // the boundary must actually bite on this fixture: the same steps
    // WITHOUT until admit strictly more users (8 of 15 first-clicks
    // move or vanish at sf0.001 per the oracle derivation)
    val free = Patterns.matchQuant3(
      spark, sf, IndexedSeq(QStep.once("view"), QStep.oneOrMore("click"),
        QStep.once("purchase")))
    assert(free.count() > batch.size)
  }

  test("until boundary: consumption cut, greedy cap, and no-boundary degradation") {
    import graft.operators.Patterns.QStep
    val steps = IndexedSeq(QStep.once("a"), QStep.oneOrMoreUntil("b", "u"),
      QStep.once("c"))
    // boundary cuts required consumption -> no match at all
    assert(Patterns.earliestQuantChain(
      IndexedSeq(QStep.once("a"), QStep.oneOrMoreUntil("b", "u")),
      Seq((1L, "a"), (2L, "u"), (3L, "b")).iterator).isEmpty)
    // boundary caps the greedy extent but not the chain
    val m1 = Patterns.earliestQuantChain(steps,
      Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "u"), (5L, "b"), (6L, "c")).iterator)
    assert(m1.contains(IndexedSeq((1L, 1), (2L, 2), (6L, 1))),
      s"greedy count stops at the boundary: $m1")
    // boundary past the next step's completion is inert
    val m2 = Patterns.earliestQuantChain(steps,
      Seq((1L, "a"), (2L, "b"), (3L, "b"), (5L, "b"), (6L, "c"), (10L, "u")).iterator)
    assert(m2.contains(IndexedSeq((1L, 1), (2L, 3), (6L, 1))), s"$m2")
    // no until event at all == plain oneOrMore
    val evs = Seq((1L, "a"), (2L, "b"), (3L, "b"), (6L, "c"))
    assert(Patterns.earliestQuantChain(steps, evs.iterator) ==
      Patterns.earliestQuantChain(IndexedSeq(QStep.once("a"),
        QStep.oneOrMore("b"), QStep.once("c")), evs.iterator))
    // until tag at/before the previous completion does not bound
    val m3 = Patterns.earliestQuantChain(steps,
      Seq((0L, "u"), (1L, "a"), (2L, "b"), (6L, "c")).iterator)
    assert(m3.contains(IndexedSeq((1L, 1), (2L, 1), (6L, 1))), s"$m3")
  }

  test("until matcher equals the independent min/filter derivation on random event sets") {
    import graft.operators.Patterns.QStep
    val rng = new scala.util.Random(47)
    val steps = IndexedSeq(QStep.once("a"), QStep.oneOrMoreUntil("b", "u"),
      QStep.once("c"))
    // independent formulation — the same derivation q145's DuckDB
    // oracle states in SQL (min-chains + boundary filters), not the
    // fold's forward pointer
    def reference(evs: Seq[(Long, String)]): Option[(Long, Long, Long, Int)] = {
      val t1 = evs.filter(_._2 == "a").map(_._1).minOption
      t1.flatMap { t1 =>
        val fu = evs.filter(e => e._2 == "u" && e._1 > t1).map(_._1)
          .minOption.getOrElse(Long.MaxValue)
        val t2 = evs.filter(e => e._2 == "b" && e._1 > t1 && e._1 < fu)
          .map(_._1).minOption
        t2.flatMap { t2 =>
          val t3 = evs.filter(e => e._2 == "c" && e._1 > t2).map(_._1).minOption
          t3.map { t3 =>
            val n = evs.filter(e => e._2 == "b" && e._1 > t1 &&
              e._1 < math.min(t3, fu)).map(_._1).distinct.size
            (t1, t2, t3, n)
          }
        }
      }
    }
    (1 to 300).foreach { i =>
      val n = 1 + rng.nextInt(16)
      val tags = IndexedSeq("a", "b", "c", "u")
      val evs = Seq.fill(n)((rng.nextInt(12).toLong, tags(rng.nextInt(4))))
      val got = Patterns.earliestQuantChain(steps, evs.iterator)
        .map(m => (m(0)._1, m(1)._1, m(2)._1, m(1)._2))
      assert(got == reference(evs), s"case $i evs=$evs got=$got")
    }
  }

  test("times(from, to) caps the greedy count and keeps the chain identical") {
    import graft.operators.Patterns.QStep
    val free = IndexedSeq(QStep.once("a"), QStep.timesOrMore("b", 2), QStep.once("c"))
    val bounded = IndexedSeq(QStep.once("a"), QStep.timesRange("b", 2, 3), QStep.once("c"))
    val evs = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "b"), (5L, "b"),
      (6L, "b"), (9L, "c"))
    val mf = Patterns.earliestQuantChain(free, evs.iterator)
    val mb = Patterns.earliestQuantChain(bounded, evs.iterator)
    assert(mf.map(_.map(_._1)) == mb.map(_.map(_._1)),
      "completion times are unaffected by the cap")
    assert(mf.get(1)._2 == 5 && mb.get(1)._2 == 3,
      s"greedy count capped at to: free=$mf bounded=$mb")
    // below-cap extent reports the true count
    val short = Seq((1L, "a"), (2L, "b"), (3L, "b"), (9L, "c"))
    assert(Patterns.earliestQuantChain(bounded, short.iterator).get(1)._2 == 2)
    assertThrows[IllegalArgumentException] { QStep.timesRange("b", 0, 2) }
    assertThrows[IllegalArgumentException] { QStep.timesRange("b", 3, 2) }
  }

  test("q144 any-pairs equals the per-user nested-loop enumeration") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val brute = ev.filter(_._3 == "view").flatMap { case (u, tv, _) =>
      ev.filter { case (u2, tp, tag) =>
        u2 == u && tag == "purchase" && tp > tv &&
          tp <= tv + graft.operators.Patterns.AnyWithinUs
      }.map(p => (u, tv, p._2))
    }.toSeq
    val got = graft.operators.Patterns.q144AnyPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.sorted == brute.sorted && got.nonEmpty)
    // overlapping alternatives exist (the skip-till-any surface)
    assert(got.groupBy(t => (t._1, t._2)).exists(_._2.length > 1) ||
      got.groupBy(t => (t._1, t._3)).exists(_._2.length > 1),
      "fixture should produce at least one one-to-many pairing")
  }

  test("q174 allowCombinations equals recursive ordered-subset enumeration") {
    // independent derivation: NO bitmasks — enumerate every non-empty
    // ordered subset of the first CombMax clicks after each view by
    // plain recursion, then compare (anchor, {k, first, last}) match
    // multisets with the graded query
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def subsets(xs: List[Long]): List[List[Long]] = xs match {
      case Nil => List(Nil)
      case h :: t => val rest = subsets(t); rest ++ rest.map(h :: _)
    }
    // DISTINCT (user, t) anchors — the operator's documented collapse
    // of same-microsecond duplicate views
    val brute = ev.filter(_._3 == "view").map(e => (e._1, e._2)).distinct
      .flatMap { case (u, tv) =>
        val clicks = ev.iterator
          .filter { case (u2, tc, tag) =>
            u2 == u && tag == "click" && tc > tv &&
              tc <= tv + Patterns.AnyWithinUs }
          .map(_._2).toList.sorted.take(Patterns.CombMax)
        subsets(clicks).filter(_.nonEmpty)
          .map(s => (u, tv, s.length.toLong, s.min, s.max))
      }.toSeq
    val got = Patterns.q174Combinations(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.sorted == brute.sorted && got.nonEmpty)
    // the mask column must enumerate each anchor's combinations
    // exactly once: 2^n - 1 distinct masks for an n-click anchor
    val masks = Patterns.q174Combinations(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    masks.foreach { case ((u, tv), ms) =>
      val n = brute.filter(b => b._1 == u && b._2 == tv && b._3 == 1L).size
      assert(ms == (1L until (1L << n)).toSet,
        s"anchor ($u,$tv): masks $ms for $n clicks")
    }
    // the fixture must actually exercise a multi-click loop (a
    // non-prefix combination the default contiguity would never emit)
    assert(brute.exists(_._3 >= 2), "fixture needs a >=2-click anchor")
  }

  test("skip-to-step: repeated suffix chaining, overlap vs skip-past-last, seed guard") {
    val steps = IndexedSeq("view", "click", "purchase")
    // independent reference: round r = earliestChain over the events
    // at/after the previous round's resume time (the chain lives
    // entirely in [bound, inf) because completions ascend)
    def reference(evs: Seq[(Long, String)], resumeStep: Int,
        max: Int): Seq[IndexedSeq[Long]] = {
      var bound = Long.MinValue
      var out = List.empty[IndexedSeq[Long]]
      var go = true
      while (go && out.length < max) {
        Patterns.earliestChain(steps, evs.filter(_._1 >= bound).iterator) match {
          case Some(ts) => out = out :+ ts; bound = ts(resumeStep)
          case None => go = false
        }
      }
      out
    }
    val rng = new scala.util.Random(53)
    (1 to 300).foreach { i =>
      val n = 1 + rng.nextInt(20)
      val tags = IndexedSeq("view", "click", "purchase", "noise")
      val evs = Seq.fill(n)((rng.nextInt(15).toLong, tags(rng.nextInt(4))))
      (1 to 2).foreach { rs =>
        val got = Patterns.allMatchesSkipToStep(steps, rs, 5, evs.iterator)
        assert(got == reference(evs, rs, 5), s"case $i rs=$rs evs=$evs got=$got")
      }
    }
    // resuming at the seed step is the infinite-loop case Flink rejects
    assertThrows[IllegalArgumentException] {
      Patterns.allMatchesSkipToStep(steps, 0, 5, Iterator.empty)
    }
    // overlap: a view between click and purchase seeds the next match
    val evs = Seq((1L, "view"), (2L, "click"), (3L, "view"), (4L, "purchase"),
      (5L, "click"), (6L, "purchase"))
    val got = Patterns.allMatchesSkipToStep(steps, 1, 5, evs.iterator)
    assert(got == Seq(IndexedSeq(1L, 2L, 4L), IndexedSeq(3L, 5L, 6L)),
      s"overlapping rounds expected: $got")
    // skip-past-last on the same events finds only ONE match (the
    // second view precedes the first purchase)
    assert(Patterns.allMatchesSkipPastLast(steps, 5, evs.iterator).length == 1)
  }

  test("q147 first round equals q116; some user gains a match over q135") {
    val all = graft.operators.Patterns.q147SkipToClick(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val first = all.filter(_._2 == 1L).map(t => (t._1, t._3, t._4, t._5)).toSet
    val q116 = graft.operators.Patterns.q116Funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(first == q116 && first.nonEmpty)
    // overlap-permitting resume can only find MORE matches per user
    val q135 = graft.operators.Patterns.q135AllFunnels(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perUser147 = all.groupBy(_._1).view.mapValues(_.length).toMap
    val perUser135 = q135.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perUser135.forall { case (u, n) => perUser147.getOrElse(u, 0) >= n })
  }

  test("q142 all-starts matches: earliest seed per user equals the q116 funnel") {
    val all = graft.operators.Patterns.q142AllStarts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(all.nonEmpty)
    // overlapping seeds exist (NO_SKIP's observable surface)
    assert(all.groupBy(_._1).exists(_._2.length > 1))
    val firstSeed = all.groupBy(_._1).map { case (_, ms) => ms.minBy(_._2) }.toSet
    val q116 = graft.operators.Patterns.q116Funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(firstSeed == q116)
  }

  test("groupIterations equals brute-force sequential min-chaining on random event sets") {
    import graft.operators.Patterns
    val rng = new scala.util.Random(1893)
    val tags = Vector("view", "click", "purchase", "error")
    def bruteIters(group: Seq[String], cap: Int,
        evs: Seq[(Long, String)]): Seq[(Long, Long)] = {
      def minAfter(tag: String, after: Long): Option[Long] =
        evs.collect { case (t, tg) if tg == tag && t > after => t }.minOption
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var prev = Long.MinValue
      var go = true
      while (go && out.length < cap) {
        val chain = group.foldLeft(Option(List.empty[Long])) { (acc, tag) =>
          acc.flatMap(ts => minAfter(tag, ts.lastOption.getOrElse(prev)).map(ts :+ _))
        }
        chain match {
          case Some(ts) => out += ((ts.head, ts.last)); prev = ts.last
          case None => go = false
        }
      }
      out.toSeq
    }
    (1 to 60).foreach { trial =>
      val n = 1 + rng.nextInt(25)
      val evs = (1 to n).map(_ =>
        (rng.nextInt(14).toLong, tags(rng.nextInt(tags.length))))
      val group =
        if (trial % 2 == 0) IndexedSeq("view", "click")
        else IndexedSeq("view", "click", "click")
      val cap = 1 + rng.nextInt(4)
      val got = Patterns.groupIterations(group, cap, evs.iterator)
      val want = bruteIters(group, cap, evs)
      assert(got == want, s"trial $trial group=$group cap=$cap evs=$evs")
      // iterations are sequential: completions strictly increase
      assert(got.map(_._2) == got.map(_._2).sorted)
    }
  }

  test("earliestChainMulti equals min-pick recursion on tag sets; singletons degrade to earliestChain") {
    import graft.operators.Patterns
    val rng = new scala.util.Random(577)
    val tags = Vector("a", "b", "c", "d")
    def brute(steps: Seq[Set[String]],
        evs: Seq[(Long, String)]): Option[List[Long]] =
      steps.foldLeft(Option((Long.MinValue, List.empty[Long]))) { (acc, st) =>
        acc.flatMap { case (prev, ts) =>
          evs.collect { case (t, tg) if st(tg) && t > prev => t }
            .minOption.map(t => (t, ts :+ t))
        }
      }.map(_._2)
    (1 to 80).foreach { trial =>
      val evs = (1 to 1 + rng.nextInt(20)).map(_ =>
        (rng.nextInt(10).toLong, tags(rng.nextInt(tags.length))))
      val steps = IndexedSeq(
        Set(tags(rng.nextInt(4))),
        Set("a", "b").take(1 + rng.nextInt(2)),
        Set(tags(rng.nextInt(4)), tags(rng.nextInt(4))))
      val got = Patterns.earliestChainMulti(steps, evs.iterator)
      assert(got.map(_.toList) == brute(steps, evs), s"trial $trial evs=$evs steps=$steps")
      // singleton sets == the plain chain
      val single = IndexedSeq("a", "c").map(Set(_))
      assert(Patterns.earliestChainMulti(single, evs.iterator) ==
        Patterns.earliestChain(IndexedSeq("a", "c"), evs.iterator))
    }
  }

  test("earliestGuardedChain equals independent min-pick recursion; trivial guards degrade to earliestChain") {
    import graft.operators.Patterns
    val rng = new scala.util.Random(733)
    val tags = Vector("view", "click", "purchase")
    def brute(steps: Seq[(String, (Double, List[Double]) => Boolean)],
        evs: Seq[(Long, String, Double)]): Option[List[(Long, Double)]] = {
      def go(rest: List[(String, (Double, List[Double]) => Boolean)],
          prevT: Long, prefix: List[Double]): Option[List[(Long, Double)]] =
        rest match {
          case Nil => Some(Nil)
          case (tag, pred) :: tl =>
            evs.filter { case (t, tg, v) =>
              tg == tag && t > prevT && pred(v, prefix) }
              .sortBy(e => (e._1, e._3)).headOption.flatMap { case (t, _, v) =>
                go(tl, t, prefix :+ v).map((t, v) :: _)
              }
        }
      go(steps.toList, Long.MinValue, Nil)
    }
    (1 to 80).foreach { trial =>
      val evs = (1 to 1 + rng.nextInt(24)).map(_ => (rng.nextInt(12).toLong,
        tags(rng.nextInt(tags.length)), rng.nextInt(6).toDouble))
      val steps: IndexedSeq[(String, (Double, List[Double]) => Boolean)] =
        IndexedSeq(
          ("view", (_, _) => true),
          ("click", (v, p) => v > p.last),
          ("purchase", (v, p) => v > p.head)) // reads the FULL prefix
      val got = Patterns.earliestGuardedChain(steps, evs.iterator)
      val want = brute(steps, evs)
      assert(got.map(_.toList) == want, s"trial $trial evs=$evs")
      // trivial guards: same completions as the unguarded chain
      val trivial = steps.map { case (tag, _) =>
        (tag, (_: Double, _: List[Double]) => true) }
      val unguarded = Patterns.earliestChain(
        steps.map(_._1), evs.iterator.map(e => (e._1, e._2)))
      val guardedTrivial = Patterns.earliestGuardedChain(trivial, evs.iterator)
      assert(guardedTrivial.map(_.map(_._1)) == unguarded,
        s"trial $trial degenerate mismatch")
    }
  }

  test("streaming group-loop matcher over ordered batches equals the graded q161") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Patterns
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map { case (u, t, tag) => Patterns.PEvent(u, t, tag) }
      .sortBy(_.t_us)
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchGroupLoopStream(ms.toDS(),
        IndexedSeq("view", "click"), "purchase")
      .writeStream.format("memory").queryName("cepg")
      .outputMode(OutputMode.Append()).start()
    evs.grouped(math.max(1, evs.length / 4)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cepg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = Patterns.q161GroupLoop(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming combinations matcher over ordered batches equals the graded q174") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map { case (u, t, tag) => Patterns.PEvent(u, t, tag) }
      .sortBy(_.t_us)
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchCombinationsStream(ms.toDS())
      .writeStream.format("memory").queryName("cepcomb")
      .outputMode(OutputMode.Append()).start()
    evs.grouped(math.max(1, evs.length / 4)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    // MULTISET compare (sorted seqs, not sets): the streaming twin's
    // one-emission-per-match contract means a double emission is a
    // bug a set compare would hide
    def row6(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val streamed = spark.table("cepcomb").collect().map(row6).toSeq.sorted
    val batch = Patterns.q174Combinations(spark, sf).collect().map(row6)
      .toSeq.sorted
    assert(streamed == batch && batch.nonEmpty)
  }

  test("combinations matcher: cap, window, duplicate anchors, strict ties on a hand fixture") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val W = Patterns.AnyWithinUs
    val evs = Seq(
      // key 1: 6 clicks inside the window — only the FIRST CombMax=4
      // absorb (15 matches); the duplicate view@1000 collapses; the
      // click@1000 == t1 is excluded by the strict t1 < tc rule
      Patterns.PEvent(1L, 1000L, "view"),
      Patterns.PEvent(1L, 1000L, "view"),
      Patterns.PEvent(1L, 1000L, "click"),
      Patterns.PEvent(1L, 2000L, "click"),
      Patterns.PEvent(1L, 3000L, "click"),
      Patterns.PEvent(1L, 4000L, "click"),
      Patterns.PEvent(1L, 5000L, "click"),
      Patterns.PEvent(1L, 6000L, "click"),
      Patterns.PEvent(1L, 7000L, "click"),
      // key 2: the only click lands exactly ONE past the window edge
      Patterns.PEvent(2L, 1000L, "view"),
      Patterns.PEvent(2L, 1000L + W + 1L, "click"),
      // key 3: a click exactly AT the window edge is included
      Patterns.PEvent(3L, 1000L, "view"),
      Patterns.PEvent(3L, 1000L + W, "click"))
    val ms = MemoryStream[Patterns.PEvent]
    val q = Patterns.matchCombinationsStream(ms.toDS())
      .writeStream.format("memory").queryName("cepcombh")
      .outputMode(OutputMode.Append()).start()
    // two batches split mid-loop so the anchor state crosses a batch
    ms.addData(evs.take(6)); q.processAllAvailable()
    ms.addData(evs.drop(6)); q.processAllAvailable()
    q.stop()
    val got = spark.table("cepcombh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq.sorted
    val k1 = got.filter(_._1 == 1L)
    assert(k1.length == 15, s"cap must bound key 1 to 15 matches: $k1")
    assert(k1.forall(m => m._5 >= 2000L && m._6 <= 5000L),
      "only the first 4 in-window clicks may appear")
    assert(k1.map(_._3).toSet == (1L to 15L).toSet, "mask census 1..15")
    assert(!got.exists(_._1 == 2L), "past-window click must not match")
    assert(got.filter(_._1 == 3L) ==
      Seq((3L, 1000L, 1L, 1L, 1000L + W, 1000L + W)),
      "window edge is inclusive")
  }
}
