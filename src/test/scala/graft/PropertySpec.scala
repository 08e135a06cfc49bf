package graft

import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Patterns
import graft.operators.Patterns.{PEvent, QStep}
import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import graft.plans.TopK
import graft.streaming.Streams
import graft.streaming.Streams.TemporalRow

/** Randomized-shape checks (seeded, deterministic) — an upgrade over
  * the reference's test method (SURVEY §5: differential dual-runs
  * only, no property testing). Spark jobs per case are expensive, so
  * each property runs a handful of seeded random shapes.
  */
class PropertySpec extends AnyFunSuite with SparkSpec {

  test("topKPerKey value multiset equals sort-take on random data") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val data = List.fill(60)((rng.nextInt(6), rng.nextInt(2001) - 1000))
      val k = 1 + rng.nextInt(6)
      val got = TopK.topKPerKey(data.toDF("k", "v"), k, col("v"), col("k"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val want = data.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted(Ordering.Int.reverse).take(k).sorted.toSeq).toMap
      assert(got == want, s"k=$k")
    }
  }

  test("as-of join matches a per-row scan on random keyed series") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val left = List.fill(50)((rng.nextInt(5).toLong, rng.nextInt(1000).toLong))
        .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      // duplicate right timestamps per key allowed pre-agg; dedupe like q66
      val right = List.fill(40)((rng.nextInt(5).toLong, rng.nextInt(1000).toLong,
        rng.nextInt(100).toDouble))
        .groupBy(r => (r._1, r._2)).map { case ((k, t), rs) => (k, t, rs.map(_._3).max) }.toList
      val got = graft.operators.AsOfJoin.asOf(
          left.toDF("id", "k", "ts"), right.toDF("k", "ts", "v"), "k", "ts", Seq("v"))
        .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
        .toMap
      left.foreach { case (id, k, t) =>
        val want = right.filter(r => r._1 == k && r._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
        assert(got(id) == want, s"row $id key $k ts $t")
      }
    }
  }

  test("forward/tolerance as-of variants match a per-row scan on random keyed series") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val left = List.fill(50)((rng.nextInt(5).toLong, rng.nextInt(1000).toLong))
        .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val right = List.fill(40)((rng.nextInt(5).toLong, rng.nextInt(1000).toLong,
        rng.nextInt(100).toDouble))
        .groupBy(r => (r._1, r._2)).map { case ((k, t), rs) => (k, t, rs.map(_._3).max) }.toList
      val tol = 150L
      def run(dir: String, t: Option[Long]) = graft.operators.AsOfJoin.asOf(
          left.toDF("id", "k", "ts"), right.toDF("k", "ts", "v"), "k", "ts",
          Seq("v"), direction = dir, toleranceUs = t)
        .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
        .toMap
      val fwd = run("forward", None)
      val fwdTol = run("forward", Some(tol))
      val bwdTol = run("backward", Some(tol))
      val near = run("nearest", None)
      val nearTol = run("nearest", Some(tol))
      left.foreach { case (id, k, t) =>
        val after = right.filter(r => r._1 == k && r._2 >= t).sortBy(_._2)
        assert(fwd(id) == after.headOption.map(_._3), s"fwd row $id")
        assert(fwdTol(id) ==
          after.headOption.filter(_._2 - t <= tol).map(_._3), s"fwdTol row $id")
        val before = right.filter(r => r._1 == k && r._2 <= t).sortBy(_._2)
        assert(bwdTol(id) ==
          before.lastOption.filter(r => t - r._2 <= tol).map(_._3), s"bwdTol row $id")
        // nearest: closer of the two candidates, ties backward
        def nearestWant(tolOpt: Option[Long]): Option[Double] = {
          val b = before.lastOption.filter(r => tolOpt.forall(t - r._2 <= _))
          val f = after.headOption.filter(r => tolOpt.forall(r._2 - t <= _))
          (b, f) match {
            case (Some(bb), Some(ff)) =>
              if (t - bb._2 <= ff._2 - t) Some(bb._3) else Some(ff._3)
            case (bb, ff) => bb.orElse(ff).map(_._3)
          }
        }
        assert(near(id) == nearestWant(None), s"near row $id")
        assert(nearTol(id) == nearestWant(Some(tol)), s"nearTol row $id")
      }
    }
    assertThrows[IllegalArgumentException] {
      graft.operators.AsOfJoin.asOf(
        Seq((1L, 1L)).toDF("k", "ts"), Seq((1L, 1L, 1.0)).toDF("k", "ts", "v"),
        "k", "ts", Seq("v"), direction = "sideways")
    }
    // matched-ROW semantics (review finding): a null value column in
    // the nearest row must NOT fall through to an older row's value,
    // and the tolerance gap is the matched row's gap
    val l = Seq((0L, 1L, 10L)).toDF("id", "k", "ts")
    val r = Seq((1L, 5L, Some(7.0)), (1L, 8L, None))
      .toDF("k", "ts", "v")
    val rows = graft.operators.AsOfJoin.asOf(
        l, r, "k", "ts", Seq("v"), toleranceUs = Some(3L)).collect()
    assert(rows.length == 1 && rows(0).isNullAt(3),
      "ts=8 row matches (gap 2 <= 3) and its value IS null; the ts=5 " +
        "value must not leak through")
  }

  test("interval overlap join matches nested-loop enumeration, each pair once") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    (1 to 3).foreach { _ =>
      // negative starts included: the floor-div bucketing must not
      // drop matches straddling zero
      val left = List.fill(40) {
        val s = rng.nextInt(400).toLong - 100
        (rng.nextInt(1000).toLong, s, s + rng.nextInt(60))
      }
      val right = List.fill(30) {
        val s = rng.nextInt(400).toLong - 100
        (rng.nextInt(1000).toLong + 10000, s, s + rng.nextInt(60))
      }
      val got = graft.operators.RangeJoin.intervalOverlap(
          left.toDF("lid", "s1", "e1"), right.toDF("rid", "s2", "e2"),
          "s1", "e1", "s2", "e2", width = 37)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = for {
        (lid, s1, e1) <- left; (rid, s2, e2) <- right
        if s1 <= e2 && s2 <= e1
      } yield (lid, rid)
      assert(got.sorted == want.sorted, "every overlapping pair exactly once")
    }
    // inverted intervals are the empty set, never matches (review
    // finding: sequence() descends on end < start)
    val inv = graft.operators.RangeJoin.intervalOverlap(
      Seq((1L, 5L, 3L)).toDF("lid", "s1", "e1"),
      Seq((2L, 2L, 6L)).toDF("rid", "s2", "e2"),
      "s1", "e1", "s2", "e2", width = 37)
    assert(inv.count() == 0)
    assertThrows[IllegalArgumentException] {
      graft.operators.RangeJoin.intervalOverlap(
        Seq((1L, 1L, 2L)).toDF("lid", "s", "e"),
        Seq((2L, 1L, 2L)).toDF("rid", "s", "e"), "s", "e", "s", "e", 10)
    }
  }

  test("trailing range join matches a per-row scan on random keyed series") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val width = 50L + rng.nextInt(100)
      // timestamps straddle zero on purpose: bucket ids must use FLOOR
      // division or negative-ts rows land one bucket high and matches
      // whose window crosses zero are silently dropped
      val left = List.fill(40)((rng.nextInt(4).toLong, rng.nextInt(800).toLong - 400L))
        .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val right = List.fill(60)((rng.nextInt(4).toLong, rng.nextInt(800).toLong - 400L,
        rng.nextInt(10) + 1))
      val got = graft.operators.RangeJoin.trailingRange(
          left.toDF("id", "k", "ts"), right.toDF("k", "tv", "w"), "k", "ts", "tv", width)
        .groupBy("id").agg(sum("w").as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      left.foreach { case (id, k, t) =>
        val want = right.filter(r => r._1 == k && r._2 >= t - width && r._2 <= t)
          .map(_._3.toLong).sum
        assert(got.getOrElse(id, 0L) == want, s"row $id key $k ts $t width $width")
      }
    }
  }

  test("portable h60 is stable, positive, and plan-consistent") {
    val rng = new scala.util.Random(7)
    val rand = List.fill(40)(rng.alphanumeric.take(1 + rng.nextInt(30)).mkString)
    rand.foreach { s =>
      val h = graft.functions.Portable.h60jvm(s)
      assert(h >= 0)
      assert(h == graft.functions.Portable.h60jvm(s))
    }
    import spark.implicits._
    val samples = rand ++ Seq("", "hello world", "Zebra 123 !?")
    val planSide = samples.toDF("s")
      .select(graft.functions.Portable.h60(col("s")))
      .collect().map(_.getLong(0)).toSeq
    assert(planSide == samples.map(graft.functions.Portable.h60jvm))
  }

  test("native winnow kernel equals the compositional form on random unicode strings") {
    import spark.implicits._
    // randomized twin of PipelineSpec's corpus/edge-case bit-equality:
    // arbitrary lengths straddling the gram+window threshold, mixed
    // ASCII / multi-byte / surrogate-pair codepoints, repeated chars
    // (min-tie windows) — the regimes a hand fixture under-samples
    val rng = new scala.util.Random(11)
    val alphabet = "abXY 01éñ中😀" // incl. é ñ 中 😀
    val cps = alphabet.codePoints().toArray
    def randString(): String = {
      val n = rng.nextInt(40) // 0..39 codepoints, threshold is 15
      val sb = new java.lang.StringBuilder
      (1 to n).foreach(_ => sb.appendCodePoint(cps(rng.nextInt(cps.length))))
      sb.toString
    }
    val docs = (1 to 200).map(i => (i.toLong, randString())).toDF("doc_id", "text")
    val native = TextAnalysis.winnowFingerprint(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = TextAnalysis.winnowFingerprintCompositional(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == hof.keySet)
    native.keys.foreach(k => assert(native(k) == hof(k), s"doc $k"))
    assert(native.values.exists(_.nonEmpty), "fixture sanity: some strings cross the threshold")
    assert(native.values.exists(_.isEmpty), "fixture sanity: some strings stay below the threshold")
  }

  test("q177 plans exactly one winnow-kernel evaluation (no inferred-filter double eval)") {
    // the round-9 bench killer: InferFiltersFromGenerate turning the
    // explode into a pushed size(graft_winnow_fp(text))>0 filter that
    // re-runs the whole digest pass in the scan stage. Guarded twice
    // (explode_outer + the session-level rule exclusion) — this pins
    // the OUTCOME: one kernel occurrence in the executed plan, and it
    // sits above the spread exchange, never in the scan stage.
    val plan = graft.pipeline.TextAnalysis
      .q177WinnowFingerprint(spark, sf)
      .queryExecution.executedPlan.toString
    val occurrences = "graft_winnow_fp".r.findAllIn(plan).length
    assert(occurrences == 1, s"expected exactly 1 kernel eval in plan, got $occurrences:\n$plan")
    val kernelAt = plan.indexOf("graft_winnow_fp")
    val exchangeAt = plan.indexOf("Exchange RoundRobinPartitioning")
    assert(exchangeAt >= 0, "spread exchange missing from q177's plan:\n" + plan)
    assert(kernelAt < exchangeAt,
      "kernel must evaluate ABOVE the spread exchange (plans print top-down):\n" + plan)
  }

  test("plain explode sites stay pinned to the audited-cheap set") {
    // InferFiltersFromGenerate turns a plain (pos)explode over a
    // COMPUTED array into a pushed size(arr)>0 filter that evaluates
    // the whole generator a second time in the scan stage — the
    // round-9 bench killer. Expensive generators must go through
    // Cpu.explodeComputed (outer explode + spread). The sites counted
    // here were audited round-11: every argument is a stored column,
    // split-on-space, sequence(), or array() of existing columns —
    // double evaluation costs at most one cheap recompute, and engine
    // sessions exclude the rule anyway. A NEW plain explode anywhere
    // is a conscious decision: re-audit the site, then re-pin.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val gen = """(?<![_a-zA-Z])(pos)?explode\(""".r
    val counts = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map { p =>
          val code = java.nio.file.Files.readAllLines(p).asScala
            .filterNot { l =>
              val t = l.trim; t.startsWith("*") || t.startsWith("//") }
          p.getFileName.toString ->
            code.map(l => gen.findAllIn(l).length).sum
        }.filter(_._2 > 0).toMap
      finally s.close()
    }
    val audited = Map(
      "Windows.scala" -> 1,      // sequence(h0, h1) over stored longs
      "Patterns.scala" -> 1,     // expr explode(sequence(1, 2^size))
      "Sketches.scala" -> 1,     // stored struct-array column hh
      "Typed.scala" -> 1,        // split(text) wordcount, cheap
      "RangeJoin.scala" -> 3,    // 2-element array / hour sequence
      "Partitioning.scala" -> 1, // salt sequence(0, salts-1)
      "Similarity.scala" -> 4,   // probe array + stored embeddings
      "Dedup.scala" -> 9,        // band/member arrays, split-on-space
      "Curation.scala" -> 6,     // split / bigram transform / stride
                                 // + q213's AND q217's 3-literal
                                 // probe-ts arrays
      "Scoring.scala" -> 1,      // split(text) token stream (q181 agg)
      "Iterative.scala" -> 1,    // stored embedding posexplode
      "Graph.scala" -> 2)        // 3-element triangle array
    assert(counts == audited,
      s"plain explode census moved — re-audit the new/changed sites.\n" +
        s"now: ${counts.toSeq.sorted}\npinned: ${audited.toSeq.sorted}")
  }

  test("minhash signatures are permutation-mins: bounded by shingle hash behavior") {
    // identical docs must produce identical signatures (pure function)
    val sig = Dedup.q30SimHash(spark, sf).limit(50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig.values.toSet.size > 1) // not degenerate on real data
  }

  test("shingles and fingerprint grams are empty below their window sizes") {
    import spark.implicits._
    val short = Seq("one two", "a", "", "one two three").toDF("text")
    val sh = short.select(size(graft.functions.Portable.shingles(col("text"))).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(sh == Seq(0, 0, 0, 1))
    // non-numeric order column is rejected, not silently emptied
    val err = intercept[IllegalArgumentException] {
      TopK.topKPerKey(Seq(("a", "x")).toDF("k", "v"), 1, col("v"), col("k"))
    }
    assert(err.getMessage.contains("numeric"))
  }

  test("adaptiveCosineBlock: floor binds at test SFs, half-span above, broadcast cap at scale") {
    // graded SFs (500-vector catalog): the floor binds, so the graded
    // plan is bit-identical to the old fixed-256 blocking
    assert(Similarity.adaptiveCosineBlock(500L, Dedup.CosineBlockSize) == 256)
    // sf1 rehearsal span: two half-span blocks instead of 20 fixed ones
    assert(Similarity.adaptiveCosineBlock(5000L, Dedup.CosineBlockSize) == 2500)
    // deployment span: the broadcast bound re-binds and the pass count
    // grows linearly again
    assert(Similarity.adaptiveCosineBlock(1L << 30, Dedup.CosineBlockSize)
      == Similarity.MaxCosineBlockVectors)
    // degenerate spans never go below the floor
    assert(Similarity.adaptiveCosineBlock(1L, Dedup.CosineBlockSize) == 256)
  }

  test("blocked all-pairs cosine is invariant to block size") {
    // q33's graded form runs at CosineBlockSize (≥2 blocks at every
    // test SF); a different block count must reproduce it exactly
    val graded = Dedup.q33EmbeddingCosine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val other = Similarity.blockedAllPairsCosine(spark, sf,
        Dedup.CosineThreshold, blockSize = 120).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(other == graded)
    assert(graded.nonEmpty)
  }

  test("classifyText matches the driver-side fold on random edge-shaped texts") {
    import spark.implicits._
    def h60s(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def w(b: Long): Double = ((b * 2654435761L) % 1000003L % 2001L - 1000L) / 1000.0
    val rng = new scala.util.Random(7)
    val vocab = Vector("a", "bb", "ccc", "Zq", "x9", "müller", "日本", "-", "0")
    // edge shapes: single token, repeated token, doubled spaces,
    // leading/trailing spaces, long repetition
    val texts = Seq("a", "bb bb bb", " a", "a ", "a  bb", "ccc " * 50) ++
      (1 to 10).map(_ => Seq.fill(1 + rng.nextInt(30))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), graft.pipeline.Scoring.classifyText(col("t")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = t.split(" ").toSeq.filter(_.nonEmpty)
      val exp = 1.0 / (1.0 + math.exp(
        toks.map(x => w(h60s(x) % graft.pipeline.Scoring.ClfBuckets)).sum / toks.size * -8.0))
      assert(math.abs(got(i.toLong) - exp) <= 1.1e-4, s"text '$t'")
    }
  }

  test("shingles() equals the driver-side slice on random short texts (guard incl.)") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val words = Vector("k", "row", "plan", "agg", "x")
    // lengths 0..7 straddle the w=5 guard boundary; include doubled spaces
    val texts = (0 to 7).map(n => Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" ")) ++
      Seq("k  row plan agg x k", "k row  plan")
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), graft.functions.Portable.shingles(col("t"), 5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val ws = t.split(" ").toSeq // split keeps empty tokens — mirror exactly
      val exp = if (ws.length < 5) Seq.empty
        else (0 to ws.length - 5).map(j => ws.slice(j, j + 5).mkString(" "))
      assert(got(i.toLong) == exp, s"text '$t'")
    }
  }

  // ------------------------------------------------------------------
  // Event time: the streaming twins on the one keyed-state driver
  // against their pure per-key batch functions.
  //
  // In-order contract covered: each seed draws small random event sets
  // for 60 keys (times on a one-minute grid over 40 minutes, so equal
  // timestamps inside a key are common; tags include ones no step
  // names), merges them in event-time order and feeds them through a
  // MemoryStream cut at up to three random batch boundaries. Every
  // twin must then equal its batch function key by key — across batch
  // cuts, with several keys per batch, with state carried between
  // batches, and with the driver's watermark timers removing dead
  // within-buffers mid-stream.
  //
  // Left out: late and out-of-order arrival (a row behind the
  // watermark is dropped and a twin cannot retract an advanced match;
  // that is a separate contract), a batch cut between two equal
  // timestamps (a twin's tie order applies inside one micro-batch
  // only), idle expiry (every trace spans less than the 30-day
  // horizon), and the group-loop and combinations twins, whose batch
  // forms are graded plans over a table, not functions.
  // ------------------------------------------------------------------

  private val BaseUs = 1704067200000000L // 2024-01-01 UTC, micros
  private val MinuteUs = 60L * 1000000L

  /** 60 keys' random event sets, merged in event-time order. */
  private def trace(rng: Random, tags: IndexedSeq[String]): Seq[PEvent] =
    (0L until 60L).flatMap { k =>
      Seq.fill(rng.nextInt(13))(
        PEvent(k, BaseUs + rng.nextInt(40) * MinuteUs, tags(rng.nextInt(tags.length))))
    }.sortBy(_.t_us)

  /** Up to three random batch cuts, each between two distinct times. */
  private def cuts(rng: Random, times: Seq[Long]): Seq[Int] =
    rng.shuffle((1 until times.length).filter(i => times(i - 1) < times(i)).toList)
      .take(rng.nextInt(4)).sorted

  /** Feed `rows` through `op` in the batches `cut` makes; the emitted rows. */
  private def runStream[T: Encoder](name: String, rows: Seq[T], cut: Seq[Int])(
      op: Dataset[T] => Dataset[_]): Array[Row] = {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[T]
    val q = op(ms.toDS()).writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    (0 +: cut :+ rows.length).sliding(2).foreach { case Seq(a, b) =>
      ms.addData(rows.slice(a, b)); q.processAllAvailable()
    }
    q.stop()
    spark.table(name).collect()
  }

  /** Rows with their multiplicities: a double emission must not hide. */
  private def multiset[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).map { case (x, v) => x -> v.size }

  /** For seeds 1-3: draw the twin's parameters and a random trace, run
    * the twin, and compare its emitted (key, match) rows with `batch`
    * of each key's events. */
  private def twinEqualsBatch[P, M](label: String, params: Random => P)(
      twin: P => Dataset[PEvent] => Dataset[_], got: Row => (Long, M),
      batch: (P, Iterator[(Long, String)]) => Seq[M]): Unit = {
    import spark.implicits._
    Seq(1, 2, 3).foreach { seed =>
      val rng = new Random(seed)
      val p = params(rng)
      val evs = trace(rng, IndexedSeq("a", "b", "c", "d"))
      val rows = runStream(s"prop_${label}_$seed", evs, cuts(rng, evs.map(_.t_us)))(twin(p))
      val want = evs.groupBy(_.key).toSeq.flatMap { case (k, es) =>
        batch(p, es.iterator.map(e => (e.t_us, e.tag))).map(k -> _)
      }
      assert(want.nonEmpty, s"$label seed $seed, params $p: the trace must produce matches")
      assert(multiset(rows.toSeq.map(got)) == multiset(want),
        s"$label seed $seed, params $p: evs=$evs")
    }
  }

  /** n steps over the tags a-c (tag d names no step). */
  private def randomSteps(rng: Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(IndexedSeq("a", "b", "c")(rng.nextInt(3)))

  test("event time: the chain twin equals earliestChain per key on random ordered feeds") {
    twinEqualsBatch[IndexedSeq[String], List[Long]]("chain", rng => randomSteps(rng, 1 + rng.nextInt(3)))(
      steps => Patterns.matchChainStream(_, steps),
      r => r.getLong(0) -> r.getSeq[Long](1).toList,
      (steps, evs) => Patterns.earliestChain(steps, evs).map(_.toList).toSeq)
  }

  test("event time: the skip-past-last twin equals allMatchesSkipPastLast per key") {
    twinEqualsBatch[(IndexedSeq[String], Int), (Long, List[Long])]("skip",
      rng => (randomSteps(rng, 1 + rng.nextInt(3)), 1 + rng.nextInt(3)))(
      { case (steps, max) => Patterns.matchChainStreamAll(_, steps, max) },
      r => r.getLong(0) -> (r.getLong(1) -> r.getSeq[Long](2).toList),
      { case ((steps, max), evs) =>
        Patterns.allMatchesSkipPastLast(steps, max, evs).zipWithIndex
          .map { case (m, i) => (i + 1L) -> m.toList }
      })
  }

  test("event time: the within twin equals earliestWithin per key") {
    twinEqualsBatch[(IndexedSeq[String], Long), List[Long]]("within",
      rng => (randomSteps(rng, 2 + rng.nextInt(2)), (5 + rng.nextInt(16)) * MinuteUs))(
      { case (steps, withinUs) => Patterns.matchWithinStream(_, steps, withinUs) },
      r => r.getLong(0) -> r.getSeq[Long](1).toList,
      { case ((steps, withinUs), evs) =>
        Patterns.earliestWithin(steps, withinUs, evs).map(_.toList).toSeq
      })
  }

  test("event time: the quantified twin equals earliestQuantChain per key") {
    // required steps only and a non-looping final step: the streaming
    // twin's own contract
    def step(rng: Random, tag: String): QStep = rng.nextInt(3) match {
      case 0 => QStep.once(tag)
      case 1 => QStep.oneOrMore(tag)
      case _ => QStep.timesOrMore(tag, 2 + rng.nextInt(2))
    }
    twinEqualsBatch[IndexedSeq[QStep], (List[Long], List[Int])]("quant", { rng =>
      val tags = randomSteps(rng, 1 + rng.nextInt(3))
      tags.init.map(step(rng, _)) :+ QStep.once(tags.last)
    })(
      steps => Patterns.matchQuantStream(_, steps),
      r => r.getLong(0) -> (r.getSeq[Long](1).toList -> r.getSeq[Int](2).toList),
      (steps, evs) => Patterns.earliestQuantChain(steps, evs)
        .map(m => m.map(_._1).toList -> m.map(_._2).toList).toSeq)
  }

  test("event time: the temporal join twin equals the backward as-of join") {
    import spark.implicits._
    Seq(1, 2, 3).foreach { seed =>
      val rng = new Random(seed)
      // versions unique per (key, ts) — the operator contract
      val updates = (0L until 30L).flatMap { k =>
        Seq.fill(rng.nextInt(6))(BaseUs + rng.nextInt(40) * MinuteUs).distinct
          .map(t => TemporalRow(k, t, "u", rng.nextInt(100).toDouble))
      }
      val probes = (0L until 30L).flatMap { k =>
        Seq.fill(rng.nextInt(6))(TemporalRow(k, BaseUs + rng.nextInt(40) * MinuteUs, "p", 0.0))
      }
      val rows = (updates ++ probes).sortBy(_.t_us)
      val got = runStream(s"prop_temporal_$seed", rows, cuts(rng, rows.map(_.t_us)))(
        Streams.temporalEnrichStream(_))
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
      val want = graft.operators.AsOfJoin.asOf(
          probes.map(r => (r.key, r.t_us)).toDF("key", "t_us"),
          updates.map(r => (r.key, r.t_us, r.t_us, r.v)).toDF("key", "t_us", "uts", "v"),
          "key", "t_us", Seq("uts", "v"))
        .select("key", "t_us", "asof_uts", "asof_v").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
      assert(multiset(got.toSeq) == multiset(want.toSeq), s"seed $seed: rows=$rows")
      assert(got.exists(_._3.isEmpty) && got.exists(_._3.nonEmpty),
        s"seed $seed: the trace needs matched and unmatched probes")
    }
  }
}
