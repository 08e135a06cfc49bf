package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams.Ev
import graft.streaming.WindowSpi
import graft.streaming.WindowSpi._

/** Static virtual clock for the processing-time window spec —
  * closure-serialized fields would be task-local copies; in local
  * mode a static is genuinely shared with the driver. */
object VirtualClock {
  val now = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** The keyed-window state machines: hand-computed Flink traces for
  * every trigger, evictor and assigner, property checks of the Spark
  * plumbing against the same folds run without Spark, and each graded
  * batch twin against its streaming operator. */
class WindowSpiSpec extends AnyFunSuite with SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  private val evs: Seq[Ev] =
    Seq(1.0, 2.0, 7.0, 11.0, 13.0, 16.0, 20.0, 3.0, 9.5, 4.25).zipWithIndex.map {
      case (v, i) => Ev(i + 1, ts(i + 1), 1, "a", v)
    } ++ Seq(5.0, 8.0, 2.0, 6.0, 30.0).zipWithIndex.map {
      case (v, i) => Ev(100 + i, ts(i + 1), 2, "b", v)
    }

  private def runSpi(name: String, trigger: GraftTrigger, evictor: GraftEvictor,
      batches: Seq[Seq[Ev]]): Set[(Long, Long, Long, Double)] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.globalWindow(ms.toDS(), trigger, evictor).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
  }

  test("globalWindow equals a single-pass driver simulator on random traces and batch splits") {
    // the strategy logic is hand-traced elsewhere; THIS property pins
    // the Spark plumbing — state round-trip, intra-batch ordering,
    // arbitrary micro-batch boundaries — against one in-memory fold
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(20)
      val vals = Vector.fill(n)(math.rint(rnd.nextDouble() * 4000 - 1000) / 10)
      val trigger: GraftTrigger = rnd.nextInt(3) match {
        case 0 => CountTrigger(1 + rnd.nextInt(4))
        case 1 => DeltaTrigger(1.0 + rnd.nextInt(20))
        case _ => PurgingTrigger(CountTrigger(1 + rnd.nextInt(4)))
      }
      val evictor: GraftEvictor = rnd.nextInt(3) match {
        case 0 => CountEvictor(1 + rnd.nextInt(5))
        case 1 => TimeEvictor((1 + rnd.nextInt(5)) * 60000L)
        case _ => NoEvictor
      }
      val events = vals.zipWithIndex.map { case (v, i) => Ev(i + 1, ts(i + 1), 1, "a", v) }
      // random micro-batch boundaries
      val cut1 = 1 + rnd.nextInt(n - 2)
      val cut2 = cut1 + 1 + rnd.nextInt(n - cut1 - 1)
      val split = Seq(events.take(cut1), events.slice(cut1, cut2), events.drop(cut2))

      // driver simulator: the same strategy objects, one fold, no Spark
      var regs = TriggerRegs()
      var buf = Vector.empty[WinElem]
      var fired = 0L
      val expect = Set.newBuilder[(Long, Long, Long, Double)]
      events.foreach { e =>
        val elem = WinElem(e.event_id, e.ts.getTime, e.value)
        buf :+= elem
        val (res, r2) = trigger.onElement(elem, regs)
        regs = r2
        if (res.fire) {
          val kept = evictor.evict(buf)
          expect += ((1L, fired, kept.length.toLong,
            math.rint(kept.map(_.value).sum * 100) / 100))
          fired += 1
          buf = kept
        }
        if (res.purge) buf = Vector.empty
      }
      val got = runSpi(s"spi_prop_$trial", trigger, evictor, split)
      assert(got == expect.result(),
        s"trial $trial trigger=$trigger evictor=$evictor cuts=($cut1,$cut2)")
    }
  }

  private def runTimeSpi(name: String, trigger: GraftTimeTrigger, evictor: GraftEvictor,
      batches: Seq[Seq[Ev]], widthMs: Long = 300000L): Set[(Long, Long, Long, Long, Double)] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.tumblingEventTime(ms.toDS(), widthMs, trigger, evictor).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
  }

  // minutes 1,2,4,7,11 — exercises grid fires, watermark catch-up
  // (minute 4 fires both the 3min and 4min timers), window GC, and a
  // second window early-firing after its own grid point
  private val etEvs = Seq(
    Ev(1, ts(1), 1, "a", 10.0), Ev(2, ts(2), 1, "a", 20.0),
    Ev(3, ts(4), 1, "a", 30.0), Ev(4, ts(7), 1, "a", 40.0),
    Ev(5, ts(11), 1, "a", 50.0))

  test("ContinuousEventTimeTrigger matches the hand-computed Flink trace, incl. cross-batch") {
    // Flink semantics, 5-min tumbling, 1-min continuous trigger:
    //  e1@1min seeds the fire timer at 2min (aligned next interval)
    //  e2@2min: wm=2min -> fire@2min  n=2 sum=30, re-arm 3min
    //  e3@4min: wm=4min -> fire@3min AND fire@4min (timer loop drains
    //    the re-armed timer in the same advance), n=3 sum=60 each
    //  e4@7min: wm=7min passes w0's maxTs 299999 -> window-end fire
    //    n=3 sum=60, state GC'd; w300000 opens, fire timer armed 8min
    //  e5@11min: wm passes 8min and 9min grid fires (n=1 sum=40 each)
    //    then w300000's maxTs 599999 -> final fire n=1 sum=40, GC
    val expect = Set(
      (1L, 0L, 120000L, 2L, 30.0),
      (1L, 0L, 180000L, 3L, 60.0),
      (1L, 0L, 240000L, 3L, 60.0),
      (1L, 0L, 299999L, 3L, 60.0),
      (1L, 300000L, 480000L, 1L, 40.0),
      (1L, 300000L, 540000L, 1L, 40.0),
      (1L, 300000L, 599999L, 1L, 40.0))
    val oneBatch = runTimeSpi("spi_cet1", ContinuousEventTimeTrigger(60000L), NoEvictor, Seq(etEvs))
    assert(oneBatch == expect, s"single batch:\n$oneBatch")
    val split = runTimeSpi("spi_cet2", ContinuousEventTimeTrigger(60000L), NoEvictor,
      Seq(etEvs.take(2), etEvs.slice(2, 4), etEvs.drop(4)))
    assert(split == expect, s"cross-batch state round-trip:\n$split")
  }

  test("EventTimeTrigger (default) fires each window exactly once, at the watermark pass") {
    val got = runTimeSpi("spi_ett", EventTimeTrigger, NoEvictor, Seq(etEvs))
    assert(got == Set(
      (1L, 0L, 299999L, 3L, 60.0),
      (1L, 300000L, 599999L, 1L, 40.0)))
  }

  test("CountEvictor composes with ContinuousEventTimeTrigger on event-time windows") {
    // same trace, buffer trimmed to the newest 2 at every fire, and
    // the trim PERSISTS into window state (evictBefore)
    val got = runTimeSpi("spi_cet_ce", ContinuousEventTimeTrigger(60000L), CountEvictor(2), Seq(etEvs))
    assert(got == Set(
      (1L, 0L, 120000L, 2L, 30.0),
      (1L, 0L, 180000L, 2L, 50.0), // [20,30] after trim-persist
      (1L, 0L, 240000L, 2L, 50.0),
      (1L, 0L, 299999L, 2L, 50.0),
      (1L, 300000L, 480000L, 1L, 40.0),
      (1L, 300000L, 540000L, 1L, 40.0),
      (1L, 300000L, 599999L, 1L, 40.0)))
  }

  test("cross-batch straggler behind a GC'd window is dropped; an open window accepts it") {
    // batch 1 ends with wm=7min: w0 is GC'd, w300000 open
    // batch 2: minute-2 straggler (w0, dead) dropped; minute-6
    // straggler (w300000, alive) joins and appears in the final fire
    val got = runTimeSpi("spi_late", EventTimeTrigger, NoEvictor, Seq(
      etEvs.take(4),
      Seq(Ev(6, ts(2), 1, "a", 999.0), Ev(7, ts(6), 1, "a", 5.0), Ev(5, ts(11), 1, "a", 50.0))))
    assert(got == Set(
      (1L, 0L, 299999L, 3L, 60.0),
      (1L, 300000L, 599999L, 2L, 45.0))) // 40 + 5, straggler joined
  }

  test("sliding windows run per-window fire grids, per the hand trace") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.slidingEventTime(ms.toDS(), 600000L, 300000L,
      ContinuousEventTimeTrigger(60000L), NoEvictor).writeStream
      .format("memory").queryName("spi_slide").outputMode(OutputMode.Append()).start()
    Seq(etEvs.take(3), etEvs.drop(3)).foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = spark.table("spi_slide").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    // w[0,10min): events at minutes 1,2,4,7 — grid fires every minute
    // from 2min; the minute-7 element joins before the 5/6/7-min
    // timers fire (n=4 from there), window-end fire at 599999
    val w0 = Set[(Long, Long, Long, Long, Double)](
      (1L, 0L, 120000L, 2L, 30.0), (1L, 0L, 180000L, 3L, 60.0),
      (1L, 0L, 240000L, 3L, 60.0), (1L, 0L, 300000L, 4L, 100.0),
      (1L, 0L, 360000L, 4L, 100.0), (1L, 0L, 420000L, 4L, 100.0),
      (1L, 0L, 480000L, 4L, 100.0), (1L, 0L, 540000L, 4L, 100.0),
      (1L, 0L, 599999L, 4L, 100.0))
    assert(got.filter(_._2 == 0L) == w0, s"w0 trace:\n${got.filter(_._2 == 0L)}")
    // w[-5min,5min) mirrors the tumbling w0 trace (same 3 elements)
    assert(got.filter(_._2 == -300000L) == Set(
      (1L, -300000L, 120000L, 2L, 30.0), (1L, -300000L, 180000L, 3L, 60.0),
      (1L, -300000L, 240000L, 3L, 60.0), (1L, -300000L, 299999L, 3L, 60.0)))
    // w[5min,15min): its OWN grid seeded at 8min by the minute-7
    // element; the minute-11 element joins before the due timers fire
    assert(got.filter(_._2 == 300000L) == Set(
      (1L, 300000L, 480000L, 2L, 90.0), (1L, 300000L, 540000L, 2L, 90.0),
      (1L, 300000L, 600000L, 2L, 90.0), (1L, 300000L, 660000L, 2L, 90.0)))
  }

  test("q108 batch twin equals the streaming sliding operator on real events") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .where("user_id < 12").collect().map { r =>
        Ev(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L), r.getLong(2),
          r.getString(3), r.getDouble(4))
      }.toSeq
    val ms = MemoryStream[Ev]
    val q = WindowSpi.slidingEventTime(ms.toDS(), WindowSpi.Q108SizeMs,
      WindowSpi.Q108SlideMs, ContinuousEventTimeTrigger(WindowSpi.Q106IntervalMs), NoEvictor)
      .writeStream.format("memory").queryName("spi_q108")
      .outputMode(OutputMode.Append()).start()
    ms.addData(evs: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("spi_q108").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val twin = WindowSpi.q108SlidingContinuousFires(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(streamed == twin && twin.nonEmpty)
  }

  test("allowed lateness: late arrivals re-fire accumulated windows until cleanup") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.tumblingEventTime(ms.toDS(), 300000L, EventTimeTrigger,
      NoEvictor, latenessMs = 600000L).writeStream
      .format("memory").queryName("spi_late_refire").outputMode(OutputMode.Append()).start()
    val batches = Seq(
      Seq(Ev(1, ts(1), 1, "a", 10.0), Ev(2, ts(2), 1, "a", 20.0), Ev(4, ts(7), 1, "a", 40.0)),
      // e5 is late for w0 (end fired) but inside lateness -> re-fire;
      // e6 pushes the watermark past w0's cleanup (16min >= 5min-1ms+10min)
      Seq(Ev(5, ts(3), 1, "a", 5.0), Ev(6, ts(16), 1, "a", 60.0)),
      // e7 arrives after w0's cleanup -> dropped; e8 is late for
      // w300000 (end fired at 599999) but inside ITS lateness -> re-fire
      Seq(Ev(7, ts(4), 1, "a", 7.0), Ev(8, ts(8), 1, "a", 8.0)))
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = spark.table("spi_late_refire").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, 0L, 299999L, 2L, 30.0), // on-time end fire
      (1L, 0L, 180000L, 3L, 35.0), // e5's immediate accumulated re-fire
      (1L, 300000L, 599999L, 1L, 40.0), // second window's end fire
      (1L, 300000L, 480000L, 2L, 48.0)), // e8's re-fire; e7 dropped
      s"got:\n$got")
  }

  test("session SPI: perfect watermark closes eagerly; stragglers backward-extend open sessions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.sessionEventTime(ms.toDS(), 600000L).writeStream
      .format("memory").queryName("spi_sess").outputMode(OutputMode.Append()).start()
    // lag 0: e2@76min's arrival closes e1's session immediately (the
    // perfect watermark passes its end); then e3@68min — not yet
    // behind the watermark — BACKWARD-EXTENDS e2's open session to
    // start at 68min; e4@100min closes it; e5 closes e4's
    val batches = Seq(
      Seq(Ev(1, ts(60), 1, "a", 10.0), Ev(2, ts(76), 1, "a", 20.0)),
      Seq(Ev(3, ts(68), 1, "a", 5.0), Ev(4, ts(100), 1, "a", 7.0)),
      Seq(Ev(5, ts(120), 1, "a", 9.0)))
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = spark.table("spi_sess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, 3600000L, 4199999L, 1L, 10.0), // e1's session closed by e2's arrival
      (1L, 4080000L, 5159999L, 2L, 25.0), // e3 backward-extended e2's session
      (1L, 6000000L, 6599999L, 1L, 7.0)), // e4's session; e5's never closes
      s"got:\n$got")
  }

  test("session straggler behind the watermark still joins an overlapping OPEN session") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.sessionEventTime(ms.toDS(), 600000L).writeStream
      .format("memory").queryName("spi_sess_strag").outputMode(OutputMode.Append()).start()
    // Flink order: merge FIRST, late-check the MERGED window. e5@66min
    // has proto-window end 76min-1ms <= wm (76min) — late on its own —
    // but overlaps the open session [67min, 86min), so it must join
    // (the merged end is in the future). Dropping it by proto-window
    // lateness was the round-5 review finding.
    val batches = Seq(
      Seq(Ev(1, ts(60), 1, "a", 10.0), Ev(2, ts(76), 1, "a", 20.0)),
      Seq(Ev(3, ts(68), 1, "a", 5.0), Ev(4, ts(67), 1, "a", 2.0)),
      Seq(Ev(5, ts(66), 1, "a", 1.0)),
      Seq(Ev(6, ts(100), 1, "a", 7.0)))
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = spark.table("spi_sess_strag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, 3600000L, 4199999L, 1L, 10.0), // e1 closed by e2's arrival
      (1L, 3960000L, 5159999L, 4L, 28.0)), // e4+e3 extended e2; e5 joined late
      s"got:\n$got")
  }

  test("session SPI with a lagging watermark BRIDGES two open sessions (MergingWindowSet)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    // 30-min bounded out-of-orderness: both sessions stay open long
    // enough for the straggler to merge them into one
    val q = WindowSpi.sessionEventTime(ms.toDS(), 600000L, lagMs = 1800000L).writeStream
      .format("memory").queryName("spi_sess_lag").outputMode(OutputMode.Append()).start()
    val batches = Seq(
      Seq(Ev(1, ts(60), 1, "a", 10.0), Ev(2, ts(76), 1, "a", 20.0)),
      Seq(Ev(3, ts(68), 1, "a", 5.0), Ev(4, ts(100), 1, "a", 7.0)),
      Seq(Ev(5, ts(120), 1, "a", 9.0)))
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = spark.table("spi_sess_lag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    // e3 overlaps BOTH [60,70min) and [76,86min) -> one session
    // [60min, 86min); fires when the lagged watermark (120-30=90min)
    // passes 86min-1ms. e4's session end (110min-1) stays ahead of
    // the final watermark -> never fires.
    assert(got == Set((1L, 3600000L, 5159999L, 3L, 35.0)), s"got:\n$got")
  }

  test("q110 batch twin equals the streaming session operator on real events") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .where("user_id < 12").collect().map { r =>
        Ev(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L), r.getLong(2),
          r.getString(3), r.getDouble(4))
      }.toSeq
    val ms = MemoryStream[Ev]
    val q = WindowSpi.sessionEventTime(ms.toDS(), WindowSpi.Q110GapMs)
      .writeStream.format("memory").queryName("spi_q110")
      .outputMode(OutputMode.Append()).start()
    ms.addData(evs: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("spi_q110").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val twin = WindowSpi.q110SessionFires(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(streamed == twin && twin.nonEmpty)
  }

  test("an element trigger REPLACES the end fire on event-time windows (Flink contract)") {
    // CountTrigger(2) on 5-min tumbling windows: only every-2nd-element
    // fires; partial window tails are GC'd silently at the watermark
    val got = runTimeSpi("spi_elem_trig", ElementTrigger(CountTrigger(2)), NoEvictor, Seq(etEvs))
    assert(got == Set((1L, 0L, 120000L, 2L, 30.0)),
      s"only w0's second element fires; no window-end fires:\n$got")
  }

  test("q109 twin produces both end fires and late re-fires on real events") {
    val rows = WindowSpi.q109LateRefires(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(rows.nonEmpty)
    val (endFires, lateFires) = rows.partition { case (ws, t) => t == ws + 299999L }
    assert(endFires.nonEmpty, "no end fires — watermark never passed a window end?")
    assert(lateFires.nonEmpty,
      "no late re-fires — the events table should arrive out of event-time order")
  }

  test("q106 batch twin equals the streaming operator on real events") {
    import spark.implicits._
    val evs = graft.sources.Tables.events(spark, sf)
      .where("user_id < 12").collect().map { r =>
        Ev(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L), r.getLong(2),
          r.getString(3), r.getDouble(4))
      }.toSeq
    val streamed = runTimeSpi("spi_q106", ContinuousEventTimeTrigger(WindowSpi.Q106IntervalMs),
      NoEvictor, Seq(evs), WindowSpi.Q106WidthMs)
    val twin = WindowSpi.q106ContinuousFires(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(streamed == twin && twin.nonEmpty)
  }

  test("q107 batch twin equals the streaming punctuated operator on real events") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf).collect().map { r =>
      Ev(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L), r.getLong(2),
        r.getString(3), r.getDouble(4))
    }.toSeq
    val ms = MemoryStream[Ev]
    val q = WindowSpi.punctuatedTumbling(ms.toDS(), WindowSpi.Q107WidthMs, WindowSpi.Q107Marker)
      .writeStream.format("memory").queryName("spi_q107")
      .outputMode(OutputMode.Append()).start()
    ms.addData(evs: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("spi_q107").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val twin = WindowSpi.q107PunctuatedCloses(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == twin && twin.nonEmpty)
  }

  test("event-time SPI equals a per-batch driver fold on random traces, splits and lateness") {
    // the fold logic is hand-traced above; THIS property pins the
    // Spark plumbing — TimeWinState/SessState encoder round-trips,
    // per-batch (ts, event_id) ordering, arbitrary micro-batch
    // boundaries — against the same fold run without Spark
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + rnd.nextInt(20)
      val evs = (1 to n).map { i =>
        Ev(i, ts(60 + rnd.nextInt(240)), 1L + rnd.nextInt(2), "a",
          math.rint(rnd.nextDouble() * 1000) / 100)
      }
      val latenessMs = rnd.nextInt(3) * 600000L
      val trigger: GraftTimeTrigger =
        if (rnd.nextBoolean()) EventTimeTrigger else ContinuousEventTimeTrigger(60000L)
      val evictor: GraftEvictor =
        if (rnd.nextBoolean()) NoEvictor else CountEvictor(1 + rnd.nextInt(4))
      val cut1 = 1 + rnd.nextInt(n - 2)
      val cut2 = cut1 + 1 + rnd.nextInt(n - cut1 - 1)
      val batches = Seq(evs.take(cut1), evs.slice(cut1, cut2), evs.drop(cut2))

      val ms = MemoryStream[Ev]
      val q = WindowSpi.tumblingEventTime(ms.toDS(), 300000L, trigger, evictor, latenessMs)
        .writeStream.format("memory").queryName(s"spi_prop_et_$trial")
        .outputMode(OutputMode.Append()).start()
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val got = spark.table(s"spi_prop_et_$trial").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet

      // driver simulator: same fold, per batch per key, carried state
      var states = Map.empty[Long, TimeWinState].withDefaultValue(TimeWinState(Long.MinValue, Nil))
      val expect = Set.newBuilder[(Long, Long, Long, Long, Double)]
      batches.foreach { b =>
        b.groupBy(_.user_id).foreach { case (uid, es) =>
          val elems = es.sortBy(e => (e.ts.getTime, e.event_id))
            .map(e => WinElem(e.event_id, e.ts.getTime, e.value))
          val (s2, fires) = WindowSpi.timeWindowFold(states(uid), elems.iterator,
            300000L, trigger, evictor, tumblingAssign(300000L), latenessMs)
          states += uid -> s2
          fires.foreach { case (ws, t, fn, sum) =>
            expect += ((uid, ws, t, fn, math.rint(sum * 100) / 100))
          }
        }
      }
      assert(got == expect.result(),
        s"trial $trial trigger=$trigger evictor=$evictor lateness=$latenessMs cuts=($cut1,$cut2)")

      // same property for the merging session fold, random lag
      val lagMs = rnd.nextInt(3) * 1800000L
      val ms2 = MemoryStream[Ev]
      val q2 = WindowSpi.sessionEventTime(ms2.toDS(), 600000L, EventTimeTrigger, NoEvictor, lagMs)
        .writeStream.format("memory").queryName(s"spi_prop_sess_$trial")
        .outputMode(OutputMode.Append()).start()
      batches.foreach { b => ms2.addData(b: _*); q2.processAllAvailable() }
      q2.stop()
      val got2 = spark.table(s"spi_prop_sess_$trial").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      var sessStates = Map.empty[Long, SessState].withDefaultValue(SessState(Long.MinValue, Nil))
      val expect2 = Set.newBuilder[(Long, Long, Long, Long, Double)]
      batches.foreach { b =>
        b.groupBy(_.user_id).foreach { case (uid, es) =>
          val elems = es.sortBy(e => (e.ts.getTime, e.event_id))
            .map(e => WinElem(e.event_id, e.ts.getTime, e.value))
          val (s2, fires) = WindowSpi.sessionFold(sessStates(uid), elems.iterator,
            600000L, EventTimeTrigger, NoEvictor, lagMs)
          sessStates += uid -> s2
          fires.foreach { case (ws, t, fn, sum) =>
            expect2 += ((uid, ws, t, fn, math.rint(sum * 100) / 100))
          }
        }
      }
      assert(got2 == expect2.result(), s"trial $trial sessions lag=$lagMs cuts=($cut1,$cut2)")
    }
  }

  test("processing-time windows bucket by a virtual clock and fire as it advances") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    VirtualClock.now.set(60000L)
    val ms = MemoryStream[Ev]
    // event TIMESTAMPS are irrelevant here — only arrival clock counts
    val q = WindowSpi.processingTimeTumbling(ms.toDS(), 60000L,
      ContinuousEventTimeTrigger(30000L), NoEvictor,
      clock = () => VirtualClock.now.get()).writeStream
      .format("memory").queryName("spi_ptime").outputMode(OutputMode.Append()).start()
    // batch 1 at clock 60000: both events land in window [60000,120000)
    ms.addData(Ev(1, ts(500), 1, "a", 10.0), Ev(2, ts(1), 1, "a", 20.0))
    q.processAllAvailable()
    // batch 2 at clock 95000: e3 joins, THEN the overdue 90000 grid
    // point fires — arrival-driven clock model: timers run when the
    // clock next advances, so the just-arrived element is included
    VirtualClock.now.set(95000L)
    ms.addData(Ev(3, ts(900), 1, "a", 5.0))
    q.processAllAvailable()
    // batch 3 at clock 130000: window [60000] ends (n=3), new window opens
    VirtualClock.now.set(130000L)
    ms.addData(Ev(4, ts(2), 1, "a", 7.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("spi_ptime").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, 60000L, 90000L, 3L, 35.0), // overdue grid fire, post-arrival
      (1L, 60000L, 119999L, 3L, 35.0)), // window-end fire once clock passed it
      s"got:\n$got")
  }

  test("TimeEvictor keeps only the trailing event-time span at fire, per a hand trace") {
    // user 2 values 5,8,2,6,30 at minutes 1..5; CountTrigger(5) fires
    // once on the 5th element; TimeEvictor(2min) evicts ts <= 5min-2min
    // = minute 3 and older (Flink's inclusive evict cutoff), keeping
    // minutes 4,5 -> (6,30): n=2, sum=36
    val spi = runSpi("spi_te", CountTrigger(5), TimeEvictor(2 * 60000L),
      Seq(evs.filter(_.user_id == 2)))
    assert(spi == Set((2L, 0L, 2L, 36.0)))
  }

  test("window constructors reject arguments that could never fire") {
    import spark.implicits._
    val ds = spark.emptyDataset[Ev]
    val bad: Seq[(String, () => Any)] = Seq(
      "CountTrigger(0)" -> (() => CountTrigger(0)),
      "DeltaTrigger(0.0)" -> (() => DeltaTrigger(0.0)),
      "CountEvictor(0)" -> (() => CountEvictor(0)),
      "TimeEvictor(0)" -> (() => TimeEvictor(0)),
      "tumblingEventTime width 0" -> (() => WindowSpi.tumblingEventTime(ds, 0L, EventTimeTrigger)),
      "slidingEventTime 10/3" -> (() => WindowSpi.slidingEventTime(ds, 10L, 3L, EventTimeTrigger)),
      "sessionEventTime gap 0" -> (() => WindowSpi.sessionEventTime(ds, 0L)),
      "punctuatedTumbling width 0" -> (() => WindowSpi.punctuatedTumbling(ds, 0L)))
    bad.foreach { case (name, make) =>
      withClue(name) { intercept[IllegalArgumentException](make()) }
    }
  }
}
