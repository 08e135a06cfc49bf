package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Tables
import graft.streaming.Streams.Ev

/** Every keyed window of the engine — the reference's
  * WindowedStream.trigger/evictor surface (flink-streaming-java
  * WindowedStream.java:137,190 with windowing/triggers/ and
  * windowing/evictors/) re-expressed as strategy objects over per-key
  * folds, run through one fire step ([[fireStep]]) — and the engine's
  * ONE keyed-state driver ([[keyed]], the only `flatMapGroupsWithState`
  * call site), which also runs the six CEP matchers of
  * [[graft.operators.Patterns]] and the temporal join and session
  * timer of [[Streams]]. As in Flink, where every keyed operator runs
  * on one timer service and only the per-key function differs.
  *
  * Flink's count windows are compositions on [[globalWindow]], built
  * exactly as KeyedStream.java:653,663 builds them:
  *  - `countWindow(n)`: `PurgingTrigger(CountTrigger(n))` + [[NoEvictor]];
  *  - `countWindow(size, slide)`: `CountTrigger(slide)` + `CountEvictor(size)`;
  *  - a delta window: `DeltaTrigger(t)` + `CountEvictor(size)`.
  *
  * Semantics kept from Flink:
  *  - the window buffer holds every element since the last purge;
  *  - `onElement` returns fire/purge like TriggerResult;
  *  - the evictor runs at fire time, BEFORE emission (evictBefore),
  *    and its trimming persists into window state;
  *  - a non-purging trigger with no bounding evictor grows state, in
  *    Flink and here alike — production pairs CountEvictor /
  *    TimeEvictor or a PurgingTrigger, exactly as Flink's docs warn.
  *
  * Graded batch twins (q106-q110, and q105 in
  * [[graft.operators.Typed]]) run the same folds and triggers over the
  * events table, so the DuckDB oracle grades the code the streaming
  * operators run.
  */
object WindowSpi {

  /** Element view handed to triggers/evictors (event time in ms). */
  case class WinElem(event_id: Long, ts_ms: Long, value: Double)

  /** Fire/purge verdict — Flink's TriggerResult. */
  final case class TriggerResult(fire: Boolean, purge: Boolean)
  object TriggerResult {
    val Continue: TriggerResult = TriggerResult(fire = false, purge = false)
    val Fire: TriggerResult = TriggerResult(fire = true, purge = false)
    val FireAndPurge: TriggerResult = TriggerResult(fire = true, purge = true)
  }

  /** The trigger's per-key registers. One fixed shape keeps the state
    * encodable by Spark: a counter, a seeded flag, and a reference
    * value cover the count/delta/threshold trigger family (Flink's
    * equivalents keep the same registers in ReducingState/ValueState). */
  case class TriggerRegs(count: Long = 0L, seeded: Boolean = false, ref: Double = 0.0)

  trait GraftTrigger extends Serializable {
    /** Called once per element in event_id order. */
    def onElement(e: WinElem, regs: TriggerRegs): (TriggerResult, TriggerRegs)
  }

  /** CountTrigger.of(n): fire every n-th element, counter resets on fire. */
  case class CountTrigger(n: Long) extends GraftTrigger {
    require(n > 0, s"CountTrigger needs n > 0, got $n")
    override def onElement(e: WinElem, regs: TriggerRegs): (TriggerResult, TriggerRegs) = {
      val c = regs.count + 1
      if (c >= n) (TriggerResult.Fire, regs.copy(count = 0L))
      else (TriggerResult.Continue, regs.copy(count = c))
    }
  }

  /** DeltaTrigger.of(threshold, |a-b|): fire when the delta vs the
    * element that LAST fired exceeds the threshold; the first element
    * seeds without firing; the reference point advances only on fire. */
  case class DeltaTrigger(threshold: Double) extends GraftTrigger {
    require(threshold > 0, s"DeltaTrigger needs threshold > 0, got $threshold")
    override def onElement(e: WinElem, regs: TriggerRegs): (TriggerResult, TriggerRegs) =
      if (!regs.seeded) (TriggerResult.Continue, regs.copy(seeded = true, ref = e.value))
      else if (math.abs(e.value - regs.ref) > threshold)
        (TriggerResult.Fire, regs.copy(ref = e.value))
      else (TriggerResult.Continue, regs)
  }

  /** PurgingTrigger.of(inner): FIRE becomes FIRE_AND_PURGE. */
  case class PurgingTrigger(inner: GraftTrigger) extends GraftTrigger {
    override def onElement(e: WinElem, regs: TriggerRegs): (TriggerResult, TriggerRegs) = {
      val (r, s) = inner.onElement(e, regs)
      (if (r.fire) TriggerResult.FireAndPurge else r, s)
    }
  }

  trait GraftEvictor extends Serializable {
    /** Trim the window buffer at fire time (arrival order preserved). */
    def evict(buf: Vector[WinElem]): Vector[WinElem]
  }

  /** Keep everything (Flink: no evictor configured). */
  case object NoEvictor extends GraftEvictor {
    override def evict(buf: Vector[WinElem]): Vector[WinElem] = buf
  }

  /** CountEvictor.of(size): keep the newest `size` elements. */
  case class CountEvictor(size: Int) extends GraftEvictor {
    require(size > 0, s"CountEvictor needs size > 0, got $size")
    override def evict(buf: Vector[WinElem]): Vector[WinElem] = buf.takeRight(size)
  }

  /** TimeEvictor.of(windowMs): evict elements with event time AT OR
    * BEFORE maxTs − windowMs (Flink's cutoff is inclusive on the
    * evict side — an element exactly windowMs older than the newest
    * goes). */
  case class TimeEvictor(windowMs: Long) extends GraftEvictor {
    require(windowMs > 0, s"TimeEvictor needs windowMs > 0, got $windowMs")
    override def evict(buf: Vector[WinElem]): Vector[WinElem] =
      if (buf.isEmpty) buf
      else { val hi = buf.map(_.ts_ms).max; buf.filter(_.ts_ms > hi - windowMs) }
  }

  // ------------------------------------------------------------------
  // Event-time windows with trigger/evictor overrides — the reference
  // allows the same Trigger/Evictor objects on Tumbling/Sliding
  // EventTimeWindows (WindowedStream.java:137,190), with
  // ContinuousEventTimeTrigger.java the canonical non-default choice.
  // ------------------------------------------------------------------

  /** Trigger for event-time windows — Flink's Trigger<T, TimeWindow>:
    * element hook + timer hook. The driver owns the window's cleanup
    * timer at maxTs (= windowEnd − 1 ms, GC at watermark ≥ maxTs with
    * zero allowed lateness); the trigger may keep ONE recurring timer
    * of its own in the regs (exposed via [[pendingTimer]]).
    *
    * SPI contract: `onEventTime(t, …)` for `t == pendingTimer(regs)`
    * must fire, clear, or advance that timer — a Continue that leaves
    * it pending would spin the timer loop forever (Flink's timer
    * service has the same implicit rule: a timer fires once). */
  trait GraftTimeTrigger extends Serializable {
    /** Called per element AFTER it joins its window buffer. `wm` is
      * the watermark BEFORE this element advances it (Flink's
      * ctx.getCurrentWatermark() inside onElement) — the late-refire
      * branch (`maxTs <= wm` → FIRE) lives here. */
    def onElement(e: WinElem, windowMaxTs: Long, wm: Long, regs: TriggerRegs): (TriggerResult, TriggerRegs)
    /** Called when the (key-local) watermark passes a due timer —
      * the trigger's own [[pendingTimer]], the window's end timer at
      * `windowMaxTs`, or the cleanup timer (maxTs + lateness). */
    def onEventTime(time: Long, windowMaxTs: Long, regs: TriggerRegs): (TriggerResult, TriggerRegs)
    /** The trigger's own pending timer, if armed. */
    def pendingTimer(regs: TriggerRegs): Option[Long]
    /** Merge two windows' trigger registers (session windows only) —
      * Flink's Trigger.onMerge / canMerge: triggers that keep
      * non-mergeable state must refuse, exactly as Flink's
      * DeltaTrigger does. */
    def onMerge(a: TriggerRegs, b: TriggerRegs): TriggerRegs =
      throw new UnsupportedOperationException(
        s"$this cannot merge windows — use it on non-merging assigners only")
  }

  /** EventTimeTrigger.java — the default: fire when the watermark
    * passes the window's max timestamp; an element arriving AFTER
    * that (inside allowed lateness) re-fires the window immediately —
    * the reference's `maxTimestamp() <= currentWatermark → FIRE`
    * branch, which also skips arming the end timer. */
  case object EventTimeTrigger extends GraftTimeTrigger {
    override def onElement(e: WinElem, windowMaxTs: Long, wm: Long, regs: TriggerRegs): (TriggerResult, TriggerRegs) =
      if (wm != Long.MinValue && windowMaxTs <= wm) (TriggerResult.Fire, regs)
      else (TriggerResult.Continue, regs)
    override def onEventTime(time: Long, windowMaxTs: Long, regs: TriggerRegs): (TriggerResult, TriggerRegs) =
      if (time == windowMaxTs) (TriggerResult.Fire, regs) else (TriggerResult.Continue, regs)
    override def pendingTimer(regs: TriggerRegs): Option[Long] = None
    /** Stateless — merging is trivial (Flink re-registers the merged
      * window's end timer; the driver owns that here). */
    override def onMerge(a: TriggerRegs, b: TriggerRegs): TriggerRegs = a
  }

  /** ContinuousEventTimeTrigger.java: early-fire every `intervalMs`
    * of event time. The first element arms a timer at
    * `floor(ts/interval)*interval + interval` (the reference's
    * nextFireTimestamp); each firing re-arms at `t + interval`, so a
    * watermark jump catches up through every grid point — Flink's
    * timer loop drains newly registered timers ≤ the watermark in the
    * same advance. The window-end fire at maxTs is kept, as in the
    * reference's `time == window.maxTimestamp()` branch. The armed
    * timestamp lives in `regs.ref` (exact: ms values < 2^53). */
  case class ContinuousEventTimeTrigger(intervalMs: Long) extends GraftTimeTrigger {
    require(intervalMs > 0, s"ContinuousEventTimeTrigger needs interval > 0, got $intervalMs")
    override def onElement(e: WinElem, windowMaxTs: Long, wm: Long, regs: TriggerRegs): (TriggerResult, TriggerRegs) =
      // reference order: the past-end FIRE branch returns BEFORE the
      // fireTimestamp seeding — a late-created window gets no grid
      if (wm != Long.MinValue && windowMaxTs <= wm) (TriggerResult.Fire, regs)
      else if (regs.seeded) (TriggerResult.Continue, regs)
      else (TriggerResult.Continue, regs.copy(seeded = true,
        ref = (e.ts_ms - java.lang.Math.floorMod(e.ts_ms, intervalMs) + intervalMs).toDouble))
    override def onEventTime(time: Long, windowMaxTs: Long, regs: TriggerRegs): (TriggerResult, TriggerRegs) = {
      // consume (advance) the grid timer even when the window-end
      // branch wins the same timestamp — a pull-based timer must not
      // stay due after firing
      val advanced =
        if (regs.seeded && time == regs.ref.toLong) regs.copy(ref = regs.ref + intervalMs) else regs
      if (time == windowMaxTs) (TriggerResult.Fire, advanced)
      else if (advanced ne regs) (TriggerResult.Fire, advanced)
      else (TriggerResult.Continue, regs)
    }
    override def pendingTimer(regs: TriggerRegs): Option[Long] =
      if (regs.seeded) Some(regs.ref.toLong) else None
    /** The reference merges fireTimestamp states by MIN — the merged
      * window keeps the earliest pending early-fire. */
    override def onMerge(a: TriggerRegs, b: TriggerRegs): TriggerRegs =
      if (a.seeded && b.seeded) a.copy(ref = math.min(a.ref, b.ref))
      else if (a.seeded) a else b
  }

  /** Run any element-driven [[GraftTrigger]] (Count/Delta/Purging —
    * the GlobalWindows family) on an EVENT-TIME window: Flink's
    * `WindowedStream.trigger(...)` REPLACES the default
    * EventTimeTrigger, so there is no window-end fire — only the
    * element trigger fires, and the window state still GC's
    * (silently) at maxTs + lateness. This closes the trigger ×
    * assigner cross-product: e.g. `CountTrigger(n)` on a tumbling
    * event-time window fires every n-th element per window, then the
    * partial tail is discarded at cleanup, exactly as in Flink. */
  case class ElementTrigger(inner: GraftTrigger) extends GraftTimeTrigger {
    override def onElement(e: WinElem, windowMaxTs: Long, wm: Long, regs: TriggerRegs): (TriggerResult, TriggerRegs) =
      inner.onElement(e, regs)
    override def onEventTime(time: Long, windowMaxTs: Long, regs: TriggerRegs): (TriggerResult, TriggerRegs) =
      (TriggerResult.Continue, regs)
    override def pendingTimer(regs: TriggerRegs): Option[Long] = None
  }

  /** Flink's WindowOperator fire path, the one copy every fold here
    * uses: on FIRE the evictor trims the buffer (evictBefore) and
    * `emit` gets the survivors' count and raw sum; on PURGE the buffer
    * empties. Returns the buffer the window keeps. */
  private def fireStep(res: TriggerResult, buf: Vector[WinElem], evictor: GraftEvictor)(
      emit: (Long, Double) => Unit): Vector[WinElem] = {
    val kept = if (res.fire) evictor.evict(buf) else buf
    if (res.fire) emit(kept.length.toLong, kept.map(_.value).sum)
    if (res.purge) Vector.empty else kept
  }

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  /** Per-key element orders: event time (ties by event_id) for the
    * event-time windows, arrival (event_id) for the rest. */
  private val ByEventTime: Ordering[Ev] = Ordering.by((e: Ev) => (e.ts.getTime, e.event_id))
  private val ByArrival: Ordering[Ev] = Ordering.by((e: Ev) => e.event_id)
  /** [[ByEventTime]] for the batch twins, which fold WinElems. */
  private val ElemByEventTime: Ordering[WinElem] = Ordering.by((e: WinElem) => (e.ts_ms, e.event_id))

  /** An operator's event time: the column its watermark tracks, and
    * the same instant of one element in epoch ms. */
  private[graft] final case class EventTime[T](column: Column, ms: T => Long)

  /** One key's micro-batch result: the next state, the rows to emit,
    * and an optional event-time timer (epoch ms). */
  private[graft] final case class Step[S, O](state: S, out: Iterator[O],
      timerMs: Option[Long] = None)

  /** The one keyed-state driver. An operator supplies its key, its
    * initial state, its per-key `order` (ties included, e.g. "tail
    * first" or "updates before probes") and its fold; per key and
    * micro-batch the driver reads the state (or starts from
    * `initial`), sorts the batch by `order`, folds, stores and emits.
    * The fold also gets the batch's last-seen event time (ms;
    * Long.MinValue without an `eventTime`), the base of idle timers.
    *
    * The driver owns, once:
    *  - empty state: a fold result equal to `initial` is not stored
    *    (reading it back gives the same value), so a key that never
    *    advances holds nothing;
    *  - timeout mode: with an `eventTime`, the input gets the one
    *    10-minute watermark and `EventTimeTimeout` — rows behind the
    *    watermark are dropped, the fold's timer is clamped to
    *    `max(timer, watermark + 1)`, and a key whose timer fires loses
    *    its state, emitting `onTimeout` of it. Without one (the windows
    *    keep a key-local watermark in `S`) there is no timeout.
    *
    * Scale note: the per-key micro-batch slice is materialized to sort
    * it (every fold is order-sensitive) — bounded for keyed traffic,
    * a hazard for a mega-key; shard such keys upstream. */
  private[graft] def keyed[T: Encoder, S: Encoder, O: Encoder](input: Dataset[T], initial: S,
      order: Ordering[T], eventTime: Option[EventTime[T]] = None,
      onTimeout: (Long, S) => Iterator[O] = (_: Long, _: S) => Iterator.empty)(
      key: T => Long)(fold: (Long, S, Seq[T], Long) => Step[S, O]): Dataset[O] = {
    val timed = eventTime.fold(input)(et =>
      input.withColumn("ets", et.column).withWatermark("ets", "10 minutes").as[T])
    val ms = eventTime.map(_.ms)
    timed.groupByKey(key)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](OutputMode.Append(),
        if (ms.isDefined) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()) {
        (k: Long, it: Iterator[T], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            onTimeout(k, s)
          } else {
            val evs = it.toSeq.sorted(order)
            val lastSeenMs = ms.fold(Long.MinValue)(f => evs.iterator.map(f).max)
            val step = fold(k, state.getOption.getOrElse(initial), evs, lastSeenMs)
            if (step.state == initial) { if (state.exists) state.remove() }
            else {
              state.update(step.state)
              step.timerMs.foreach(t =>
                state.setTimeoutTimestamp(math.max(t, state.getCurrentWatermarkMs() + 1L)))
            }
            step.out
          }
      }
  }

  /** One open tumbling window: start, trigger registers, buffer,
    * whether the window-end timer is armed (Flink arms it only for
    * elements arriving BEFORE the watermark passes maxTs — the
    * late-refire path skips arming, so the end fires at most once). */
  case class TimeWin(ws: Long, regs: TriggerRegs, buf: Seq[WinElem],
      endArmed: Boolean = true)
  /** Per-key state: key-local watermark + open windows. */
  case class TimeWinState(wmMs: Long, wins: Seq[TimeWin])
  /** One firing: window start, the event-time the fire happened at,
    * aggregate over the surviving buffer. */
  case class SpiTimeWin(user_id: Long, w_start_ms: Long, fire_ms: Long, n: Long, sum_v: Double)

  /** The time-window operators on [[keyed]]: elements in `order`,
    * stamped with `stamp` (event time, or a processing clock), folded
    * by `fold`; fire sums are rounded at emission (2dp). */
  private def timeWindows[S: Encoder](events: Dataset[Ev], empty: S,
      order: Ordering[Ev] = ByEventTime, stamp: Ev => Long = _.ts.getTime)(
      fold: (S, Iterator[WinElem]) => (S, Seq[(Long, Long, Long, Double)])): Dataset[SpiTimeWin] = {
    import events.sparkSession.implicits._
    keyed(events, empty, order)(_.user_id) { (uid, s0, evs, _) =>
      val (s, fires) = fold(s0, evs.iterator.map(e => WinElem(e.event_id, stamp(e), e.value)))
      Step(s, fires.iterator.map { case (ws, t, n, sum) => SpiTimeWin(uid, ws, t, n, round2(sum)) })
    }
  }

  /** TumblingEventTimeWindows.assignWindows: the one aligned start. */
  private[graft] def tumblingAssign(widthMs: Long)(ts: Long): Seq[Long] =
    Seq(ts - java.lang.Math.floorMod(ts, widthMs))

  /** SlidingEventTimeWindows.assignWindows: every start in
    * (ts − size, ts] aligned to the slide. */
  private[graft] def slidingAssign(sizeMs: Long, slideMs: Long)(ts: Long): Seq[Long] = {
    val lastStart = ts - java.lang.Math.floorMod(ts, slideMs)
    Iterator.iterate(lastStart)(_ - slideMs).takeWhile(_ > ts - sizeMs).toSeq
  }

  /** One key's event-time window fold over any window ASSIGNER —
    * Flink's WindowAssigner seam: tumbling assigns one window per
    * element ([[tumblingAssign]]), sliding assigns size/slide of them
    * ([[slidingAssign]]); every window runs the same per-window
    * trigger registers, evictor, late-drop and GC machinery. Shared by
    * the streaming operators and the graded batch twins (q106, q108,
    * q109). `sizeMs` is the window LENGTH (maxTs = start + sizeMs − 1).
    *
    * Elements must arrive in (ts, event_id) order per call for an
    * in-order stream; the key-local watermark is the running max event
    * time (advanced AFTER each element, then due timers fire in
    * timestamp order — the reference's advanceWatermark loop, which
    * also drains timers re-armed ≤ the watermark during the same
    * advance).
    *
    * Allowed lateness (WindowedStream.allowedLateness): a window is
    * GC'd at maxTs + lateness; an element arriving after maxTs but
    * before cleanup still joins and the TRIGGER decides the re-fire
    * (EventTimeTrigger's past-end branch fires immediately —
    * accumulating re-emission, Flink's contract); an element whose
    * cleanup time has passed is dropped (WindowOperator.isWindowLate).
    * The window-end timer fires at most once (armed only while
    * maxTs > wm at arrival). Emits raw sums — callers round at the
    * emission edge. */
  private[graft] def timeWindowFold(s0: TimeWinState, elems: Iterator[WinElem],
      sizeMs: Long, trigger: GraftTimeTrigger, evictor: GraftEvictor,
      assign: Long => Seq[Long], latenessMs: Long = 0L)
      : (TimeWinState, Seq[(Long, Long, Long, Double)]) = {
    require(latenessMs >= 0, s"lateness must be >= 0, got $latenessMs")
    var wm = s0.wmMs
    val wins = scala.collection.mutable.LinkedHashMap
      .empty[Long, (TriggerRegs, Vector[WinElem], Boolean)]
    s0.wins.foreach(w => wins(w.ws) = (w.regs, w.buf.toVector, w.endArmed))
    val out = ArrayBuffer.empty[(Long, Long, Long, Double)]

    def fire(ws: Long, t: Long, buf: Vector[WinElem], regs: TriggerRegs,
        res: TriggerResult, armed: Boolean): Unit =
      wins(ws) = (regs, fireStep(res, buf, evictor)((n, sum) => out += ((ws, t, n, sum))), armed)

    def fireDue(): Unit = {
      var progressed = true
      while (progressed) {
        progressed = false
        // earliest due timer across open windows: the trigger's own,
        // the armed window-end timer at maxTs, or cleanup at
        // maxTs + lateness (same slot as the end timer when
        // lateness = 0, processed once like Flink's deduped timers)
        val due = wins.iterator.flatMap { case (ws, (regs, _, armed)) =>
          val maxTs = ws + sizeMs - 1
          val cleanupT = maxTs + latenessMs
          trigger.pendingTimer(regs).filter(t => t <= wm && t < cleanupT).map(t => (t, ws)) ++
            (if (armed && maxTs <= wm) Iterator.single((maxTs, ws)) else Iterator.empty) ++
            (if (cleanupT <= wm) Iterator.single((cleanupT, ws)) else Iterator.empty)
        }.toSet.toSeq.sorted
        due.headOption.foreach { case (t, ws) =>
          val (regs, buf, armed) = wins(ws)
          val maxTs = ws + sizeMs - 1
          val (res, regs2) = trigger.onEventTime(t, maxTs, regs)
          fire(ws, t, buf, regs2, res, armed && t != maxTs)
          if (t == maxTs + latenessMs) wins.remove(ws) // GC at cleanup time
          progressed = true
        }
      }
    }

    elems.foreach { e =>
      // per-window late check (Flink's WindowOperator: skip windows
      // past their cleanup time, join the alive ones; an element is
      // fully dropped only when EVERY assigned window is gone)
      assign(e.ts_ms).foreach { ws =>
        val maxTs = ws + sizeMs - 1
        if (wm == Long.MinValue || maxTs + latenessMs > wm) {
          val (regs0, buf0, armed0) = wins.getOrElse(ws,
            (TriggerRegs(), Vector.empty[WinElem],
              // arm the end timer only if the watermark has not yet
              // passed maxTs — the late-refire path never arms it
              wm == Long.MinValue || maxTs > wm))
          val (res, regs) = trigger.onElement(e, maxTs, wm, regs0)
          fire(ws, e.ts_ms, buf0 :+ e, regs, res, armed0)
        }
      }
      wm = if (wm == Long.MinValue) e.ts_ms else math.max(wm, e.ts_ms)
      fireDue()
    }
    (TimeWinState(wm, wins.iterator.map { case (ws, (r, b, a)) => TimeWin(ws, r, b, a) }.toSeq),
      out.toSeq)
  }

  private val NoTimeWins = TimeWinState(Long.MinValue, Nil)

  /** TumblingEventTimeWindows + a custom trigger/evictor as a
    * streaming operator — WindowedStream.window(Tumbling…)
    * .trigger(…).evictor(…). Each micro-batch's elements are applied
    * in (ts, event_id) order; the watermark is key-local (same rule
    * as [[punctuatedTumbling]]), so cross-batch stragglers hit the
    * late-drop rule exactly as a Flink watermark straggler would. */
  def tumblingEventTime(events: Dataset[Ev], widthMs: Long,
      trigger: GraftTimeTrigger, evictor: GraftEvictor = NoEvictor,
      latenessMs: Long = 0L): Dataset[SpiTimeWin] = {
    require(widthMs > 0, s"window width must be positive, got $widthMs")
    import events.sparkSession.implicits._
    timeWindows(events, NoTimeWins)(timeWindowFold(_, _, widthMs, trigger, evictor,
      tumblingAssign(widthMs), latenessMs))
  }

  /** SlidingEventTimeWindows + a custom trigger/evictor — the other
    * assigner the reference's WindowedStream accepts trigger/evictor
    * overrides on. Same per-window state machine as
    * [[tumblingEventTime]]; an element joins size/slide windows and
    * each keeps its own trigger registers (Flink's per-window
    * partitioned trigger state). */
  def slidingEventTime(events: Dataset[Ev], sizeMs: Long, slideMs: Long,
      trigger: GraftTimeTrigger, evictor: GraftEvictor = NoEvictor,
      latenessMs: Long = 0L): Dataset[SpiTimeWin] = {
    require(sizeMs > 0 && slideMs > 0 && sizeMs % slideMs == 0,
      s"need size > 0, slide > 0, size % slide == 0; got $sizeMs/$slideMs")
    import events.sparkSession.implicits._
    timeWindows(events, NoTimeWins)(timeWindowFold(_, _, sizeMs, trigger, evictor,
      slidingAssign(sizeMs, slideMs), latenessMs))
  }

  case class SpiWinState(regs: TriggerRegs, buf: Seq[WinElem], fired: Long)
  case class SpiWin(user_id: Long, fire_idx: Long, n: Long, sum_v: Double)

  /** GlobalWindows + trigger + evictor: per key, in event_id order,
    * buffer each element; when the trigger fires, evict, emit
    * count+sum over the surviving window contents (the key's
    * `fire_idx`-th fire), persist the trimmed buffer; purge clears it.
    *
    * State per key is the buffer, as in Flink's buffering
    * WindowOperator: `PurgingTrigger(CountTrigger(n))` holds at most n
    * elements, `CountTrigger(slide)` + `CountEvictor(size)` at most
    * size + slide − 1, and a `DeltaTrigger` grows the buffer until its
    * next fire trims it. A hand-fused count window could keep O(1)
    * state (an index, a count and a sum); this operator trades that
    * for one state machine. */
  def globalWindow(events: Dataset[Ev], trigger: GraftTrigger,
      evictor: GraftEvictor): Dataset[SpiWin] = {
    import events.sparkSession.implicits._
    keyed(events, SpiWinState(TriggerRegs(), Nil, 0L), ByArrival)(_.user_id) { (uid, s0, evs, _) =>
      val out = ArrayBuffer.empty[SpiWin]
      val (regs, buf) = evs.foldLeft((s0.regs, s0.buf.toVector)) { case ((regs0, buf0), e) =>
        val elem = WinElem(e.event_id, e.ts.getTime, e.value)
        val (res, regs) = trigger.onElement(elem, regs0)
        (regs, fireStep(res, buf0 :+ elem, evictor) { (n, sum) =>
          out += SpiWin(uid, s0.fired + out.length, n, round2(sum)) })
      }
      Step(SpiWinState(regs, buf, s0.fired + out.length), out.iterator)
    }
  }

  /** The graded batch twins' one skeleton (q106, q108-q110): each of
    * the first [[Q106Users]] users' events as WinElems in `arrival`
    * order, folded once from the empty state; sums rounded at emission
    * like the streaming operators. */
  private def batchTwin(spark: SparkSession, dir: String, arrival: Ordering[WinElem])(
      fold: Iterator[WinElem] => Seq[(Long, Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter(col("user_id") < Q106Users)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ts_ms"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (uid, it) =>
        fold(it.map(e => WinElem(e._2, e._3, e._4)).toSeq.sorted(arrival).iterator)
          .iterator.map { case (ws, t, n, sum) => (uid, ws, t, n, round2(sum)) }
      }
      .toDF("user_id", "w_start_ms", "fire_ms", "n", "sum_v")
      .orderBy(col("user_id"), col("w_start_ms"), col("fire_ms"), col("n"))
  }

  // ---------------------------------------------------------------- q106
  /** ContinuousEventTimeTrigger fire trace as a BATCH groupReduce —
    * the graded twin of [[tumblingEventTime]] with
    * [[ContinuousEventTimeTrigger]](1 min) over 5-minute windows:
    * walking each user's events in (ts, event_id) order (an in-order
    * stream, so the key-local watermark is each element's own
    * timestamp), every fire the trigger would emit — the 1-minute
    * early-fire grid from the first element's aligned next-interval
    * plus the window-end fire — with the window contents AT that
    * fire. Runs [[timeWindowFold]], the exact streaming state
    * machine. The oracle re-derives the grid declaratively: per
    * window, fires at t ∈ {align(first_ts)+k·60s} ∩ (first_ts,
    * min(window_max, user_max_ts)] plus window_max when the watermark
    * reaches it, each aggregating the window's elements that arrived
    * up to the first element with ts ≥ t (per-user timestamps are
    * distinct at every SF, so arrival order ≡ ts order and the
    * boundary element is unique). Scoped to user_id < [[Q106Users]];
    * `value` is cent-precise, so round(sum, 2) is tie-free on both
    * engines. */
  val Q106Users = 12
  val Q106WidthMs: Long = 300000L
  val Q106IntervalMs: Long = 60000L

  def q106ContinuousFires(spark: SparkSession, dir: String): DataFrame =
    batchTwin(spark, dir, ElemByEventTime)(timeWindowFold(NoTimeWins, _, Q106WidthMs,
      ContinuousEventTimeTrigger(Q106IntervalMs), NoEvictor,
      tumblingAssign(Q106WidthMs))._2)

  val q106Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, epoch_us(ts) // 1000 AS ts_ms,
       |    (epoch_us(ts) // 1000) - (epoch_us(ts) // 1000) % ${Q106WidthMs} AS ws
       |  FROM events WHERE user_id < $Q106Users),
       |u AS (SELECT user_id, max(ts_ms) AS wm_max FROM e GROUP BY 1),
       |w AS (SELECT user_id, ws, min(ts_ms) AS first_ts FROM e GROUP BY 1, 2),
       |grid AS (
       |  SELECT w.user_id, w.ws, unnest(generate_series(
       |      w.first_ts - w.first_ts % ${Q106IntervalMs} + ${Q106IntervalMs},
       |      least(w.ws + ${Q106WidthMs - 1}, u.wm_max), ${Q106IntervalMs})) AS t
       |  FROM w JOIN u USING (user_id)
       |  UNION ALL
       |  SELECT w.user_id, w.ws, w.ws + ${Q106WidthMs - 1} AS t
       |  FROM w JOIN u USING (user_id) WHERE u.wm_max >= w.ws + ${Q106WidthMs - 1}),
       |bnd AS (
       |  SELECT g.user_id, g.ws, g.t, min(e2.ts_ms) AS bts
       |  FROM grid g JOIN e e2 ON e2.user_id = g.user_id AND e2.ts_ms >= g.t
       |  GROUP BY 1, 2, 3)
       |SELECT b.user_id, b.ws AS w_start_ms, b.t AS fire_ms,
       |  count(*) AS n, round(sum(x.value), 2) AS sum_v
       |FROM bnd b JOIN e x
       |  ON x.user_id = b.user_id AND x.ws = b.ws AND x.ts_ms <= b.bts
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  /** One open session window: [start, last + gap), trigger registers,
    * buffer. */
  case class SessWin(start: Long, last: Long, regs: TriggerRegs, buf: Seq[WinElem])
  case class SessState(wmMs: Long, wins: Seq[SessWin])
  private val NoSessions = SessState(Long.MinValue, Nil)

  /** EventTimeSessionWindows + trigger/evictor — the MERGING assigner
    * (Flink's MergingWindowAssigner / MergingWindowSet): an element's
    * proto-window [ts, ts + gap) absorbs every open session it
    * overlaps — including BRIDGING two previously separate sessions —
    * merging buffers (in session-start order) and trigger registers
    * via [[GraftTimeTrigger.onMerge]]; the merged window's end timer
    * moves to last + gap − 1 (Flink re-registers on merge). A session
    * fires when the key-local watermark passes its end; state is GC'd
    * then (allowed lateness 0 — sessions + lateness re-merge windows
    * in Flink too, a contract [[Streams.session]]'s watermark handles
    * at the engine level). Elements whose proto-window is already
    * past the watermark are dropped. Emits (start, fire_ms, n, raw
    * sum). */
  private[graft] def sessionFold(s0: SessState, elems: Iterator[WinElem],
      gapMs: Long, trigger: GraftTimeTrigger, evictor: GraftEvictor,
      lagMs: Long = 0L)
      : (SessState, Seq[(Long, Long, Long, Double)]) = {
    // lagMs models BoundedOutOfOrdernessWatermarks: wm = max ts − lag.
    // With a perfect (lag 0) key-local watermark two DISJOINT sessions
    // can never both be open — the older closes the moment a newer
    // element arrives — so the bridging merge below is reachable only
    // with a lagging watermark (or via backward-extension, where an
    // out-of-order element prepends onto one open session).
    var wm = s0.wmMs
    var sess = s0.wins.toVector
    val out = ArrayBuffer.empty[(Long, Long, Long, Double)]

    def fireDue(): Unit = {
      var progressed = true
      while (progressed) {
        progressed = false
        val due = sess.iterator.zipWithIndex.flatMap { case (s, i) =>
          val maxTs = s.last + gapMs - 1
          trigger.pendingTimer(s.regs).filter(t => t <= wm && t < maxTs).map(t => (t, i, false)) ++
            (if (maxTs <= wm) Iterator.single((maxTs, i, true)) else Iterator.empty)
        }.toSeq.sortBy { case (t, i, _) => (t, sess(i).start) }
        due.headOption.foreach { case (t, i, isEnd) =>
          val s = sess(i)
          val (res, regs2) = trigger.onEventTime(t, s.last + gapMs - 1, s.regs)
          val buf = fireStep(res, s.buf.toVector, evictor)((n, sum) => out += ((s.start, t, n, sum)))
          sess = if (isEnd) sess.patch(i, Nil, 1) // GC at the session end
            else sess.updated(i, s.copy(regs = regs2, buf = buf))
          progressed = true
        }
      }
    }

    elems.foreach { e =>
      // merge FIRST, late-check the MERGED window — Flink's
      // WindowOperator order (addWindow, then isWindowLate on the
      // result): a straggler whose own proto-window is behind the
      // watermark still joins an open session it overlaps, because
      // the merged window's end is that session's (future) end. Only
      // an overlap-free proto-window can be late, since any OPEN
      // session already has end > wm (else fireDue would have GC'd it).
      val (overlap, rest) = sess.partition(s =>
        e.ts_ms <= s.last + gapMs - 1 && s.start <= e.ts_ms + gapMs - 1)
      if (overlap.isEmpty && wm != Long.MinValue && e.ts_ms + gapMs - 1 <= wm) {
        // merged (= proto) window already behind the watermark: drop
      } else {
        val merged = overlap.sortBy(_.start)
        val start = (merged.map(_.start) :+ e.ts_ms).min
        val last = (merged.map(_.last) :+ e.ts_ms).max
        val regs0 = merged.map(_.regs).reduceOption(trigger.onMerge).getOrElse(TriggerRegs())
        val (res, regs) = trigger.onElement(e, last + gapMs - 1, wm, regs0)
        val buf = fireStep(res, merged.flatMap(_.buf).toVector :+ e, evictor)(
          (n, sum) => out += ((start, e.ts_ms, n, sum)))
        sess = rest :+ SessWin(start, last, regs, buf)
      }
      wm = if (wm == Long.MinValue) e.ts_ms - lagMs else math.max(wm, e.ts_ms - lagMs)
      fireDue()
    }
    (SessState(wm, sess), out.toSeq)
  }

  /** Session windows with trigger/evictor as a streaming operator —
    * WindowedStream.window(EventTimeSessionWindows.withGap(…))
    * .trigger(…).evictor(…). `lagMs` is the watermark's bounded
    * out-of-orderness delay (0 = punctuated-perfect): with a lag,
    * disjoint sessions stay open long enough for a straggler to
    * BRIDGE them — the MergingWindowSet path. */
  def sessionEventTime(events: Dataset[Ev], gapMs: Long,
      trigger: GraftTimeTrigger = EventTimeTrigger,
      evictor: GraftEvictor = NoEvictor, lagMs: Long = 0L): Dataset[SpiTimeWin] = {
    require(gapMs > 0, s"session gap must be positive, got $gapMs")
    import events.sparkSession.implicits._
    timeWindows(events, NoSessions)(sessionFold(_, _, gapMs, trigger, evictor, lagMs))
  }

  /** Processing-time tumbling windows with the trigger/evictor SPI —
    * the reference's ProcessingTimeTrigger.java /
    * ContinuousProcessingTimeTrigger.java family. Windows bucket by
    * the CLOCK at arrival, not event time, so the same
    * [[timeWindowFold]] machine runs with clock timestamps: the
    * "watermark" is the processing clock and
    * [[ContinuousEventTimeTrigger]] doubles as the continuous
    * processing-time trigger over it (identical grid semantics).
    * The clock is injected — `System.currentTimeMillis` in
    * production, a scripted virtual clock in specs, which is the
    * honest check for an inherently nondeterministic surface (no
    * cross-engine oracle can exist). Timers fire as the clock
    * advances at the next arrival (micro-batch model; a
    * GroupStateTimeout.ProcessingTimeTimeout is the no-input firing
    * path, demonstrated by [[Streams.sessionTimeoutAlerts]]'s
    * event-time twin). Elements run in arrival (event_id) order,
    * each stamped with the clock as the fold reaches it — the fold
    * then treats clock time exactly as event time with a perfect
    * watermark. */
  def processingTimeTumbling(events: Dataset[Ev], widthMs: Long,
      trigger: GraftTimeTrigger, evictor: GraftEvictor = NoEvictor,
      clock: () => Long = () => System.currentTimeMillis()): Dataset[SpiTimeWin] = {
    require(widthMs > 0, s"window width must be positive, got $widthMs")
    import events.sparkSession.implicits._
    timeWindows(events, NoTimeWins, ByArrival, _ => clock())(
      timeWindowFold(_, _, widthMs, trigger, evictor, tumblingAssign(widthMs)))
  }

  // ---------------------------------------------------------------- q110
  /** Session-window fires through the MERGING SPI as a BATCH
    * groupReduce — the graded twin of [[sessionEventTime]] with the
    * default trigger and a 30-minute gap: walking each user's events
    * in (ts, event_id) order (in-order stream, key-local watermark =
    * each element's own timestamp), every session fires once, when a
    * later element pushes the watermark past session_last + gap − 1;
    * each user's final session never closes. The oracle derives the
    * same sessions as gap islands (LAG ≥ gap starts a new island, the
    * q92 device) and keeps islands whose end the user's max timestamp
    * reaches. */
  val Q110GapMs: Long = 1800000L

  def q110SessionFires(spark: SparkSession, dir: String): DataFrame =
    batchTwin(spark, dir, ElemByEventTime)(
      sessionFold(NoSessions, _, Q110GapMs, EventTimeTrigger, NoEvictor)._2)

  val q110Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, epoch_us(ts) // 1000 AS ts_ms
       |  FROM events WHERE user_id < $Q106Users),
       |o AS (
       |  SELECT *, CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id
       |      ORDER BY ts_ms, event_id) IS NULL
       |    OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
       |      ORDER BY ts_ms, event_id) >= ${Q110GapMs}
       |    THEN 1 ELSE 0 END AS brk
       |  FROM e),
       |i AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM o),
       |agg AS (
       |  SELECT user_id, island, min(ts_ms) AS w_start_ms, max(ts_ms) AS last_ts,
       |    count(*) AS n, round(sum(value), 2) AS sum_v
       |  FROM i GROUP BY 1, 2),
       |u AS (SELECT user_id, max(ts_ms) AS wm_max FROM e GROUP BY 1)
       |SELECT a.user_id, a.w_start_ms, a.last_ts + ${Q110GapMs - 1} AS fire_ms,
       |  a.n, a.sum_v
       |FROM agg a JOIN u ON u.user_id = a.user_id
       |WHERE u.wm_max >= a.last_ts + ${Q110GapMs - 1}
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q108
  /** [[q106ContinuousFires]]'s sliding sibling — the graded twin of
    * [[slidingEventTime]] with [[ContinuousEventTimeTrigger]](1 min)
    * over 10-minute windows sliding by 5: every element joins two
    * windows, each window runs its OWN fire grid seeded from its own
    * first element (Flink's per-window trigger state). The oracle is
    * the q106 grid reconstruction with the element relation expanded
    * by the two slide offsets (q19's assigner trick). */
  val Q108SizeMs: Long = 600000L
  val Q108SlideMs: Long = 300000L

  def q108SlidingContinuousFires(spark: SparkSession, dir: String): DataFrame =
    batchTwin(spark, dir, ElemByEventTime)(timeWindowFold(NoTimeWins, _, Q108SizeMs,
      ContinuousEventTimeTrigger(Q106IntervalMs), NoEvictor,
      slidingAssign(Q108SizeMs, Q108SlideMs))._2)

  val q108Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, ts_ms,
       |    ts_ms - ts_ms % ${Q108SlideMs} - k * ${Q108SlideMs} AS ws
       |  FROM (SELECT user_id, event_id, value, epoch_us(ts) // 1000 AS ts_ms
       |        FROM events WHERE user_id < $Q106Users)
       |  CROSS JOIN (VALUES (0), (1)) AS offsets(k)),
       |u AS (SELECT user_id, max(ts_ms) AS wm_max FROM e GROUP BY 1),
       |w AS (SELECT user_id, ws, min(ts_ms) AS first_ts FROM e GROUP BY 1, 2),
       |grid AS (
       |  SELECT w.user_id, w.ws, unnest(generate_series(
       |      w.first_ts - w.first_ts % ${Q106IntervalMs} + ${Q106IntervalMs},
       |      least(w.ws + ${Q108SizeMs - 1}, u.wm_max), ${Q106IntervalMs})) AS t
       |  FROM w JOIN u USING (user_id)
       |  UNION ALL
       |  SELECT w.user_id, w.ws, w.ws + ${Q108SizeMs - 1} AS t
       |  FROM w JOIN u USING (user_id) WHERE u.wm_max >= w.ws + ${Q108SizeMs - 1}),
       |bnd AS (
       |  SELECT g.user_id, g.ws, g.t, min(e2.ts_ms) AS bts
       |  FROM grid g JOIN e e2 ON e2.user_id = g.user_id AND e2.ts_ms >= g.t
       |  GROUP BY 1, 2, 3)
       |SELECT b.user_id, b.ws AS w_start_ms, b.t AS fire_ms,
       |  count(*) AS n, round(sum(x.value), 2) AS sum_v
       |FROM bnd b JOIN e x
       |  ON x.user_id = b.user_id AND x.ws = b.ws AND x.ts_ms <= b.bts
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q109
  /** Allowed-lateness re-fires as a BATCH groupReduce — the graded
    * twin of [[tumblingEventTime]] with the default
    * [[EventTimeTrigger]] and `allowedLateness` = 1 h over 5-min
    * windows. The events table is generated in event-time order, so
    * arrival is modeled as a DETERMINISTIC INTERLEAVE: per user,
    * events arrive in (2-hour block, event_id mod 3, event_id) order —
    * three sub-streams alternating within each block, the shape of a
    * multi-partition source — giving real out-of-order arrival
    * (probed: ~15-20 late re-fires AND ~4-8 beyond-lateness drops per
    * SF). Semantics per Flink: the window fires once when the
    * key-local watermark (running max ts) passes its end, every
    * late-but-inside-lateness arrival immediately re-fires the
    * accumulated window, and arrivals past maxTs + lateness are
    * dropped. The oracle derives end fires (first arrival whose
    * running-max watermark reaches the window end, provided the
    * window's first element arrived pre-end — the end timer arms only
    * then) and late re-fires declaratively over the same arrival
    * ranking. */
  val Q109WidthMs: Long = 300000L
  val Q109LatenessMs: Long = 3600000L
  val Q109BlockMs: Long = 7200000L

  def q109LateRefires(spark: SparkSession, dir: String): DataFrame =
    batchTwin(spark, dir,
      Ordering.by((e: WinElem) => (e.ts_ms / Q109BlockMs, e.event_id % 3, e.event_id)))(
      timeWindowFold(NoTimeWins, _, Q109WidthMs, EventTimeTrigger, NoEvictor,
        tumblingAssign(Q109WidthMs), Q109LatenessMs)._2)

  val q109Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, ts_ms, ts_ms - ts_ms % ${Q109WidthMs} AS ws,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts_ms // ${Q109BlockMs}, event_id % 3, event_id) AS rn,
       |    max(ts_ms) OVER (PARTITION BY user_id
       |      ORDER BY ts_ms // ${Q109BlockMs}, event_id % 3, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm_incl,
       |    max(ts_ms) OVER (PARTITION BY user_id
       |      ORDER BY ts_ms // ${Q109BlockMs}, event_id % 3, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_before
       |  FROM (SELECT user_id, event_id, value, epoch_us(ts) // 1000 AS ts_ms
       |        FROM events WHERE user_id < $Q106Users)),
       |kept AS (
       |  SELECT * FROM e
       |  WHERE wm_before IS NULL OR wm_before < ws + ${Q109WidthMs - 1} + ${Q109LatenessMs}),
       |w AS (SELECT user_id, ws, min(rn) AS first_rn FROM kept GROUP BY 1, 2),
       |armed AS (
       |  SELECT w.user_id, w.ws
       |  FROM w JOIN kept f ON f.user_id = w.user_id AND f.rn = w.first_rn
       |  WHERE f.wm_before IS NULL OR f.wm_before < w.ws + ${Q109WidthMs - 1}),
       |endrn AS (
       |  SELECT a.user_id, a.ws, min(e2.rn) AS end_rn
       |  FROM armed a JOIN e e2
       |    ON e2.user_id = a.user_id AND e2.wm_incl >= a.ws + ${Q109WidthMs - 1}
       |  GROUP BY 1, 2),
       |endfires AS (
       |  SELECT n.user_id, n.ws AS w_start_ms, n.ws + ${Q109WidthMs - 1} AS fire_ms,
       |    count(*) AS n, round(sum(k.value), 2) AS sum_v
       |  FROM endrn n JOIN kept k
       |    ON k.user_id = n.user_id AND k.ws = n.ws AND k.rn <= n.end_rn
       |  GROUP BY 1, 2, 3),
       |latefires AS (
       |  SELECT l.user_id, l.ws AS w_start_ms, l.ts_ms AS fire_ms,
       |    count(*) AS n, round(sum(k.value), 2) AS sum_v
       |  FROM (SELECT * FROM kept
       |        WHERE wm_before IS NOT NULL AND wm_before >= ws + ${Q109WidthMs - 1}) l
       |  JOIN kept k ON k.user_id = l.user_id AND k.ws = l.ws AND k.rn <= l.rn
       |  GROUP BY 1, 2, 3)
       |SELECT * FROM endfires UNION ALL SELECT * FROM latefires
       |ORDER BY user_id, w_start_ms, fire_ms, n""".stripMargin

  /** Punctuated watermarks (the reference's
    * AssignerWithPunctuatedWatermarks.java): the watermark advances on
    * MARKER RECORDS in the stream, not on a periodic max-event-time
    * estimate. Structured Streaming's `withWatermark` is periodic-only,
    * so the punctuated contract runs one level up as keyed state:
    * ordinary events accumulate into tumbling windows; a marker record
    * (`event_type == marker`) carries the upstream promise "nothing
    * older than my timestamp follows on this key" and IMMEDIATELY
    * closes — emits — every window ending at or before it (Flink's
    * punctuated emit path, zero latency between promise and output);
    * events arriving behind the key-local punctuated watermark are
    * dropped, Flink's default late-data behavior. State per key is the
    * open-window aggregates plus one watermark long.
    */
  case class PunctState(wmMs: Long, open: Seq[(Long, Long, Double)])
  case class PunctWin(user_id: Long, w_start_ms: Long, n: Long, sum_v: Double)

  /** One key's punctuated-watermark fold — the EXACT state machine of
    * [[punctuatedTumbling]], shared with its graded batch twin q107 so
    * the driver's DuckDB oracle grades the same code the streaming
    * operator runs. Elements arrive in event_id order as
    * (ts_ms, isMarker, value); emits (w_start_ms, n, sum_2dp) per
    * closed window. */
  private[graft] def punctFold(s0: PunctState,
      elems: Iterator[(Long, Boolean, Double)],
      widthMs: Long): (PunctState, Seq[(Long, Long, Double)]) = {
    var s = s0
    val out = ArrayBuffer.empty[(Long, Long, Double)]
    elems.foreach { case (t, isMarker, v) =>
      if (isMarker) {
        val wm = math.max(s.wmMs, t)
        val (closed, open) = s.open.partition { case (ws, _, _) => ws + widthMs <= wm }
        closed.sortBy(_._1).foreach { case (ws, n, sum) => out += ((ws, n, round2(sum))) }
        s = PunctState(wm, open)
      } else if (s.wmMs != Long.MinValue &&
          (t - java.lang.Math.floorMod(t, widthMs)) + widthMs <= s.wmMs) {
        // dropped ONLY when the event's window is ENTIRELY late
        // (window end <= watermark) — Flink's WindowOperator
        // rule; a late event whose window is still open joins it
      } else {
        val ws = t - java.lang.Math.floorMod(t, widthMs)
        val open = s.open.toVector
        val i = open.indexWhere(_._1 == ws)
        s = s.copy(open = if (i < 0) open :+ ((ws, 1L, v))
          else open.updated(i, (ws, open(i)._2 + 1, open(i)._3 + v)))
      }
    }
    (s, out.toSeq)
  }

  private val NoPunct = PunctState(Long.MinValue, Nil)

  def punctuatedTumbling(events: Dataset[Ev], widthMs: Long,
      marker: String = "wm"): Dataset[PunctWin] = {
    require(widthMs > 0, s"window width must be positive, got $widthMs")
    import events.sparkSession.implicits._
    keyed(events, NoPunct, ByArrival)(_.user_id) { (uid, s0, evs, _) =>
      val (s, closes) = punctFold(s0,
        evs.iterator.map(e => (e.ts.getTime, e.event_type == marker, e.value)), widthMs)
      Step(s, closes.iterator.map { case (ws, n, sum) => PunctWin(uid, ws, n, sum) })
    }
  }

  // ---------------------------------------------------------------- q107
  /** Punctuated-watermark window closes as a BATCH groupReduce — the
    * graded twin of [[punctuatedTumbling]], running the SAME
    * [[punctFold]] state machine over the events table with
    * `signup` rows as the markers: walking each user's events in
    * event_id order, a marker advances the key-local watermark to its
    * timestamp and immediately closes (emits) every 5-minute window
    * ending at or before it; non-marker events behind the watermark
    * are dropped when their window is entirely late, else join their
    * window. The oracle derives the same closes declaratively: a
    * window's closing marker is the FIRST marker whose running-max
    * watermark reaches the window end, and its contents are the
    * window's events that arrived (event_id order) before that
    * marker — the drop rule falls out, because an event dropped by
    * the machine necessarily sits after its window's closing marker. */
  val Q107WidthMs: Long = 300000L
  val Q107Marker = "signup"

  def q107PunctuatedCloses(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ts_ms"),
        (col("event_type") === Q107Marker).as("is_marker"), col("value"))
      .as[(Long, Long, Long, Boolean, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (uid, it) =>
        val (_, closes) = punctFold(NoPunct,
          it.toSeq.sortBy(_._2).iterator.map(e => (e._3, e._4, e._5)), Q107WidthMs)
        closes.iterator.map { case (ws, n, sum) => (uid, ws, n, sum) }
      }
      .toDF("user_id", "w_start_ms", "n", "sum_v")
      .orderBy(col("user_id"), col("w_start_ms"))
  }

  val q107Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, value,
       |    epoch_us(ts) // 1000 AS ts_ms
       |  FROM events),
       |m AS (
       |  SELECT user_id, event_id,
       |    max(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id) AS wm
       |  FROM e WHERE event_type = '$Q107Marker'),
       |ev AS (
       |  SELECT user_id, event_id, value,
       |    ts_ms - ts_ms % ${Q107WidthMs} AS ws
       |  FROM e WHERE event_type <> '$Q107Marker'),
       |closes AS (
       |  SELECT w.user_id, w.ws, min(m.event_id) AS close_id
       |  FROM (SELECT DISTINCT user_id, ws FROM ev) w
       |  JOIN m ON m.user_id = w.user_id AND w.ws + ${Q107WidthMs} <= m.wm
       |  GROUP BY 1, 2)
       |SELECT c.user_id, c.ws AS w_start_ms,
       |  count(*) AS n, round(sum(ev.value), 2) AS sum_v
       |FROM closes c JOIN ev
       |  ON ev.user_id = c.user_id AND ev.ws = c.ws AND ev.event_id < c.close_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q106_continuous_fires" -> (q106ContinuousFires _),
    "q107_punctuated_closes" -> (q107PunctuatedCloses _),
    "q108_sliding_continuous" -> (q108SlidingContinuousFires _),
    "q109_late_refires" -> (q109LateRefires _),
    "q110_session_fires" -> (q110SessionFires _))

  def oracles: Map[String, String] = Map(
    "q106_continuous_fires" -> q106Sql,
    "q107_punctuated_closes" -> q107Sql,
    "q108_sliding_continuous" -> q108Sql,
    "q109_late_refires" -> q109Sql,
    "q110_session_fires" -> q110Sql)
}
