package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.WindowSpi
import graft.streaming.WindowSpi.{EventTime, Step}

/** Sequential event-pattern matching — the CEP surface (SURVEY.md
  * §2.6 neighborhood; reference ships the full Flink CEP library:
  * `/root/reference` flink-cep/src/main/java/org/apache/flink/cep/
  * `CEP.java`, `nfa/NFA.java`, `pattern/Pattern.java:begin/next/
  * followedBy`). Re-expressed Spark-first:
  *
  *  - The matcher itself is a tiny per-key fold over time-ordered
  *    events ([[earliestChain]]) — Flink's `followedBy` ("relaxed
  *    contiguity": skip non-matching events, take the EARLIEST match
  *    of each step strictly after the previous step's match), plus
  *    `notFollowedBy`-style between-guards checked on the matched
  *    span. Earliest-match semantics make the result a pure function
  *    of the event set — no tie-breaking, deterministic across
  *    engines and partitionings.
  *  - The batch driver runs it as `flatMapGroups` per key: one
  *    user-keyed shuffle, per-key state = the current step index and
  *    match times (O(steps)), sorting bounded by one key's events —
  *    the same cost model as Flink's keyed NFA operator. At 100 TB
  *    the shuffle is the scan-bound term; no cross-key state exists.
  *
  * Both graded queries have DuckDB oracle twins (min-chain CTEs), so
  * the NFA semantics are pinned cross-engine, not just by spec.
  */
object Patterns {

  /** One per-key event: time (already micros — the engine-wide
    * `ts div 1000` contract) and its type tag. */
  final case class PEvent(key: Long, t_us: Long, tag: String)

  /** Earliest skip-till-next-match chain: for each step i, the
    * minimal event time strictly after step i-1's match whose tag
    * equals `steps(i)` (first step: minimal over all its tag's
    * events). Returns the match times, or None if any step never
    * fires. Events need NOT be pre-sorted: the implementation
    * materializes and time-sorts one key's events (O(n log n) time,
    * O(n) allocation per key — per-key cardinality is
    * session-bounded), then folds the sorted array in O(n·steps).
    * The result is order-insensitive, which is what makes the
    * operator partition-stable. */
  def earliestChain(steps: IndexedSeq[String], events: Iterator[(Long, String)]): Option[IndexedSeq[Long]] = {
    // best(i) = earliest completion time of the chain prefix 0..i seen
    // so far. A single pass cannot fill later steps before earlier
    // ones when events arrive unsorted, so collect + sort by time —
    // per-key cardinality is session-bounded (documented cost model).
    val sorted = events.toArray.sortBy(_._1)
    val n = steps.length
    val best = Array.fill[Long](n)(Long.MaxValue)
    sorted.foreach { case (t, tag) =>
      var i = n - 1
      while (i >= 0) {
        if (steps(i) == tag && best(i) == Long.MaxValue &&
            (i == 0 || (best(i - 1) != Long.MaxValue && t > best(i - 1))))
          best(i) = t
        i -= 1
      }
    }
    if (best(n - 1) == Long.MaxValue) None else Some(best.toIndexedSeq)
  }

  /** Flink's `Pattern.within(T)` (reference flink-cep
    * pattern/Pattern.java `within`; nfa/NFA.java match pruning):
    * the chain must complete within `T` of its first step. Earliest
    * t1 can no longer be taken greedily — a chain seeded at the
    * global-earliest first step may overrun the window while a
    * later seed fits — so the semantics here is EARLIEST COMPLETION:
    * scan final-step candidates in time order; for completion time t,
    * greedily chain steps 1..k-1 inside [t - T, t) (the greedy
    * minimal choice per step is exact: taking an earlier valid step
    * only widens the room for every later step); the first candidate
    * with a full chain wins. Deterministic — a pure function of the
    * event set, same as [[earliestChain]]. */
  def earliestWithin(steps: IndexedSeq[String], withinUs: Long,
      events: Iterator[(Long, String)]): Option[IndexedSeq[Long]] = {
    val k = steps.length
    require(k >= 2, "within needs at least two steps")
    val byTag = events.toArray.groupBy(_._2).map { case (t, es) =>
      t -> es.map(_._1).sorted
    }
    def minAfter(tag: String, loInclusive: Long, hiExclusive: Long): Option[Long] =
      byTag.get(tag).flatMap { ts =>
        // first element >= loInclusive via binary search
        var lo = 0; var hi = ts.length
        while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < loInclusive) lo = m + 1 else hi = m }
        if (lo < ts.length && ts(lo) < hiExclusive) Some(ts(lo)) else None
      }
    byTag.getOrElse(steps.last, Array.empty[Long]).iterator.flatMap { t3 =>
      val chain = (0 until k - 1).foldLeft(Option(IndexedSeq.empty[Long])) {
        case (Some(acc), i) =>
          val lo = if (i == 0) t3 - withinUs else acc.last + 1
          minAfter(steps(i), lo, t3).map(acc :+ _)
        case (None, _) => None
      }
      chain.map(_ :+ t3)
    }.nextOption()
  }

  /** True iff no event with `guardTag` falls strictly inside
    * (spanLo, spanHi) — the `notFollowedBy` between-guard applied to
    * a completed match span. */
  def spanClear(guardTag: String, spanLo: Long, spanHi: Long,
      events: Iterable[(Long, String)]): Boolean =
    !events.exists { case (t, tag) => tag == guardTag && t > spanLo && t < spanHi }

  /** Generic batch driver: run [[earliestChain]] per key over a
    * (key, t_us, tag) frame; one column per matched step. */
  def matchChain(events: Dataset[PEvent], steps: IndexedSeq[String],
      guard: Option[String] = None): DataFrame = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        val evs = it.map(e => (e.t_us, e.tag)).toArray
        earliestChain(steps, evs.iterator) match {
          case Some(ts) if guard.forall(g => spanClear(g, ts.head, ts.last, evs)) =>
            Iterator.single((key, ts.toArray))
          case _ => Iterator.empty
        }
      }
      .select(col("_1").as("key") +:
        steps.indices.map(i => col("_2")(i).as(s"t${i + 1}_us")): _*)
  }

  /** Conversion funnel (view → click → purchase, earliest chain per
    * user) over the events table — the behavioural query a training-
    * data pipeline runs to label converting sessions. */
  def q116Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
    matchChain(evs, IndexedSeq("view", "click", "purchase"))
      .select(col("key").as("user_id"), col("t1_us"), col("t2_us"), col("t3_us"))
      .withColumn("funnel_s", expr("(t3_us - t1_us) div 1000000"))
      .orderBy(col("user_id"))
  }

  val q116Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1_us
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2_us
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1_us
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3_us
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2_us
      |  GROUP BY e.user_id)
      |SELECT v.user_id, t1_us, t2_us, t3_us,
      |  (t3_us - t1_us) // 1000000 AS funnel_s
      |FROM v JOIN c ON v.user_id = c.user_id
      |       JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Funnel with a negative condition (`notFollowedBy('error')`):
    * same earliest chain, but users whose matched span contains an
    * error event are dropped — the clean-conversion cohort. */
  def q117FunnelGuard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
    matchChain(evs, IndexedSeq("view", "click", "purchase"), guard = Some("error"))
      .select(col("key").as("user_id"), col("t1_us"), col("t3_us"))
      .orderBy(col("user_id"))
  }

  val q117Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1_us
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2_us
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1_us
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3_us
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2_us
      |  GROUP BY e.user_id)
      |SELECT v.user_id, t1_us, t3_us
      |FROM v JOIN c ON v.user_id = c.user_id
      |       JOIN p ON v.user_id = p.user_id
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM events g
      |  WHERE g.user_id = v.user_id AND g.event_type = 'error'
      |    AND epoch_us(g.ts) > t1_us AND epoch_us(g.ts) < t3_us)
      |ORDER BY v.user_id""".stripMargin

  /** Funnel with Flink's `within` window: view → click → purchase
    * completing inside 24 hours, earliest-completion semantics (an
    * hour-scale window is vacuous on this fixture — median funnel
    * span is ~15 days; 24 h passes ~56% of converting users, so the
    * constraint is exercised in both directions at every sf). */
  val WithinUs: Long = 24L * 3600L * 1000000L

  def q120FunnelWithin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps = IndexedSeq("view", "click", "purchase")
    Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        earliestWithin(steps, WithinUs, it.map(e => (e.t_us, e.tag)))
          .map(ts => (key, ts(0), ts(1), ts(2))).iterator
      }
      .select(col("_1").as("user_id"), col("_2").as("t1_us"),
        col("_3").as("t2_us"), col("_4").as("t3_us"))
      .orderBy(col("user_id"))
  }

  val q120Sql: String =
    s"""WITH v AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'view'),
       |c AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click'),
       |p AS (SELECT DISTINCT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'),
       |cand AS (
       |  SELECT p.user_id, p.t AS t3,
       |    (SELECT min(v.t) FROM v WHERE v.user_id = p.user_id
       |       AND v.t >= p.t - $WithinUs AND v.t < p.t) AS t1
       |  FROM p),
       |cand2 AS (
       |  SELECT user_id, t3, t1,
       |    (SELECT min(c.t) FROM c WHERE c.user_id = cand.user_id
       |       AND c.t > cand.t1 AND c.t < cand.t3) AS t2
       |  FROM cand WHERE t1 IS NOT NULL),
       |valid AS (SELECT * FROM cand2 WHERE t2 IS NOT NULL),
       |first AS (SELECT user_id, min(t3) AS t3 FROM valid GROUP BY user_id)
       |SELECT w.user_id, w.t1 AS t1_us, w.t2 AS t2_us, w.t3 AS t3_us
       |FROM valid w JOIN first f ON w.user_id = f.user_id AND w.t3 = f.t3
       |ORDER BY w.user_id""".stripMargin

  // ------------------------------------------------------------ streaming
  /** The streaming twins. Each is one per-key fold on the engine's one
    * keyed-state driver, [[WindowSpi.keyed]] — Flink's keyed CEP
    * operator, where only the NFA differs between patterns. A twin
    * supplies its initial state, its tie order at equal `t_us` and
    * its fold; the driver owns the 10-minute watermark on `t_us`, the
    * EventTimeTimeout timer service, the per-batch sort and the
    * last-seen time, and it stores no state for a key whose fold
    * leaves it at the initial state (a key whose events never match
    * step one holds nothing, on any key space).
    *
    * In-order contract, shared by every twin: fed in event-time order
    * (batch boundaries anywhere between two distinct event times — a
    * tie order applies inside one micro-batch), a twin equals its
    * batch operator.
    * Out-of-order arrival degrades like Flink CEP without buffering —
    * an earlier-but-late event cannot retroactively improve an
    * already-advanced match, and events behind the watermark are
    * dropped by the driver. */
  private def cepKeyed[S: Encoder, O: Encoder](events: Dataset[PEvent], initial: S,
      order: Ordering[PEvent])(fold: (Long, S, Seq[PEvent], Long) => Step[S, O]): Dataset[O] = {
    import events.sparkSession.implicits._
    WindowSpi.keyed(events, initial, order,
      Some(EventTime(timestamp_micros(col("t_us")), (e: PEvent) => e.t_us / 1000L)))(_.key)(fold)
  }

  /** Event-time order; at equal `t_us` the events whose tag satisfies
    * `first` go first. */
  private def byTime(first: String => Boolean = _ => false): Ordering[PEvent] =
    Ordering.by((e: PEvent) => (e.t_us, if (first(e.tag)) 0 else 1))

  /** Per-key NFA state for the streaming matcher: times matched so
    * far (≤ steps, monotone — a matched step never retracts, Flink
    * CEP's skip-till-next-match on the arriving stream), the minimal
    * guard-event time after step 1 (O(1) — enough to decide the
    * open-interval guard when the chain completes, since in an
    * event-time-ordered feed every interior event precedes the
    * closer), and whether the match was already emitted. */
  final case class ChainState(matched: List[Long], minGuard: Long, done: Boolean)
  final case class ChainMatch(key: Long, ts: Seq[Long])

  /** Streaming twin of [[matchChain]] — the CEP operator as Flink
    * runs it (`CEP.pattern(keyedStream, pattern)`): per-key bounded
    * state (O(steps) longs), one emission per completed match.
    * State lifecycle: a COMPLETED key's `done` tombstone SUPPRESSES
    * re-matching, so it cannot be dropped while the key is live — it
    * expires only once the watermark passes the key's last event +
    * `idleExpiryUs` (re-armed on every arrival). On an unbounded key
    * space the store holds open partial matches plus tombstones of
    * keys active within the idle horizon; a key returning after the
    * horizon is a new session and may match again (the documented
    * reset contract — pick the horizon >= the business session bound).
    * Partial (not-done) chains are kept while the key lives, exactly
    * like Flink CEP without `within`. PatternsSpec feeds ordered
    * batches and asserts equality with the graded q116 batch result,
    * plus a synthetic state-removal spec on the store row count. */
  def matchChainStream(events: Dataset[PEvent], steps: IndexedSeq[String],
      guard: Option[String] = None,
      idleExpiryUs: Long = 30L * 86400L * 1000000L): Dataset[ChainMatch] = {
    import events.sparkSession.implicits._
    val n = steps.length
    cepKeyed(events, ChainState(Nil, Long.MaxValue, false), byTime()) {
      (key, s0, evs, lastSeenMs) =>
        var s = s0
        val out = ArrayBuffer.empty[ChainMatch]
        evs.foreach { e =>
          if (!s.done) {
            val depth = s.matched.length
            if (guard.contains(e.tag) && depth >= 1 &&
                e.t_us > s.matched.head && e.t_us < s.minGuard)
              s = s.copy(minGuard = e.t_us)
            if (depth < n && steps(depth) == e.tag &&
                (depth == 0 || e.t_us > s.matched.last))
              s = s.copy(matched = s.matched :+ e.t_us)
            if (s.matched.length == n) {
              if (s.minGuard >= s.matched.last) // no guard event inside the span
                out += ChainMatch(key, s.matched)
              s = s.copy(done = true)
            }
          }
        }
        // a done tombstone lives until the key idles out
        Step(s, out.iterator, Option.when(s.done)(lastSeenMs + idleExpiryUs / 1000L))
    }
  }

  /** Per-key state for the skip-past-last streaming matcher: the
    * in-progress chain, the exclusive lower time bound set by the
    * previous match's final event (SkipPastLastStrategy), and the
    * number of matches already emitted — O(steps) longs regardless of
    * how many matches a key produces. */
  final case class ChainAllState(matched: List[Long], lower: Long,
      nDone: Int, done: Boolean)
  final case class ChainMatchIdx(key: Long, idx: Long, ts: Seq[Long])

  /** Streaming twin of [[allMatchesSkipPastLast]] — Flink CEP with
    * `AfterMatchSkipStrategy.skipPastLastEvent()` on a keyed stream:
    * after each emitted match the NFA re-arms with matching allowed
    * only strictly after the match's final event. Same in-order
    * contract and idle-expiry lifecycle as [[matchChainStream]]; the
    * `maxMatches` cap turns the key into a done-tombstone exactly
    * like a first-match key there. Equals the batch operator on
    * event-time-ordered feeds (PatternsSpec, mid-stream batch
    * boundaries included). */
  def matchChainStreamAll(events: Dataset[PEvent], steps: IndexedSeq[String],
      maxMatches: Int,
      idleExpiryUs: Long = 30L * 86400L * 1000000L): Dataset[ChainMatchIdx] = {
    import events.sparkSession.implicits._
    val n = steps.length
    // a non-positive cap means "emit nothing", matching the batch
    // twin's loop guard
    cepKeyed(events, ChainAllState(Nil, Long.MinValue, 0, maxMatches <= 0), byTime()) {
      (key, s0, evs, lastSeenMs) =>
        var s = s0
        val out = ArrayBuffer.empty[ChainMatchIdx]
        evs.foreach { e =>
          if (!s.done) {
            val depth = s.matched.length
            val lb = if (depth == 0) s.lower else s.matched.last
            if (depth < n && steps(depth) == e.tag && e.t_us > lb) {
              val m2 = s.matched :+ e.t_us
              if (m2.length == n) {
                out += ChainMatchIdx(key, (s.nDone + 1).toLong, m2)
                // skip past last: re-arm strictly after this match
                s = ChainAllState(Nil, e.t_us, s.nDone + 1, s.nDone + 1 >= maxMatches)
              } else s = s.copy(matched = m2)
            }
          }
        }
        // capped key: tombstone until the key idles out
        Step(s, out.iterator, Option.when(s.done)(lastSeenMs + idleExpiryUs / 1000L))
    }
  }

  /** Streaming `Pattern.within`: per-key buffers of the NON-final
    * step tags, pruned to the trailing window as events arrive in
    * event-time order — exactly the state Flink CEP keeps (NFA
    * partial matches pruned at `within` expiry), bounded by window ×
    * per-key rate, NOT stream length. A final-step arrival at t runs
    * the same greedy window chain as [[earliestWithin]] over the
    * buffers; first success per key emits and the state collapses to
    * done. Same in-order contract as [[matchChainStream]]. State
    * lifecycle: every batch prunes ALL tag lists to the trailing
    * window (an empty buffer is the initial state and holds nothing);
    * a timer at max(buffered)+within removes not-done keys whose whole
    * buffer is dead (entries at t serve
    * final events only in (t, t+within], and future events arrive at
    * >= watermark — removal is semantics-preserving even for live
    * keys); done tombstones expire at last event + `idleExpiryUs`,
    * the same suppression-safe idle contract as
    * [[matchChainStream]]. State is bounded by window × per-key rate
    * AND key liveness — Flink's partial-match pruning at `within`
    * expiry. */
  final case class WithinState(buf: Map[String, List[Long]], done: Boolean)

  def matchWithinStream(events: Dataset[PEvent], steps: IndexedSeq[String],
      withinUs: Long,
      idleExpiryUs: Long = 30L * 86400L * 1000000L): Dataset[ChainMatch] = {
    import events.sparkSession.implicits._
    val k = steps.length
    require(k >= 2, "within needs at least two steps")
    val preTags = steps.dropRight(1).toSet
    cepKeyed(events, WithinState(Map.empty, false), byTime()) { (key, s0, evs, lastSeenMs) =>
      var s = s0
      val out = ArrayBuffer.empty[ChainMatch]
      evs.foreach { e =>
        if (!s.done) {
          if (e.tag == steps.last) {
            // greedy window chain over the buffered earlier steps
            val chain = (0 until k - 1).foldLeft(Option(List.empty[Long])) {
              case (Some(acc), i) =>
                val lo = if (i == 0) e.t_us - withinUs else acc.head + 1
                s.buf.getOrElse(steps(i), Nil)
                  .find(t => t >= lo && t < e.t_us) // lists kept ascending
                  .map(_ :: acc)
              case (None, _) => None
            }
            chain.foreach { c =>
              out += ChainMatch(key, (e.t_us :: c).reverse)
              s = WithinState(Map.empty, true)
            }
          }
          if (!s.done) {
            // evict EVERY tag list beyond the trailing window (a tag
            // that stops arriving must not pin stale state; an emptied
            // list goes, so an empty buffer is the initial state), then
            // append the arriving event (ascending arrival)
            val lo = e.t_us - withinUs
            val pruned = s.buf.map { case (tag, ts) => tag -> ts.dropWhile(_ < lo) }
              .filter(_._2.nonEmpty)
            val withE =
              if (preTags.contains(e.tag))
                pruned.updated(e.tag, pruned.getOrElse(e.tag, Nil) :+ e.t_us)
              else pruned
            s = s.copy(buf = withE)
          }
        }
      }
      // done: the tombstone suppresses re-matching while the key
      // lives; not done: the buffer is dead at max(buffered) + within
      val timer =
        if (s.done) Some(lastSeenMs + idleExpiryUs / 1000L)
        else s.buf.valuesIterator.map(_.last).maxOption
          .map(_ / 1000L + withinUs / 1000L + 1L)
      Step(s, out.iterator, timer)
    }
  }

  // ------------------------------------------- looping quantifiers
  /** One pattern step with a count quantifier — the Flink CEP
    * `Pattern.java` quantifier surface (`oneOrMore()`,
    * `timesOrMore(n)`, `optional()`, reference flink-cep
    * pattern/Quantifier.java + nfa/NFA.java looping states),
    * re-expressed under the library's deterministic earliest-match
    * semantics:
    *
    *  - `times` is the MINIMUM number of distinct-time events the
    *    step must consume (strictly increasing times, matching the
    *    strict-tie rule of [[earliestChain]]); the step's recorded
    *    time is its COMPLETION — the `times`-th consumed event.
    *  - `looping` steps additionally report their GREEDY extent: the
    *    count of distinct tag times strictly between the previous
    *    required step's completion and the next required step's
    *    completion (unbounded for a final looping step) — Flink's
    *    greedy loop absorbing events up to the next state transition.
    *  - `optional` steps consume nothing and constrain nothing; after
    *    the required chain is fixed they report the earliest tag
    *    event strictly inside their gap, or -1 when absent — the
    *    deterministic shadow of Flink's optional branch (the match
    *    Flink emits under NO_SKIP that includes the optional event,
    *    when one exists).
    */
  final case class QStep(tag: String, times: Int = 1,
      looping: Boolean = false, optional: Boolean = false,
      until: Option[String] = None, maxTimes: Option[Int] = None)
  object QStep {
    def once(tag: String): QStep = QStep(tag)
    def oneOrMore(tag: String): QStep = QStep(tag, 1, looping = true)
    def timesOrMore(tag: String, n: Int): QStep = {
      require(n >= 1, "timesOrMore needs n >= 1"); QStep(tag, n, looping = true)
    }
    def optional(tag: String): QStep = QStep(tag, 0, optional = true)
    /** Flink `Pattern.times(from, to)` (reference flink-cep
      * pattern/Pattern.java:400, Quantifier.Times.of(from, to)): the
      * loop must consume at least `from` events and greedily absorbs
      * at most `to` — the reported greedy count is capped at `to`,
      * events past the cap are skipped under relaxed contiguity.
      * Flink's `from == 0` optional special case is not folded in;
      * use [[optional]] for that. */
    def timesRange(tag: String, from: Int, to: Int): QStep = {
      require(from >= 1 && to >= from, "times(from, to) needs 1 <= from <= to")
      QStep(tag, from, looping = true, maxTimes = Some(to))
    }
    /** Flink `Pattern.oneOrMore().until(cond)` (reference flink-cep
      * pattern/Pattern.java `until`; nfa/NFA.java stop states): the
      * loop stops ACCEPTING at the first `untilTag` event strictly
      * after the previous step's completion — events at or past that
      * boundary can neither be consumed by the step nor counted in
      * its greedy extent. A chain whose step cannot reach `times`
      * before the boundary has no match at all. Documented deviation:
      * this library's matcher is COMMITTED to the deterministic
      * earliest-seed chain (one match per key, a pure function of the
      * event set); Flink's NFA would also branch runs from later
      * seeds, so a boundary that kills the earliest seed can still
      * yield a Flink match from a later one. The committed rule is
      * what the DuckDB oracle states, so the semantics are pinned
      * cross-engine exactly as implemented. */
    def oneOrMoreUntil(tag: String, untilTag: String): QStep =
      QStep(tag, 1, looping = true, until = Some(untilTag))
  }

  /** Earliest quantified chain: greedy forward match of the required
    * steps (each consumes its `times` earliest distinct-time events
    * strictly after the previous completion — greedy-minimal is
    * exact: earlier consumption only widens room for later steps),
    * then greedy-extent counts and optional-gap probes on the fixed
    * span. Returns one (time, count) per step — completion time and
    * greedy count for required steps (count 1 for non-looping),
    * (-1, 0) / (t, 1) for optional steps — or None if any required
    * step cannot complete. O(n log n) sort + O(n·steps) scan per key,
    * order-insensitive, deterministic. */
  def earliestQuantChain(steps: IndexedSeq[QStep],
      events: Iterator[(Long, String)]): Option[IndexedSeq[(Long, Int)]] = {
    val sorted = events.toArray.sortBy(_._1)
    val res = Array.fill[(Long, Int)](steps.length)((-1L, 0))
    // per-step until boundary (Long.MaxValue = none) — pass 1 fills
    // it, pass 2 caps the greedy extent with it
    val bnd = Array.fill[Long](steps.length)(Long.MaxValue)
    // pass 1: required steps, single forward pointer (skipped events
    // precede the current completion and can never match later steps)
    var prev = Long.MinValue
    var i = 0
    var ok = true
    steps.indices.foreach { si =>
      val st = steps(si)
      if (ok && !st.optional) {
        // until boundary: first until-tag event strictly after the
        // previous completion (events before index i all precede it)
        st.until.foreach { ut =>
          var j = i
          while (j < sorted.length && bnd(si) == Long.MaxValue) {
            val (t, tag) = sorted(j)
            if (tag == ut && t > prev) bnd(si) = t
            j += 1
          }
        }
        var cnt = 0
        var last = prev
        while (i < sorted.length && cnt < st.times && sorted(i)._1 < bnd(si)) {
          val (t, tag) = sorted(i)
          if (tag == st.tag && t > last) { cnt += 1; last = t }
          i += 1
        }
        if (cnt < st.times) ok = false
        else { res(si) = (last, st.times); prev = last }
      }
    }
    if (!ok) None
    else {
      // required-step gap bounds: lo(si) = previous required completion,
      // hi(si) = next required completion (+inf for the tail)
      val reqIdx = steps.indices.filter(si => !steps(si).optional)
      def loOf(si: Int): Long =
        reqIdx.filter(_ < si).lastOption.map(res(_)._1).getOrElse(Long.MinValue)
      def hiOf(si: Int): Long =
        reqIdx.find(_ > si).map(res(_)._1).getOrElse(Long.MaxValue)
      steps.indices.foreach { si =>
        val st = steps(si)
        if (st.optional) {
          val lo = loOf(si); val hi = hiOf(si)
          val hit = sorted.iterator
            .filter { case (t, tag) => tag == st.tag && t > lo && t < hi }
            .map(_._1).nextOption()
          res(si) = hit.map((_, 1)).getOrElse((-1L, 0))
        } else if (st.looping) {
          val lo = loOf(si); val hi = math.min(hiOf(si), bnd(si))
          // distinct tag times strictly inside (lo, hi) — the greedy
          // extent, capped at the until boundary when one exists
          var cnt = 0
          var last = Long.MinValue
          sorted.foreach { case (t, tag) =>
            if (tag == st.tag && t > lo && t < hi && t > last) { cnt += 1; last = t }
          }
          res(si) = (res(si)._1, st.maxTimes.fold(cnt)(math.min(cnt, _)))
        }
      }
      Some(res.toIndexedSeq)
    }
  }

  /** Quantified funnel — `view  followedBy  click.timesOrMore(2)
    * followedBy  purchase`: users who clicked at least twice between
    * their first view and the purchase that follows the second click.
    * Emits the loop completion (2nd click) and the loop's greedy
    * click count inside the matched span. */
  /** Shared three-step quantified-funnel driver (looping middle step)
    * over the events table: one user-keyed shuffle, emits per-step
    * completions + the middle step's greedy count. */
  def matchQuant3(spark: SparkSession, dir: String,
      steps: IndexedSeq[QStep]): DataFrame = {
    import spark.implicits._
    require(steps.length == 3, "matchQuant3 drives exactly three steps")
    Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        earliestQuantChain(steps, it.map(e => (e.t_us, e.tag)))
          .map(m => (key, m(0)._1, m(1)._1, m(2)._1, m(1)._2.toLong)).iterator
      }
      .select(col("_1").as("user_id"), col("_2").as("t1_us"),
        col("_3").as("t2_us"), col("_4").as("t3_us"), col("_5").as("n_clicks"))
      .orderBy(col("user_id"))
  }

  def q127ClickBurst(spark: SparkSession, dir: String): DataFrame =
    matchQuant3(spark, dir, IndexedSeq(QStep.once("view"),
      QStep.timesOrMore("click", 2), QStep.once("purchase")))

  val q127Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |ct AS (
      |  SELECT DISTINCT e.user_id, epoch_us(e.ts) AS t
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1),
      |k AS (
      |  SELECT user_id, t AS t2 FROM (
      |    SELECT user_id, t,
      |      row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
      |    FROM ct) WHERE rn = 2),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      |  FROM events e JOIN k ON e.user_id = k.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > k.t2
      |  GROUP BY e.user_id),
      |n AS (
      |  SELECT ct.user_id, count(*) AS n_clicks
      |  FROM ct JOIN p ON ct.user_id = p.user_id
      |  WHERE ct.t < p.t3 GROUP BY ct.user_id)
      |SELECT v.user_id, v.t1 AS t1_us, k.t2 AS t2_us, p.t3 AS t3_us, n.n_clicks
      |FROM v JOIN k ON v.user_id = k.user_id
      |       JOIN p ON v.user_id = p.user_id
      |       JOIN n ON v.user_id = n.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Flink's `AfterMatchSkipStrategy.skipPastLastEvent()` (reference
    * flink-cep `aftermatch/AfterMatchSkipStrategy.java` +
    * `SkipPastLastStrategy.java`, applied by nfa/NFA.java after each
    * accepting run): instead of stopping at the first match per key,
    * matching RESUMES strictly after the last event of each emitted
    * match, yielding the maximal set of non-overlapping earliest
    * matches. `maxMatches` bounds the per-key output (a real CEP
    * guard against pathological keys; mirrored in the oracle's
    * unrolled rounds). One sort + one forward scan total — each
    * match's scan resumes where the previous stopped, so the whole
    * key costs O(n log n + n·steps), not matches × n. */
  def allMatchesSkipPastLast(steps: IndexedSeq[String], maxMatches: Int,
      events: Iterator[(Long, String)]): IndexedSeq[IndexedSeq[Long]] = {
    val sorted = events.toArray.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Long]]
    var i = 0
    var lower = Long.MinValue
    while (out.length < maxMatches && i < sorted.length) {
      val ts = new Array[Long](steps.length)
      var si = 0
      var last = lower
      var j = i
      while (j < sorted.length && si < steps.length) {
        val (t, tag) = sorted(j)
        if (tag == steps(si) && t > last) { ts(si) = t; last = t; si += 1 }
        j += 1
      }
      if (si == steps.length) {
        out += ts.toIndexedSeq
        lower = ts(steps.length - 1)
        // skip-past-last: the next match may only use events strictly
        // after this match's final event
        while (i < sorted.length && sorted(i)._1 <= lower) i += 1
      } else i = sorted.length // suffix can't complete — done with this key
    }
    out.toIndexedSeq
  }

  /** Repeated conversion funnels per user — `view → click → purchase`
    * under SKIP_PAST_LAST_EVENT: every non-overlapping earliest
    * funnel a user completes (capped at [[SkipMax]]), with its match
    * ordinal. The re-engagement query a funnel dashboard runs; the
    * oracle unrolls [[SkipMax]] greedy rounds, each lower-bounded by
    * the previous round's purchase time. */
  val SkipMax = 5

  def q135AllFunnels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps = IndexedSeq("view", "click", "purchase")
    Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        allMatchesSkipPastLast(steps, SkipMax, it.map(e => (e.t_us, e.tag)))
          .zipWithIndex
          .map { case (ts, idx) => (key, (idx + 1).toLong, ts(0), ts(1), ts(2)) }
          .iterator
      }
      .select(col("_1").as("user_id"), col("_2").as("match_idx"),
        col("_3").as("t1_us"), col("_4").as("t2_us"), col("_5").as("t3_us"))
      .orderBy(col("user_id"), col("match_idx"))
  }

  val q135Sql: String = {
    val rounds = (1 to SkipMax).map { r =>
      val prev = if (r == 1) "seed" else s"m${r - 1}"
      s"""v$r AS (
         |  SELECT e.user_id, min(e.t) AS t1
         |  FROM ev e JOIN $prev ON e.user_id = $prev.user_id
         |  WHERE e.event_type = 'view' AND e.t > $prev.t3 GROUP BY e.user_id),
         |c$r AS (
         |  SELECT e.user_id, min(e.t) AS t2
         |  FROM ev e JOIN v$r ON e.user_id = v$r.user_id
         |  WHERE e.event_type = 'click' AND e.t > v$r.t1 GROUP BY e.user_id),
         |p$r AS (
         |  SELECT e.user_id, min(e.t) AS t3
         |  FROM ev e JOIN c$r ON e.user_id = c$r.user_id
         |  WHERE e.event_type = 'purchase' AND e.t > c$r.t2 GROUP BY e.user_id),
         |m$r AS (
         |  SELECT v$r.user_id, v$r.t1, c$r.t2, p$r.t3
         |  FROM v$r JOIN c$r ON v$r.user_id = c$r.user_id
         |          JOIN p$r ON v$r.user_id = p$r.user_id)""".stripMargin
    }.mkString(",\n")
    val union = (1 to SkipMax).map { r =>
      s"SELECT user_id, CAST($r AS BIGINT) AS match_idx, t1 AS t1_us, t2 AS t2_us, t3 AS t3_us FROM m$r"
    }.mkString("\nUNION ALL ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
       |seed AS (SELECT DISTINCT user_id,
       |  CAST(-9223372036854775808 AS BIGINT) AS t3 FROM ev),
       |$rounds
       |$union
       |ORDER BY user_id, match_idx""".stripMargin
  }

  /** `view  followedBy  click.times(2, 4)  followedBy  purchase` —
    * the bounded-range quantifier ([[QStep.timesRange]]): completion
    * at the 2nd click, greedy count capped at 4. */
  def q153TimesRange(spark: SparkSession, dir: String): DataFrame =
    matchQuant3(spark, dir, IndexedSeq(QStep.once("view"),
      QStep.timesRange("click", 2, 4), QStep.once("purchase")))

  val q153Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |ct AS (
      |  SELECT DISTINCT e.user_id, epoch_us(e.ts) AS t
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1),
      |k AS (
      |  SELECT user_id, t AS t2 FROM (
      |    SELECT user_id, t,
      |      row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
      |    FROM ct) WHERE rn = 2),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      |  FROM events e JOIN k ON e.user_id = k.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > k.t2
      |  GROUP BY e.user_id),
      |n AS (
      |  SELECT ct.user_id, least(count(*), 4) AS n_clicks
      |  FROM ct JOIN p ON ct.user_id = p.user_id
      |  WHERE ct.t < p.t3 GROUP BY ct.user_id)
      |SELECT v.user_id, v.t1 AS t1_us, k.t2 AS t2_us, p.t3 AS t3_us, n.n_clicks
      |FROM v JOIN k ON v.user_id = k.user_id
      |       JOIN p ON v.user_id = p.user_id
      |       JOIN n ON v.user_id = n.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Flink's `AfterMatchSkipStrategy.skipToFirst/skipToLast(tag)`
    * (reference flink-cep aftermatch/SkipToFirstStrategy.java,
    * SkipToLastStrategy.java, SkipToElementStrategy.java): after each
    * emitted match, matching resumes AT the event the designated step
    * matched — runs seeded before that position are discarded, runs
    * seeded at or after it survive, so successive matches MAY overlap
    * on the tail of the previous one (unlike skip-past-last). On this
    * library's non-looping chains a step matches exactly one event,
    * so skipToFirst ≡ skipToLast of the same step; the parameter is
    * the step INDEX. `resumeStep >= 1` is required — resuming at the
    * seed step itself cannot advance, the exact infinite-loop case
    * Flink's strategy validation throws on (SkipToFirstStrategy of
    * the initial pattern element). Deterministic committed-earliest
    * semantics per round, same as the rest of the family; per-key
    * cost O(maxMatches · n) after one sort (overlapping rounds cannot
    * share one forward pointer the way skip-past-last does). */
  def allMatchesSkipToStep(steps: IndexedSeq[String], resumeStep: Int,
      maxMatches: Int, events: Iterator[(Long, String)]): IndexedSeq[IndexedSeq[Long]] = {
    require(resumeStep >= 1 && resumeStep < steps.length,
      "resumeStep must name a non-seed step (Flink throws on skip-to-first of the initial element)")
    val sorted = events.toArray.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Long]]
    var bound = Long.MinValue // INCLUSIVE lower bound for the seed step
    var more = true
    while (out.length < maxMatches && more) {
      val ts = new Array[Long](steps.length)
      var si = 0
      var last = Long.MinValue
      var j = 0
      while (j < sorted.length && si < steps.length) {
        val (t, tag) = sorted(j)
        if (tag == steps(si) && t > last && (si > 0 || t >= bound)) {
          ts(si) = t; last = t; si += 1
        }
        j += 1
      }
      if (si == steps.length) {
        out += ts.toIndexedSeq
        // ts(resumeStep) > ts(0) >= bound, so the bound strictly
        // advances every round — termination is structural
        bound = ts(resumeStep)
      } else more = false
    }
    out.toIndexedSeq
  }

  /** Re-engagement funnels under SKIP_TO_LAST(click): after each
    * `view → click → purchase` match the next view may be seeded from
    * the matched CLICK onward, so a view placed between the click and
    * the purchase starts the next (overlapping) funnel — the
    * strategy's observable difference from q135's skip-past-last. */
  def q147SkipToClick(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps = IndexedSeq("view", "click", "purchase")
    Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        allMatchesSkipToStep(steps, 1, SkipMax, it.map(e => (e.t_us, e.tag)))
          .zipWithIndex
          .map { case (ts, idx) => (key, (idx + 1).toLong, ts(0), ts(1), ts(2)) }
          .iterator
      }
      .select(col("_1").as("user_id"), col("_2").as("match_idx"),
        col("_3").as("t1_us"), col("_4").as("t2_us"), col("_5").as("t3_us"))
      .orderBy(col("user_id"), col("match_idx"))
  }

  val q147Sql: String = {
    val rounds = (1 to SkipMax).map { r =>
      val seedBound =
        if (r == 1) "e.t >= seed.t2" else s"e.t >= m${r - 1}.t2"
      val prev = if (r == 1) "seed" else s"m${r - 1}"
      s"""v$r AS (
         |  SELECT e.user_id, min(e.t) AS t1
         |  FROM ev e JOIN $prev ON e.user_id = $prev.user_id
         |  WHERE e.event_type = 'view' AND $seedBound GROUP BY e.user_id),
         |c$r AS (
         |  SELECT e.user_id, min(e.t) AS t2
         |  FROM ev e JOIN v$r ON e.user_id = v$r.user_id
         |  WHERE e.event_type = 'click' AND e.t > v$r.t1 GROUP BY e.user_id),
         |p$r AS (
         |  SELECT e.user_id, min(e.t) AS t3
         |  FROM ev e JOIN c$r ON e.user_id = c$r.user_id
         |  WHERE e.event_type = 'purchase' AND e.t > c$r.t2 GROUP BY e.user_id),
         |m$r AS (
         |  SELECT v$r.user_id, v$r.t1, c$r.t2, p$r.t3
         |  FROM v$r JOIN c$r ON v$r.user_id = c$r.user_id
         |          JOIN p$r ON v$r.user_id = p$r.user_id)""".stripMargin
    }.mkString(",\n")
    val union = (1 to SkipMax).map { r =>
      s"SELECT user_id, CAST($r AS BIGINT) AS match_idx, t1 AS t1_us, t2 AS t2_us, t3 AS t3_us FROM m$r"
    }.mkString("\nUNION ALL ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
       |seed AS (SELECT DISTINCT user_id,
       |  CAST(-9223372036854775808 AS BIGINT) AS t2 FROM ev),
       |$rounds
       |$union
       |ORDER BY user_id, match_idx""".stripMargin
  }

  /** Flink's `Pattern.next()` — STRICT contiguity (reference
    * flink-cep pattern/Pattern.java `next`; nfa strict transitions):
    * the chain must occupy CONSECUTIVE events of the key's time-
    * ordered stream, no gaps. Unlike the relaxed matchers this is
    * declaratively expressible — `lead()` windows over
    * (user, t, event_id) order — so the Spark-first form IS the plan:
    * one window exchange, no per-key fold; the earliest qualifying
    * run per user wins (row_number = 1), the deterministic analogue
    * of the earliest-match rule. event_id breaks timestamp ties so
    * both engines see one total order. */
  def q140StrictNext(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
      .withColumn("tag2", lead(col("event_type"), 1).over(w))
      .withColumn("t2_us", lead(col("t_us"), 1).over(w))
      .withColumn("tag3", lead(col("event_type"), 2).over(w))
      .withColumn("t3_us", lead(col("t_us"), 2).over(w))
      .filter(col("event_type") === "view" && col("tag2") === "click" &&
        col("tag3") === "purchase")
    runs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("t_us").as("t1_us"), col("t2_us"), col("t3_us"))
      .orderBy(col("user_id"))
  }

  val q140Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
      |runs AS (
      |  SELECT user_id, t, event_id, event_type,
      |    lead(event_type, 1) OVER w AS tag2, lead(t, 1) OVER w AS t2,
      |    lead(event_type, 2) OVER w AS tag3, lead(t, 2) OVER w AS t3
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |m AS (
      |  SELECT user_id, t AS t1_us, t2 AS t2_us, t3 AS t3_us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn
      |  FROM runs
      |  WHERE event_type = 'view' AND tag2 = 'click' AND tag3 = 'purchase')
      |SELECT user_id, t1_us, t2_us, t3_us FROM m WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Flink's default `AfterMatchSkipStrategy.noSkip()` restricted to
    * the library's deterministic earliest-per-seed rule: ONE match
    * per seed (view) event — the earliest click after it, then the
    * earliest purchase after that click — so overlapping matches
    * from different seeds all emit (NO_SKIP's observable surface)
    * while each seed stays deterministic. Declarative Spark-first
    * plan, ONE scan and zero joins: pass 1 annotates every event
    * with its next-click and next-purchase times over the FOLLOWING
    * window frame; pass 2 (same frame, same sort — no extra
    * exchange) takes min over following CLICKS of their
    * next-purchase, which IS the matched click's purchase because
    * next-purchase is monotone nondecreasing in click time
    * (purchases after a later click are a subset). RANGE frames on
    * the event time keep "after" strictly-later-in-time — the same
    * strict-t rule as the fold matchers, tie-safe by construction. A
    * join-back through the matched click — the first draft —
    * re-scanned events for the second leg (the twice-read rule,
    * fourth sighting). */
  def q142AllStarts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
    // RANGE (value) frame, not ROWS: "after" means STRICTLY LATER
    // event time, the same strict-t rule as every other matcher — a
    // ROWS frame would let a same-timestamp event count as after
    val frame = Window.partitionBy("user_id").orderBy("t_us")
      .rangeBetween(1, Window.unboundedFollowing)
    ev
      .withColumn("next_click",
        min(when(col("event_type") === "click", col("t_us"))).over(frame))
      .withColumn("next_purchase",
        min(when(col("event_type") === "purchase", col("t_us"))).over(frame))
      .withColumn("t3",
        min(when(col("event_type") === "click", col("next_purchase"))).over(frame))
      .filter(col("event_type") === "view" &&
        col("next_click").isNotNull && col("t3").isNotNull)
      .select(col("user_id"), col("t_us").as("t1_us"),
        col("next_click").as("t2_us"), col("t3").as("t3_us"))
      .orderBy(col("user_id"), col("t1_us"))
  }

  val q142Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
      |ann AS (
      |  SELECT user_id, t, event_id, event_type,
      |    min(CASE WHEN event_type = 'click' THEN t END) OVER w AS next_click,
      |    min(CASE WHEN event_type = 'purchase' THEN t END) OVER w AS next_purchase
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t
      |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
      |ann2 AS (
      |  SELECT user_id, t, event_type, next_click,
      |    min(CASE WHEN event_type = 'click' THEN next_purchase END) OVER w AS t3
      |  FROM ann WINDOW w AS (PARTITION BY user_id ORDER BY t
      |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT user_id, t AS t1_us, next_click AS t2_us, t3 AS t3_us
      |FROM ann2
      |WHERE event_type = 'view' AND next_click IS NOT NULL AND t3 IS NOT NULL
      |ORDER BY user_id, t1_us""".stripMargin

  /** Flink's `Pattern.followedByAny` — SKIP_TILL_ANY_MATCH contiguity
    * (reference flink-cep pattern/Pattern.java `followedByAny`;
    * nfa/NFA.java keeps the pre-branch state alive so EVERY later
    * candidate extends it, not just the earliest). For a two-step
    * `view followedByAny purchase` with `within(T)` the emitted match
    * set is, exactly, every (view, purchase) pair of one key with
    * `0 < t2 − t1 ≤ T` — so the Spark-first form needs no NFA at all:
    * it IS a time-bounded equi-key pair join, fully declarative.
    * Scale posture: one shuffle per side on the key, pair expansion
    * bounded per (key, within-window) — the `within` clause is what
    * keeps skip-till-any-match from going quadratic on a long-lived
    * key, the same reason Flink requires it in production patterns. */
  val AnyWithinUs: Long = 24L * 3600L * 1000000L

  def q144AnyPairs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("t_us").as("t1_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("uid"), col("t_us").as("t2_us"))
    v.join(p, col("user_id") === col("uid") &&
        col("t2_us") > col("t1_us") &&
        col("t2_us") <= col("t1_us") + AnyWithinUs)
      .select(col("user_id"), col("t1_us"), col("t2_us"))
      .orderBy(col("user_id"), col("t1_us"), col("t2_us"))
  }

  val q144Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events)
       |SELECT v.user_id, v.t AS t1_us, p.t AS t2_us
       |FROM ev v JOIN ev p ON v.user_id = p.user_id
       |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
       |  AND p.t > v.t AND p.t <= v.t + $AnyWithinUs
       |ORDER BY v.user_id, t1_us, t2_us""".stripMargin

  /** Flink's `oneOrMore().allowCombinations()` — NON-DETERMINISTIC
    * relaxed internal contiguity on a looping step (reference
    * flink-cep pattern/Quantifier.java `combinations()` via
    * Pattern.java `allowCombinations`; nfa/NFA.java keeps EVERY
    * partial loop state alive, so for `a b+` over `a b1 b2` the match
    * set is {a b1}, {a b2}, {a b1 b2} — every non-empty ordered
    * subset of the loop events, not just the consecutive prefixes the
    * default relaxed contiguity emits). Graded pattern:
    * `view followedByAny click.oneOrMore().allowCombinations()
    * .within(24h)` under the all-starts regime (every DISTINCT
    * (key, t) view anchors — same-microsecond views are
    * interchangeable under the t-only determinism rule — the
    * q142/q144 device).
    *
    * The subset expansion is inherently exponential, so — exactly as
    * Flink production patterns bound looping states with `within` and
    * `times` — the loop absorbs at most the first [[CombMax]] clicks
    * after the anchor (2^CombMax − 1 = 15 combinations per anchor;
    * the cap is mirrored in the oracle, the SkipMax/GroupMax
    * precedent). Each match row is scalar-shaped: `mask` identifies
    * the combination (bit i−1 ⇔ the i-th click by event time is in
    * it), with its size and first/last click times. Ranks over
    * equal-timestamp clicks are interchangeable, so tie order cannot
    * change any output row.
    *
    * Scale posture: one within-bounded pair join on the key (the
    * q144 shape), one anchor-keyed aggregate, and a ≤15-element
    * generate per anchor — no unbounded expansion anywhere.
    * Streaming twin: [[matchCombinationsStream]]. */
  val CombMax = 4

  def q174Combinations(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"), col("event_type"))
    // anchors are DISTINCT (key, t) pairs — two views at the same
    // microsecond are interchangeable under this library's t-only
    // determinism rule, and collapsing them keeps the per-anchor
    // click list duplicate-free (a non-distinct join would rank each
    // click once per duplicate view row)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("t_us").as("t1_us")).distinct()
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("uid"), col("t_us").as("tc_us"))
    val ranked = v.join(c, col("user_id") === col("uid") &&
        col("tc_us") > col("t1_us") &&
        col("tc_us") <= col("t1_us") + AnyWithinUs)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("t1_us")).orderBy(col("tc_us"))))
      .filter(col("rn") <= CombMax)
    ranked.groupBy(col("user_id"), col("t1_us"))
      .agg(sort_array(collect_list(struct(col("rn"), col("tc_us")))).as("cs"))
      .select(col("user_id"), col("t1_us"),
        expr("explode(sequence(1, shiftleft(1, size(cs)) - 1))")
          .as("mask0"), col("cs"))
      .withColumn("sel",
        expr("filter(cs, x -> ((mask0 >> (x.rn - 1)) & 1) = 1)"))
      .select(col("user_id"), col("t1_us"),
        col("mask0").cast("long").as("mask"),
        size(col("sel")).cast("long").as("k"),
        expr("array_min(transform(sel, x -> x.tc_us))").as("tc_first"),
        expr("array_max(transform(sel, x -> x.tc_us))").as("tc_last"))
      .orderBy(col("user_id"), col("t1_us"), col("mask"))
  }

  val q174Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
       |anch AS (SELECT DISTINCT user_id, t AS t1 FROM ev WHERE event_type = 'view'),
       |clk AS (
       |  SELECT a.user_id, a.t1, c.t AS tc,
       |    row_number() OVER (PARTITION BY a.user_id, a.t1 ORDER BY c.t) AS rn
       |  FROM anch a JOIN ev c ON a.user_id = c.user_id
       |  WHERE c.event_type = 'click' AND c.t > a.t1
       |    AND c.t <= a.t1 + $AnyWithinUs),
       |capped AS (SELECT * FROM clk WHERE rn <= $CombMax),
       |ks AS (SELECT user_id, t1, count(*) AS kA FROM capped GROUP BY 1, 2),
       |masks AS (
       |  SELECT k.user_id, k.t1, r.range AS mask
       |  FROM ks k JOIN range(1, ${(1 << CombMax)}) r ON r.range < (1 << kA))
       |SELECT m.user_id, m.t1 AS t1_us, CAST(m.mask AS BIGINT) AS mask,
       |  CAST(count(*) AS BIGINT) AS k, min(c.tc) AS tc_first,
       |  max(c.tc) AS tc_last
       |FROM masks m JOIN capped c ON c.user_id = m.user_id AND c.t1 = m.t1
       |  AND ((m.mask >> (c.rn - 1)) & 1) = 1
       |GROUP BY m.user_id, m.t1, m.mask
       |ORDER BY m.user_id, t1_us, mask""".stripMargin

  final case class CombAnchor(t1: Long, clicks: List[Long])
  final case class CombsState(anchors: List[CombAnchor])
  final case class CombMatch(key: Long, t1_us: Long, mask: Long, k: Long,
    tc_first: Long, tc_last: Long)

  /** Streaming twin of [[q174Combinations]] — allowCombinations as
    * INCREMENTAL subset emission: a new loop event extends every live
    * anchor and emits exactly the 2^k0 combinations that contain it
    * (each subset of the anchor's k0 earlier clicks, plus this one),
    * so over an anchor's life every one of the batch's 2^n − 1
    * subsets is emitted exactly once — the same one-emission-per-match
    * contract as every streaming twin here, with no buffering of
    * emitted matches. Per-key state = live anchors within the
    * `within` window (the matchWithinStream bound: window × per-key
    * anchor rate, never stream length) each carrying ≤ [[CombMax]]
    * click times; a full anchor stops absorbing, an out-of-window
    * anchor retires. A key with no live anchors is at the initial
    * state, so the driver holds NO state and pins NO timer for it
    * (state-store size tracks live anchors, not distinct keys ever
    * seen); non-empty state expires at the newest anchor's window
    * horizon. Same
    * in-order per-key arrival contract as the other twins;
    * same-timestamp anchors dedup on t1 (the batch DISTINCT) and a
    * click at the anchor's own microsecond is excluded by the strict
    * `t1 < tc` rule on both paths. */
  def matchCombinationsStream(events: Dataset[PEvent],
      anchorTag: String = "view", loopTag: String = "click",
      withinUs: Long = AnyWithinUs): Dataset[CombMatch] = {
    import events.sparkSession.implicits._
    cepKeyed(events, CombsState(Nil), byTime(_ == anchorTag)) { (key, s0, evs, _) =>
      var anchors = s0.anchors
      val out = ArrayBuffer.empty[CombMatch]
      evs.foreach { e =>
        // retire on window expiry ONLY — a full anchor stays (dedups a
        // same-t1 duplicate view) but absorbs nothing
        anchors = anchors.filter(_.t1 + withinUs >= e.t_us)
        if (e.tag == anchorTag) {
          if (!anchors.exists(_.t1 == e.t_us))
            anchors = CombAnchor(e.t_us, Nil) :: anchors
        } else if (e.tag == loopTag) {
          anchors = anchors.map { a =>
            if (a.t1 < e.t_us && e.t_us <= a.t1 + withinUs && a.clicks.length < CombMax) {
              val k0 = a.clicks.length
              var m = 0L
              while (m < (1L << k0)) {
                val sel = a.clicks.zipWithIndex.collect {
                  case (t, i) if ((m >> i) & 1L) == 1L => t }
                out += CombMatch(key, a.t1, m | (1L << k0), sel.length + 1L,
                  if (sel.isEmpty) e.t_us else sel.min, e.t_us)
                m += 1
              }
              CombAnchor(a.t1, a.clicks :+ e.t_us)
            } else a
          }
        }
      }
      // no live anchors is the initial state: an anchorless key can
      // never emit, and a stale same-t1 duplicate view is
      // watermark-dropped before it could matter — it holds nothing
      Step(CombsState(anchors), out.iterator,
        anchors.map(_.t1 + withinUs).maxOption.map(_ / 1000L + 1L))
    }
  }

  /** `view  followedBy  click.oneOrMore().until(error)  followedBy
    * purchase` — the until-bounded loop (see [[QStep.oneOrMoreUntil]]):
    * the click loop stops accepting at the user's first error after
    * the view, so the first click must land before that boundary and
    * the greedy click count stops at min(purchase, boundary). Same
    * driver shape as q127 (one user-keyed shuffle, O(steps) state). */
  def q145UntilBurst(spark: SparkSession, dir: String): DataFrame =
    matchQuant3(spark, dir, IndexedSeq(QStep.once("view"),
      QStep.oneOrMoreUntil("click", "error"), QStep.once("purchase")))

  val q145Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |u AS (
      |  SELECT v.user_id, min(epoch_us(e.ts)) AS fu
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'error' AND epoch_us(e.ts) > v.t1
      |  GROUP BY v.user_id),
      |c AS (
      |  SELECT v.user_id, min(epoch_us(e.ts)) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  LEFT JOIN u ON v.user_id = u.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      |    AND (u.fu IS NULL OR epoch_us(e.ts) < u.fu)
      |  GROUP BY v.user_id),
      |p AS (
      |  SELECT c.user_id, min(epoch_us(e.ts)) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      |  GROUP BY c.user_id),
      |n AS (
      |  SELECT v.user_id, count(DISTINCT epoch_us(e.ts)) AS n_clicks
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  JOIN p ON v.user_id = p.user_id
      |  LEFT JOIN u ON v.user_id = u.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      |    AND epoch_us(e.ts) < p.t3
      |    AND (u.fu IS NULL OR epoch_us(e.ts) < u.fu)
      |  GROUP BY v.user_id)
      |SELECT v.user_id, v.t1 AS t1_us, c.t2 AS t2_us, p.t3 AS t3_us, n.n_clicks
      |FROM v JOIN c ON v.user_id = c.user_id
      |       JOIN p ON v.user_id = p.user_id
      |       JOIN n ON v.user_id = n.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Flink's `Pattern.notNext()` — STRICT-contiguity NEGATION
    * (reference flink-cep pattern/Pattern.java `notNext`; nfa strict
    * ignore-less transitions): match an A whose IMMEDIATELY following
    * event in the key's total order is NOT a B (end-of-stream counts
    * as not-B, Flink's semantics once the watermark passes). Like
    * q140's `next`, this is declaratively expressible — one
    * window-lead pass, no fold; event_id breaks timestamp ties so
    * both engines see one total order. Domain: views NOT immediately
    * followed by a click (the "lost impression" query). */
  def q155NotNext(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("event_type") === "view" &&
        (col("next_type").isNull || col("next_type") =!= "click"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_unfollowed"), min(col("t_us")).as("first_t_us"))
      .orderBy(col("user_id"))
  }

  val q155Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
      |ann AS (
      |  SELECT user_id, t, event_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS next_type
      |  FROM ev)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_unfollowed,
      |  min(t) AS first_t_us
      |FROM ann
      |WHERE event_type = 'view' AND (next_type IS NULL OR next_type <> 'click')
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Streaming twin of the quantified chain (required steps only; the
    * FINAL step must be non-looping — a greedy tail loop never closes
    * on an unbounded stream, the same reason Flink requires a
    * `within`/next state to cut a trailing `oneOrMore`). Per-key
    * state: current step index + consumption count + the greedy
    * extension counter of the previously completed step — O(steps)
    * longs, same in-order contract and idle-expiry lifecycle as
    * [[matchChainStream]]. Emits completion times AND per-step greedy
    * counts; equals the batch [[earliestQuantChain]] on ordered
    * feeds (PatternsSpec on q127/q145, PropertySpec on random
    * chains), equal timestamps included: a loop event at the very
    * timestamp that completes the next step is not counted (the
    * batch count is strictly before the completion). */
  final case class QuantState(stepIdx: Int, cnt: Int, last: Long,
      comps: List[Long], counts: List[Int], extCnt: Int, extLast: Long,
      done: Boolean, extClosed: Boolean = false)
  final case class QuantMatch(key: Long, ts: Seq[Long], counts: Seq[Int])

  def matchQuantStream(events: Dataset[PEvent], steps: IndexedSeq[QStep],
      idleExpiryUs: Long = 30L * 86400L * 1000000L): Dataset[QuantMatch] = {
    import events.sparkSession.implicits._
    require(steps.forall(!_.optional), "streaming twin supports required steps only")
    require(!steps.last.looping, "final step must be non-looping on a stream")
    val n = steps.length
    // an until boundary is STRICT (consumption needs t < boundary), so
    // same-time ties must process the boundary event first
    val untilTags = steps.flatMap(_.until).toSet
    cepKeyed(events, QuantState(0, 0, Long.MinValue, Nil, Nil, 0, Long.MinValue, false),
      byTime(untilTags)) { (key, s0, evs, lastSeenMs) =>
      var s = s0
      val out = ArrayBuffer.empty[QuantMatch]
      evs.foreach { e =>
        if (!s.done) {
          // until boundary of the CURRENT step: in-order arrival
          // means the step is still short of `times`, so the
          // committed chain can never complete — dead tombstone
          // (same lifecycle as done, nothing emitted)
          if (steps(s.stepIdx).until.contains(e.tag) &&
              e.t_us > s.comps.lastOption.getOrElse(Long.MinValue))
            s = s.copy(done = true)
          // until boundary of the PREVIOUS looping step closes
          // its greedy extension window (batch: extent capped at
          // min(next completion, boundary))
          else if (s.stepIdx > 0 &&
              steps(s.stepIdx - 1).until.contains(e.tag))
            s = s.copy(extClosed = true)
        }
        if (!s.done) {
          // greedy extension of the PREVIOUS completed step: its
          // loop absorbs tag events until the current step closes
          // (or its own until boundary hits)
          if (s.stepIdx > 0 && steps(s.stepIdx - 1).looping &&
              !s.extClosed &&
              e.tag == steps(s.stepIdx - 1).tag && e.t_us > s.extLast)
            s = s.copy(extCnt = s.extCnt + 1, extLast = e.t_us)
          val st = steps(s.stepIdx)
          if (e.tag == st.tag && e.t_us > s.last) {
            s = s.copy(cnt = s.cnt + 1, last = e.t_us)
            if (s.cnt == st.times) {
              // freeze the previous step's greedy count, open ours; an
              // extension at this very timestamp is not strictly before
              // the completion (the batch `<` rule) and drops out
              val prevCount =
                if (s.stepIdx == 0) Nil
                else List(
                  if (steps(s.stepIdx - 1).looping) {
                    val raw = steps(s.stepIdx - 1).times + s.extCnt -
                      (if (s.extLast == s.last) 1 else 0)
                    steps(s.stepIdx - 1).maxTimes
                      .fold(raw)(math.min(raw, _))
                  } else 1)
              s = QuantState(s.stepIdx + 1, 0, s.last,
                s.comps :+ s.last, s.counts ++ prevCount,
                extCnt = 0, extLast = s.last, done = false)
              if (s.stepIdx == n) {
                out += QuantMatch(key, s.comps, s.counts :+ 1)
                s = s.copy(done = true)
              }
            }
          }
        }
      }
      Step(s, out.iterator, Option.when(s.done)(lastSeenMs + idleExpiryUs / 1000L))
    }
  }

  // ------------------------------------------- group patterns
  /** Flink CEP GroupPattern (reference flink-cep
    * `pattern/GroupPattern.java` + `Pattern.java begin(Pattern)`): a
    * nested pattern SEQUENCE under a quantifier — here
    * `(g1 … gk).oneOrMore()` followed by a tail step, i.e.
    * "(view click)+ purchase". Iterations are SEQUENTIAL earliest
    * chains: iteration r consumes its steps strictly after iteration
    * r−1's completion (the same committed earliest-seed rule as every
    * matcher in this file), and the loop absorbs at most [[GroupMax]]
    * iterations — a real guard against pathological keys, mirrored
    * verbatim in the oracle's unrolled rounds (the q135 SkipMax
    * device). Returns (start, completion) per absorbed iteration.
    * One sorted forward scan: an event passed over inside iteration r
    * precedes r's completion, so it can never serve iteration r+1 —
    * the pointer never rewinds and the whole key costs O(n log n). */
  val GroupMax = 6

  def groupIterations(group: IndexedSeq[String], maxIters: Int,
      events: Iterator[(Long, String)]): IndexedSeq[(Long, Long)] = {
    val sorted = events.toArray.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    var prev = Long.MinValue
    var go = true
    while (go && out.length < maxIters) {
      var gi = 0
      var last = prev
      var first = -1L
      while (i < sorted.length && gi < group.length) {
        val (t, tag) = sorted(i)
        if (tag == group(gi) && t > last) {
          if (gi == 0) first = t
          last = t; gi += 1
        }
        i += 1
      }
      if (gi == group.length) { out += ((first, last)); prev = last }
      else go = false
    }
    out.toIndexedSeq
  }

  /** `(view click)+  followedBy  purchase` under the DEFAULT
    * (reluctant) quantifier expansion: the match commits after the
    * FIRST group iteration — tail = earliest purchase strictly after
    * iteration 1's completion — and `n_groups` reports the loop's
    * greedy extent, the count of sequential iterations completing
    * strictly before the tail (the q127 convention lifted from a
    * single step to a nested sequence). */
  def q161GroupLoop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val group = IndexedSeq("view", "click")
    Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        val evs = it.map(e => (e.t_us, e.tag)).toArray
        val iters = groupIterations(group, GroupMax, evs.iterator)
        iters.headOption.flatMap { case (v1, c1) =>
          evs.iterator.filter { case (t, tag) => tag == "purchase" && t > c1 }
            .map(_._1).minOption
            .map(t3 => (key, v1, c1, t3, iters.count(_._2 < t3).toLong))
        }.iterator
      }
      .select(col("_1").as("user_id"), col("_2").as("t1_us"),
        col("_3").as("t2_us"), col("_4").as("t3_us"), col("_5").as("n_groups"))
      .orderBy(col("user_id"))
  }

  /** The oracle unrolls [[GroupMax]] sequential (view, click) rounds,
    * each lower-bounded by the previous round's click. */
  private def groupRoundsSql: String = {
    val rounds = (1 to GroupMax).map { r =>
      val prev = if (r == 1) "seed" else s"g${r - 1}"
      s"""g${r}v AS (
         |  SELECT e.user_id, min(e.t) AS tv
         |  FROM ev e JOIN $prev ON e.user_id = $prev.user_id
         |  WHERE e.event_type = 'view' AND e.t > $prev.tc GROUP BY e.user_id),
         |g${r}c AS (
         |  SELECT e.user_id, min(e.t) AS tc
         |  FROM ev e JOIN g${r}v ON e.user_id = g${r}v.user_id
         |  WHERE e.event_type = 'click' AND e.t > g${r}v.tv GROUP BY e.user_id),
         |g$r AS (
         |  SELECT g${r}v.user_id, g${r}v.tv, g${r}c.tc
         |  FROM g${r}v JOIN g${r}c ON g${r}v.user_id = g${r}c.user_id)""".stripMargin
    }.mkString(",\n")
    val comps = (1 to GroupMax)
      .map(r => s"SELECT user_id, tv, tc FROM g$r").mkString("\nUNION ALL ")
    s"""ev AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
       |seed AS (SELECT DISTINCT user_id,
       |  CAST(-9223372036854775808 AS BIGINT) AS tc FROM ev),
       |$rounds,
       |comps AS ($comps)""".stripMargin
  }

  val q161Sql: String =
    s"""WITH ${groupRoundsSql},
       |p AS (
       |  SELECT e.user_id, min(e.t) AS t3
       |  FROM ev e JOIN g1 ON e.user_id = g1.user_id
       |  WHERE e.event_type = 'purchase' AND e.t > g1.tc GROUP BY e.user_id),
       |n AS (
       |  SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_groups
       |  FROM comps c JOIN p ON c.user_id = p.user_id
       |  WHERE c.tc < p.t3 GROUP BY c.user_id)
       |SELECT g1.user_id AS user_id, g1.tv AS t1_us, g1.tc AS t2_us,
       |  p.t3 AS t3_us, n.n_groups
       |FROM g1 JOIN p ON g1.user_id = p.user_id
       |        JOIN n ON g1.user_id = n.user_id
       |ORDER BY g1.user_id""".stripMargin

  /** `(view click)+.greedy()  followedBy  purchase` — Flink's
    * `greedy()` modifier (reference flink-cep
    * `pattern/Quantifier.java greedy`; nfa/NFACompiler greedy edge
    * priority): at every decision point the loop PREFERS absorbing
    * another iteration over proceeding, so the committed match
    * carries the LAST absorbed iteration's completion and the tail
    * must fire strictly after it — no backtracking, so a key whose
    * purchases all precede the loop's final iteration has NO match
    * (the observable difference from q161's reluctant default, which
    * commits after iteration 1). `n_groups` = every absorbed
    * iteration (capped at [[GroupMax]] in both engines). */
  def q162GreedyGroupLoop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val group = IndexedSeq("view", "click")
    Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        val evs = it.map(e => (e.t_us, e.tag)).toArray
        val iters = groupIterations(group, GroupMax, evs.iterator)
        iters.lastOption.flatMap { case (_, tl) =>
          evs.iterator.filter { case (t, tag) => tag == "purchase" && t > tl }
            .map(_._1).minOption
            .map(t3 => (key, tl, t3, iters.length.toLong))
        }.iterator
      }
      .select(col("_1").as("user_id"), col("_2").as("t_loop_us"),
        col("_3").as("t3_us"), col("_4").as("n_groups"))
      .orderBy(col("user_id"))
  }

  val q162Sql: String =
    s"""WITH ${groupRoundsSql},
       |last AS (
       |  SELECT user_id, max(tc) AS tl, CAST(count(*) AS BIGINT) AS n_groups
       |  FROM comps GROUP BY user_id),
       |p AS (
       |  SELECT e.user_id, min(e.t) AS t3
       |  FROM ev e JOIN last ON e.user_id = last.user_id
       |  WHERE e.event_type = 'purchase' AND e.t > last.tl GROUP BY e.user_id)
       |SELECT last.user_id AS user_id, last.tl AS t_loop_us, p.t3 AS t3_us,
       |  last.n_groups
       |FROM last JOIN p ON last.user_id = p.user_id
       |ORDER BY last.user_id""".stripMargin

  /** Streaming twin of the RELUCTANT group loop (q161). Per-key
    * state: position inside the current iteration + completed
    * iteration count + iteration 1's (start, completion) — O(1)
    * longs regardless of [[GroupMax]]. Same in-order contract and
    * idle-expiry lifecycle as [[matchChainStream]]; same-time ties
    * process the tail first (a completion at exactly the tail's
    * timestamp must not count toward `n_groups` — the batch rule is
    * strict `<`). The GREEDY variant has no streaming twin for the
    * same reason a trailing `oneOrMore` doesn't: the loop only
    * closes when the stream ends, so the tail can never commit. */
  final case class GroupLoopState(gi: Int, last: Long, curStart: Long,
      nDone: Int, v1: Long, c1: Long, done: Boolean)
  final case class GroupMatch(key: Long, v1: Long, c1: Long, t3: Long,
      nGroups: Long)

  def matchGroupLoopStream(events: Dataset[PEvent],
      group: IndexedSeq[String], tailTag: String,
      idleExpiryUs: Long = 30L * 86400L * 1000000L): Dataset[GroupMatch] = {
    import events.sparkSession.implicits._
    cepKeyed(events, GroupLoopState(0, Long.MinValue, -1L, 0, -1L, -1L, false),
      byTime(_ == tailTag)) { (key, s0, evs, lastSeenMs) =>
      var s = s0
      val out = ArrayBuffer.empty[GroupMatch]
      evs.foreach { e =>
        if (!s.done) {
          if (e.tag == tailTag && s.nDone >= 1 && e.t_us > s.c1) {
            // ties processed tail-first, so every counted
            // completion is strictly earlier — exactly the
            // batch `_ < t3` rule
            out += GroupMatch(key, s.v1, s.c1, e.t_us, s.nDone.toLong)
            s = s.copy(done = true)
          } else if (s.nDone < GroupMax && e.tag == group(s.gi) &&
              e.t_us > s.last) {
            val start = if (s.gi == 0) e.t_us else s.curStart
            if (s.gi == group.length - 1) {
              val firstIter = s.nDone == 0
              s = s.copy(gi = 0, last = e.t_us, curStart = -1L,
                nDone = s.nDone + 1,
                v1 = if (firstIter) start else s.v1,
                c1 = if (firstIter) e.t_us else s.c1)
            } else s = s.copy(gi = s.gi + 1, last = e.t_us,
              curStart = start)
          }
        }
      }
      Step(s, out.iterator, Option.when(s.done)(lastSeenMs + idleExpiryUs / 1000L))
    }
  }

  // ------------------------------------------- subtype steps
  /** Flink CEP `subtype()` (reference flink-cep `pattern/Pattern.java`
    * subtype(Class) — a step accepting any event of a SUBCLASS of its
    * declared type) re-expressed over the tag column: a step accepts
    * a SET of tags, the super-type's members. Same committed
    * earliest-chain semantics and forward scan as [[earliestChain]];
    * a singleton set per step degrades to it exactly
    * (PatternsSpec). */
  def earliestChainMulti(steps: IndexedSeq[Set[String]],
      events: Iterator[(Long, String)]): Option[IndexedSeq[Long]] = {
    val sorted = events.toArray.sortBy(_._1)
    val out = new Array[Long](steps.length)
    var prev = Long.MinValue
    var i = 0
    var ok = true
    steps.indices.foreach { si =>
      if (ok) {
        var found = false
        while (i < sorted.length && !found) {
          val (t, tag) = sorted(i)
          if (steps(si)(tag) && t > prev) { out(si) = t; prev = t; found = true }
          i += 1
        }
        ok = found
      }
    }
    if (ok) Some(out.toIndexedSeq) else None
  }

  /** Super-type funnel — `signup  followedBy
    * interaction.subtype(view | click)  followedBy  purchase`: the
    * middle step accepts either interaction kind, whichever comes
    * first (the canonical subtype() use: match on the base class). */
  def q172SubtypeFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps = IndexedSeq(Set("signup"), Set("view", "click"), Set("purchase"))
    Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"))
      .as[PEvent]
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        earliestChainMulti(steps, it.map(e => (e.t_us, e.tag)))
          .map(m => (key, m(0), m(1), m(2))).iterator
      }
      .select(col("_1").as("user_id"), col("_2").as("t1_us"),
        col("_3").as("t2_us"), col("_4").as("t3_us"))
      .orderBy(col("user_id"))
  }

  val q172Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM ev
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.t) AS t2
      |       FROM ev e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type IN ('view', 'click') AND e.t > s1.t1
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.t) AS t3
      |       FROM ev e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.t > s2.t2
      |       GROUP BY e.user_id)
      |SELECT s1.user_id AS user_id, s1.t1 AS t1_us, s2.t2 AS t2_us,
      |  s3.t3 AS t3_us
      |FROM s1 JOIN s2 ON s1.user_id = s2.user_id
      |        JOIN s3 ON s1.user_id = s3.user_id
      |ORDER BY s1.user_id""".stripMargin

  // ------------------------------------------- iterative conditions
  /** Flink CEP `IterativeCondition` (reference flink-cep
    * `pattern/conditions/IterativeCondition.java`:
    * `filter(value, ctx)` where `ctx.getEventsForPattern(step)`
    * exposes the previously-matched events): each step's acceptance
    * predicate reads the COMMITTED MATCH PREFIX, re-expressed under
    * the library's committed-chain semantics — a step consumes the
    * earliest event (by (t, value), the tie-pinned total order)
    * strictly after the previous completion whose tag matches AND
    * whose predicate over (value, prefix values) holds. Documented
    * deviation, same as every matcher here: Flink's NFA would also
    * branch from later seeds when an accepted-but-doomed prefix kills
    * the committed chain; the committed rule is what the oracle
    * states. The forward scan never rewinds (an event passed while
    * completing step i precedes i's completion, so it can't serve
    * step j > i) — O(n log n) per key. Returns (t, value) per step. */
  def earliestGuardedChain(
      steps: IndexedSeq[(String, (Double, List[Double]) => Boolean)],
      events: Iterator[(Long, String, Double)])
      : Option[IndexedSeq[(Long, Double)]] = {
    val sorted = events.toArray.sortBy(e => (e._1, e._3))
    val out = new Array[(Long, Double)](steps.length)
    var vals = List.empty[Double] // committed prefix, match order
    var prev = Long.MinValue
    var i = 0
    var ok = true
    steps.indices.foreach { si =>
      if (ok) {
        val (tag, pred) = steps(si)
        var found = false
        while (i < sorted.length && !found) {
          val (t, tg, v) = sorted(i)
          if (tg == tag && t > prev && pred(v, vals)) {
            out(si) = (t, v); prev = t; vals = vals :+ v; found = true
          }
          i += 1
        }
        ok = found
      }
    }
    if (ok) Some(out.toIndexedSeq) else None
  }

  /** Increasing-value funnel — `view  followedBy
    * click.where(value > view.value)  followedBy
    * purchase.where(value > click.value)`: each step's event must
    * strictly exceed the previous matched event's value (the
    * canonical IterativeCondition example). Values pass through
    * unchanged (no arithmetic) — bit-identical cross-engine. */
  def q165GuardedFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps: IndexedSeq[(String, (Double, List[Double]) => Boolean)] =
      IndexedSeq(
        ("view", (_, _) => true),
        ("click", (v, prefix) => v > prefix.last),
        ("purchase", (v, prefix) => v > prefix.last))
    Tables.events(spark, dir)
      .select(col("user_id").as("key"), expr("ts div 1000").as("t_us"),
        col("event_type").as("tag"), col("value"))
      .as[(Long, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        earliestGuardedChain(steps, it.map(e => (e._2, e._3, e._4)))
          .map(m => (key, m(0)._1, m(0)._2, m(1)._1, m(1)._2,
            m(2)._1, m(2)._2)).iterator
      }
      .select(col("_1").as("user_id"), col("_2").as("t1_us"),
        col("_3").as("v1"), col("_4").as("t2_us"), col("_5").as("v2"),
        col("_6").as("t3_us"), col("_7").as("v3"))
      .orderBy(col("user_id"))
  }

  val q165Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_type, value
      |            FROM events),
      |s1 AS (SELECT user_id, t, v FROM (
      |  SELECT user_id, t, value AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY t, value) AS rn
      |  FROM ev WHERE event_type = 'view') WHERE rn = 1),
      |s2 AS (SELECT user_id, t, v FROM (
      |  SELECT e.user_id, e.t, e.value AS v,
      |    row_number() OVER (PARTITION BY e.user_id ORDER BY e.t, e.value) AS rn
      |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.t > s1.t AND e.value > s1.v)
      |  WHERE rn = 1),
      |s3 AS (SELECT user_id, t, v FROM (
      |  SELECT e.user_id, e.t, e.value AS v,
      |    row_number() OVER (PARTITION BY e.user_id ORDER BY e.t, e.value) AS rn
      |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.t > s2.t AND e.value > s2.v)
      |  WHERE rn = 1)
      |SELECT s1.user_id AS user_id, s1.t AS t1_us, s1.v AS v1,
      |  s2.t AS t2_us, s2.v AS v2, s3.t AS t3_us, s3.v AS v3
      |FROM s1 JOIN s2 ON s1.user_id = s2.user_id
      |        JOIN s3 ON s1.user_id = s3.user_id
      |ORDER BY s1.user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q116_funnel" -> (q116Funnel _),
    "q117_funnel_guard" -> (q117FunnelGuard _),
    "q120_funnel_within" -> (q120FunnelWithin _),
    "q127_click_burst" -> (q127ClickBurst _),
    "q135_all_funnels" -> (q135AllFunnels _),
    "q140_strict_next" -> (q140StrictNext _),
    "q142_all_starts" -> (q142AllStarts _),
    "q144_any_pairs" -> (q144AnyPairs _),
    "q174_combinations" -> (q174Combinations _),
    "q145_until_burst" -> (q145UntilBurst _),
    "q147_skip_to_click" -> (q147SkipToClick _),
    "q153_times_range" -> (q153TimesRange _),
    "q155_not_next" -> (q155NotNext _),
    "q161_group_loop" -> (q161GroupLoop _),
    "q162_greedy_group_loop" -> (q162GreedyGroupLoop _),
    "q165_guarded_funnel" -> (q165GuardedFunnel _),
    "q172_subtype_funnel" -> (q172SubtypeFunnel _))

  def oracles: Map[String, String] = Map(
    "q116_funnel" -> q116Sql,
    "q117_funnel_guard" -> q117Sql,
    "q120_funnel_within" -> q120Sql,
    "q127_click_burst" -> q127Sql,
    "q135_all_funnels" -> q135Sql,
    "q140_strict_next" -> q140Sql,
    "q142_all_starts" -> q142Sql,
    "q144_any_pairs" -> q144Sql,
    "q174_combinations" -> q174Sql,
    "q145_until_burst" -> q145Sql,
    "q147_skip_to_click" -> q147Sql,
    "q153_times_range" -> q153Sql,
    "q155_not_next" -> q155Sql,
    "q161_group_loop" -> q161Sql,
    "q162_greedy_group_loop" -> q162Sql,
    "q165_guarded_funnel" -> q165Sql,
    "q172_subtype_funnel" -> q172Sql)
}
