package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Streams, WindowSpi}
import graft.streaming.Streams.Ev
import graft.streaming.WindowSpi.{CountEvictor, CountTrigger, DeltaTrigger, NoEvictor, PurgingTrigger}

class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  private def feed(evs: Seq[Ev]): MemoryStream[Ev] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(evs)
    ms
  }

  test("streaming tumbling agg matches the batch plan on the same data") {
    import spark.implicits._
    val evs = Seq(
      Ev(1, ts(0), 1, "a", 10.0), Ev(2, ts(2), 1, "a", 20.0),
      Ev(3, ts(6), 1, "a", 5.0), Ev(4, ts(7), 2, "b", 7.0),
      Ev(5, ts(40), 1, "a", 1.0)) // watermark pusher
    val ms = feed(evs)
    val q = Streams.tumbling(ms.toDF()).writeStream
      .format("memory").queryName("tumb").outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tumb")
      .select(col("window.start").cast("long").as("w"), col("event_type"), col("n"), col("sum_v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // batch reference on the same rows (windows closed by the watermark)
    val batch = evs.toDF().filter(col("event_id") < 5)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
      .select(col("window.start").cast("long"), col("event_type"), col("n"), col("sum_v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("dynamic-gap sessions merge by per-element gap and match the batch twin") {
    import spark.implicits._
    val evs = Seq(
      Ev(1, ts(0), 1, "purchase", 10.0), // 30-min gap: reaches t=30
      Ev(2, ts(25), 1, "view", 5.0),     // merged; 10-min gap: reaches t=35
      Ev(3, ts(40), 1, "view", 2.0),     // outside → second session
      Ev(4, ts(200), 9, "view", 0.0))    // watermark pusher
    val ms = feed(evs)
    val q = Streams.sessionDynamicGap(ms.toDF()).writeStream
      .format("memory").queryName("dynsess").outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dynsess")
      .select(col("user_id"), col("n_events"), col("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // a static 10-min gap would NOT merge t=0 with t=25; the purchase's
    // 30-min gap does
    assert(got.contains((1L, 2L, 15.0)), s"purchase gap failed to merge: $got")
    assert(got.contains((1L, 1L, 2.0)))
    // batch twin over the closed sessions
    val batch = evs.toDF().filter(col("user_id") === 1)
      .groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "purchase", "30 minutes").otherwise("10 minutes")))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_v"))
      .select(col("user_id"), col("n_events"), col("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch)
  }

  test("processing-time windows bucket on the arrival clock") {
    import spark.implicits._
    val ms = feed((1 to 6).map(i => Ev(i, ts(i), 1, "a", 1.0)))
    val q = Streams.tumblingProcessingTime(ms.toDF(), "1 hour").writeStream
      .format("memory").queryName("ptw").outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ptw").collect()
    // all six events arrive inside one wall-clock hour bucket
    assert(rows.map(_.getLong(2)).sum == 6)
    assert(rows.map(r => r.getStruct(0)).toSet.size == 1)
  }

  test("stream iteration converges elements through the feedback loop") {
    import java.nio.file.{Files => JFiles, Paths}
    val root = JFiles.createTempDirectory("graft_iter").toString
    val (srcDir, fbDir) = (s"$root/src", s"$root/fb")
    JFiles.createDirectories(Paths.get(srcDir))
    // countdown workload: value decrements per hop until 0
    JFiles.write(Paths.get(srcDir, "in.json"),
      (1 to 4).map(i => s"""{"id":$i,"value":$i,"hops":0}""").mkString("\n").getBytes)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Int, Boolean)]()
    val q = Streams.iterateStream(spark, srcDir, fbDir,
      "id BIGINT, value INT, hops INT", hopCol = "hops", maxHops = 10,
      isDone = col("value") <= 0,
      step = b => b.withColumn("value", col("value") - 1)
        .withColumn("hops", col("hops") + 1)) { d =>
      d.collect().foreach(r =>
        done.add((r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3))))
    }
    val deadline = System.currentTimeMillis() + 60000
    while (done.size < 4 && System.currentTimeMillis() < deadline) {
      q.processAllAvailable(); Thread.sleep(200)
    }
    q.stop()
    val out = done.toArray(Array.empty[(Long, Int, Int, Boolean)]).sortBy(_._1).toSeq
    // element i needs exactly i hops to count down to zero; all
    // genuinely converge, none give up
    assert(out == (1 to 4).map(i => (i.toLong, 0, i, false)).toSeq, s"got $out")
  }

  test("rate source feeds the standard transform surface") {
    val q = Streams.rateSource(spark, 200)
      .groupBy(col("user_id")).agg(sum(col("value")).as("s"))
      .writeStream.format("memory").queryName("ratesrc")
      .outputMode(OutputMode.Complete()).start()
    val deadline = System.currentTimeMillis() + 20000
    var n = 0L
    while (n == 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500); q.processAllAvailable()
      n = spark.table("ratesrc").count()
    }
    q.stop()
    assert(n > 0, "rate source produced no rows within 20s")
  }

  test("streaming dedup drops re-delivered event ids") {
    val evs = Seq(
      Ev(1, ts(0), 1, "a", 1.0), Ev(1, ts(1), 1, "a", 1.0),
      Ev(2, ts(2), 1, "a", 2.0))
    val ms = feed(evs)
    val q = Streams.dedup(ms.toDF()).writeStream
      .format("memory").queryName("dd").outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dd").count() == 2)
  }

  test("count windows emit exactly every `size` events per key") {
    import spark.implicits._
    val evs = (1 to 7).map(i => Ev(i, ts(i), 1, "a", i.toDouble)) ++
      (1 to 3).map(i => Ev(100 + i, ts(i), 2, "b", 1.0))
    val ms = feed(evs)
    val q = WindowSpi.globalWindow(ms.toDS(), PurgingTrigger(CountTrigger(3)), NoEvictor).writeStream
      .format("memory").queryName("cw").outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("cw").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // user 1: windows (1,2,3)=6 and (4,5,6)=15; 7th stays buffered.
    // user 2: (1,2,3)=3.
    assert(rows == Set((1L, 0L, 3L, 6.0), (1L, 1L, 3L, 15.0), (2L, 0L, 3L, 3.0)))
  }

  test("sliding count window fires every slide over the last size events") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.globalWindow(ms.toDS(), CountTrigger(2), CountEvictor(3)).writeStream
      .format("memory").queryName("scw").outputMode(OutputMode.Append()).start()
    ms.addData((1 to 5).map(i => Ev(i, ts(i), 1, "a", i.toDouble)): _*)
    q.processAllAvailable()
    // fires at events 2 and 4: ring(1,2)=3.0 then ring(2,3,4)=9.0
    val afterB1 = spark.table("scw").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(afterB1 == Set((0L, 2L, 3.0), (1L, 3L, 9.0)))
    // evictor state survives the batch boundary: 6th event fires
    // over the last three values (4,5,6)
    ms.addData(Ev(6, ts(6), 1, "a", 6.0))
    q.processAllAvailable(); q.stop()
    val all = spark.table("scw").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(all == afterB1 + ((2L, 3L, 15.0)))
  }

  test("delta trigger fires on threshold-exceeding deltas vs the LAST FIRE, per a hand trace") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.globalWindow(ms.toDS(), DeltaTrigger(5.0), CountEvictor(3)).writeStream
      .format("memory").queryName("dw").outputMode(OutputMode.Append()).start()
    // hand trace (threshold 5, evictor size 3 at fire), values per event:
    //   1.0  -> seeds lastFire=1, no fire
    //   2.0  -> |2-1|=1,  no fire            buffer (1,2)
    //   7.0  -> |7-1|=6 > 5: FIRE 0 over (1,2,7)=10.0; lastFire=7
    //   11.0 -> |11-7|=4, no fire            buffer (1,2,7,11)
    //   13.0 -> |13-7|=6 > 5: FIRE 1 over the newest 3 (7,11,13)=31.0; lastFire=13
    ms.addData(Seq(1.0, 2.0, 7.0, 11.0, 13.0).zipWithIndex.map {
      case (v, i) => Ev(i + 1, ts(i + 1), 1, "a", v) }: _*)
    q.processAllAvailable()
    val afterB1 = spark.table("dw").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(afterB1 == Set((0L, 3L, 10.0), (1L, 3L, 31.0)))
    // the comparison point survives the batch boundary and only
    // advances on fire: 16.0 is |16-13|=3 (no fire), then 20.0 is
    // |20-13|=7 > 5 -> FIRE 2 over the newest 3 (13,16,20)=49.0
    ms.addData(Ev(6, ts(6), 1, "a", 16.0), Ev(7, ts(7), 1, "a", 20.0))
    q.processAllAvailable(); q.stop()
    val all = spark.table("dw").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(all == afterB1 + ((2L, 3L, 49.0)))
  }

  test("punctuated watermark markers close windows immediately and drop older arrivals") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.punctuatedTumbling(ms.toDS(), widthMs = 5 * 60000L).writeStream
      .format("memory").queryName("punct").outputMode(OutputMode.Append()).start()
    // events in [0,5min) then a marker at 5min: the marker ALONE
    // closes window [0,5) — no periodic estimate, no extra batch
    ms.addData(Ev(1, ts(1), 1, "ev", 1.0), Ev(2, ts(2), 1, "ev", 2.0),
      Ev(3, ts(5), 1, "wm", 0.0))
    q.processAllAvailable()
    val afterMarker = spark.table("punct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(afterMarker == Set((1L, 0L, 2L, 3.0)))
    // entirely-late arrival (window [0,5) closed at wm 5min) is
    // dropped; a marker mid-window then advances wm to 7min, and a
    // LATE event at 6min must still JOIN the open [5,10) window —
    // Flink drops only when the whole window is late, not the event
    ms.addData(Ev(4, ts(3), 1, "ev", 100.0), Ev(5, ts(8), 1, "ev", 4.0),
      Ev(6, ts(7), 1, "wm", 0.0))
    q.processAllAvailable()
    assert(spark.table("punct").count() == 1) // [5,10) still open at wm 7min
    ms.addData(Ev(7, ts(6), 1, "ev", 5.0), // behind wm, window end 10 > 7: kept
      Ev(8, ts(10), 1, "wm", 0.0))
    q.processAllAvailable(); q.stop()
    val all = spark.table("punct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // the entirely-late 100.0 never surfaces; the in-window late 5.0 does
    assert(all == afterMarker + ((1L, 5 * 60000L, 2L, 9.0)))
  }

  test("count window state carries across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.globalWindow(ms.toDS(), PurgingTrigger(CountTrigger(3)), NoEvictor).writeStream
      .format("memory").queryName("cw2").outputMode(OutputMode.Append()).start()
    ms.addData(Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 1, "a", 2.0))
    q.processAllAvailable()
    assert(spark.table("cw2").count() == 0) // window still open
    ms.addData(Ev(3, ts(3), 1, "a", 3.0))
    q.processAllAvailable(); q.stop()
    val r = spark.table("cw2").head()
    assert((r.getLong(0), r.getLong(2), r.getDouble(3)) == (1L, 3L, 6.0))
  }

  test("stateful operator state survives a checkpointed restart") {
    // the Flink-checkpointing contract a migrating job relies on:
    // stop the query mid-window, restart FROM THE CHECKPOINT, and the
    // recovered state must complete the window — not restart it
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    val ms = MemoryStream[Ev]
    def start() = WindowSpi.globalWindow(ms.toDS(), PurgingTrigger(CountTrigger(3)), NoEvictor)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[WindowSpi.SpiWin], _: Long) =>
        b.collect().foreach(w => got.add((w.user_id, w.fire_idx, w.n, w.sum_v)))
      }
      .start()
    val q1 = start()
    ms.addData(Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 1, "a", 2.0))
    q1.processAllAvailable(); q1.stop()
    assert(got.isEmpty) // window still open at shutdown: buffer (1,2), count 2
    val q2 = start()
    ms.addData(Ev(3, ts(3), 1, "a", 3.0))
    q2.processAllAvailable(); q2.stop()
    // only recovered state can close the window with n=3/sum=6; a
    // fresh state store would sit at n=1 and emit nothing
    assert(got.size == 1 && got.peek() == ((1L, 0L, 3L, 6.0)))
  }

  test("stateful operators run unchanged on the RocksDB state store") {
    // the large-state deployment shape: at 100 TB keyspaces the HDFS-
    // backed in-memory store OOMs and RocksDB spills per key to local
    // disk. The operator code must be provider-agnostic — same
    // results, only the store conf changes.
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val ctx = rocks.sqlContext
    val ms = MemoryStream[Ev]
    val q = WindowSpi.globalWindow(ms.toDS(), PurgingTrigger(CountTrigger(3)), NoEvictor).writeStream
      .format("memory").queryName("rocks_cw").outputMode(OutputMode.Append()).start()
    ms.addData((1 to 7).map(i => Ev(i, ts(i), 1, "a", i.toDouble)): _*)
    q.processAllAvailable()
    // cross-batch state must round-trip through RocksDB too
    ms.addData(Ev(8, ts(8), 1, "a", 8.0), Ev(9, ts(9), 1, "a", 9.0))
    q.processAllAvailable(); q.stop()
    val rows = rocks.table("rocks_cw").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set((1L, 0L, 3L, 6.0), (1L, 1L, 3L, 15.0), (1L, 2L, 3L, 24.0)))
  }

  test("file-stream source processes the events table end-to-end") {
    val table = Streams.runTumblingOnce(spark, sf, "file_tumb")
    val batch = graft.operators.Windows.q18Tumbling(spark, sf).count()
    // append mode emits only watermark-closed windows; all but the
    // final windows close, so the stream sees nearly all of them
    assert(table.count() > 0.9 * batch)
  }

  test("foreachBatch hands each micro-batch to a batch writer") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = Streams.toForeachBatch(ms.toDF(), "fb") { (batch, id) =>
      seen.add((id, batch.count()))
    }
    ms.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(1), 1, "a", 2.0))
    q.processAllAvailable()
    ms.addData(Ev(3, ts(2), 1, "a", 3.0))
    q.processAllAvailable(); q.stop()
    val byBatch = seen.toArray(Array.empty[(Long, Long)]).toMap
    assert(byBatch(0L) == 2 && byBatch(1L) == 1)
  }

  test("event-time timer fires a session timeout without new input for the key") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streams.sessionTimeoutAlerts(ms.toDS(), gapMs = 5 * 60000L).writeStream
      .format("memory").queryName("alerts").outputMode(OutputMode.Append()).start()
    ms.addData(Ev(1, ts(20), 1, "a", 1.0), Ev(2, ts(22), 1, "a", 2.0))
    q.processAllAvailable()
    // timer armed at 27min; watermark is only 12min — nothing fires
    assert(spark.table("alerts").count() == 0)
    // a DIFFERENT key pushes the watermark past user 1's timer; user 1
    // gets no new input, yet its timeout must fire
    ms.addData(Ev(3, ts(60), 2, "b", 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("alerts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    assert(rows.toSeq == Seq((1L, 2L, ts(22))))
  }

  test("late audit counts beyond-watermark rows; update mode keeps refining") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val audit = new Streams.LateAudit(10 * 60000L)
    val (agg, aq) = Streams.tumblingWithLateAudit(ms.toDF(), "late_tumb", audit)
    ms.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(30), 1, "a", 2.0))
    agg.processAllAvailable(); aq.processAllAvailable()
    assert(audit.late.sum == 0 && audit.onTime.sum == 2)
    assert(audit.lateRows.isEmpty)
    // watermark is now 20min: ts(5) is beyond-watermark late (Flink
    // would side-output it), ts(31) is on time
    ms.addData(Ev(3, ts(5), 1, "a", 3.0), Ev(4, ts(31), 1, "a", 4.0))
    agg.processAllAvailable(); aq.processAllAvailable()
    agg.stop(); aq.stop()
    assert(audit.late.sum == 1 && audit.onTime.sum == 3)
    assert(audit.watermarkMs == 21 * 60000L)
    // the late row itself is ROUTED to the side sink, stamped with
    // the 5-minute window it would have belonged to ([5min, 10min))
    assert(audit.lateRows.asScala.toList ==
      List(Streams.LateRow(3L, 1L, 5 * 60000L, 5 * 60000L)))
    // on-time results unchanged: the agg table holds the refined
    // windows and never saw a side-output row as a window of its own
    val aggRows = spark.table("late_tumb").collect()
    assert(aggRows.nonEmpty)
    val winStarts = spark.table("late_tumb")
      .select(col("window.start").cast("long") * 1000).collect()
      .map(_.getLong(0)).toSet
    assert(!winStarts.contains(5 * 60000L))
  }

  test("late-row flood caps the default sink, counts drops, on-time unchanged") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    // tiny cap so the flood trips it without thousands of rows
    val audit = new Streams.LateAudit(10 * 60000L, maxLateRows = 5)
    val (agg, aq) = Streams.tumblingWithLateAudit(ms.toDF(), "late_flood", audit)
    ms.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(30), 1, "a", 2.0))
    agg.processAllAvailable(); aq.processAllAvailable()
    // misconfigured-upstream-clock flood: 20 rows all beyond the
    // 20min watermark
    ms.addData((100 to 119).map(i => Ev(i, ts(1), 2, "b", 1.0)): _*)
    agg.processAllAvailable(); aq.processAllAvailable()
    agg.stop(); aq.stop()
    assert(audit.late.sum == 20, s"all flood rows counted: ${audit.late.sum}")
    assert(audit.lateRows.size == 5, "default sink capped at maxLateRows")
    assert(audit.droppedLate.sum == 15, "overflow recorded, not silently lost")
    assert(audit.onTime.sum == 2, "on-time accounting unaffected by the flood")
    // on-time results unchanged: no [0,5min) window grew from flood rows
    val n = spark.table("late_flood")
      .filter(col("window.start").cast("long") === 0L)
      .select(col("n")).collect().map(_.getLong(0)).max
    assert(n == 1L, s"flood rows must not refine on-time windows, n=$n")
  }

  test("external lateSink is invoked only on batches that have late rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val sinkCalls = new java.util.concurrent.atomic.AtomicInteger
    val audit = new Streams.LateAudit(10 * 60000L,
      lateSink = _ => sinkCalls.incrementAndGet())
    val (agg, aq) = Streams.tumblingWithLateAudit(ms.toDF(), "late_sink_gate", audit)
    ms.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(30), 1, "a", 2.0))
    agg.processAllAvailable(); aq.processAllAvailable()
    assert(sinkCalls.get == 0, "no-late batches must not reach the sink")
    ms.addData(Ev(3, ts(5), 1, "a", 3.0))
    agg.processAllAvailable(); aq.processAllAvailable()
    agg.stop(); aq.stop()
    assert(sinkCalls.get == 1, "one late batch, one sink invocation")
  }

  test("session stream merges gap-overlapping events") {
    val evs = Seq(
      Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(10), 1, "a", 2.0), // one session
      Ev(3, ts(60), 1, "a", 3.0), // new session
      Ev(4, ts(180), 1, "a", 0.0)) // watermark pusher
    val ms = feed(evs)
    val q = Streams.session(ms.toDF()).writeStream
      .format("memory").queryName("sess").outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    // schema: (user_id, session_window, n_events, sum_v)
    val done = spark.table("sess").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(done.toSet == Set((2L, 3.0), (1L, 3.0)))
  }

  test("temporal table join over ordered batches equals the batch backward as-of join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streams.TemporalRow
    // dimension versions: each user's 'view' values, deduped per
    // (user, ts) — the operator contract; probes: their clicks
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_type"), col("value"))
    val updates = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("t_us"))
      .agg(max(col("value")).as("v"))
    val probes = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t_us"))
    val rows = (updates.collect().map(r =>
        TemporalRow(r.getLong(0), r.getLong(1), "u", r.getDouble(2))) ++
      probes.collect().map(r =>
        TemporalRow(r.getLong(0), r.getLong(1), "p", 0.0)))
      .sortBy(_.t_us)
    val ms = MemoryStream[TemporalRow]
    val q = Streams.temporalEnrichStream(ms.toDS()).writeStream
      .format("memory").queryName("tenrich")
      .outputMode(OutputMode.Append()).start()
    rows.grouped(math.max(1, rows.length / 4)).foreach { b =>
      ms.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    def key(t: (Long, Long, Option[Long], Option[Double])) =
      (t._1, t._2, t._3.getOrElse(-1L), t._4.getOrElse(-1.0))
    val got = spark.table("tenrich").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .sortBy(key).toSeq
    val batch = graft.operators.AsOfJoin.asOf(
        probes, updates.withColumn("uts", col("t_us")),
        "user_id", "t_us", Seq("uts", "v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .sortBy(key).toSeq
    assert(got.nonEmpty && got == batch)
    // both matched and unmatched probes must occur for the test to bite
    assert(got.exists(_._3.isEmpty) && got.exists(_._3.nonEmpty))
  }

  test("temporal tag dead-letter: the stream survives malformed rows and audits them") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streams.{TagAudit, TemporalRow}
    val audit = new TagAudit(maxBadRows = 2)
    val ms = MemoryStream[TemporalRow]
    val (q, aq) = Streams.temporalEnrichWithTagAudit(ms.toDS(), "tenrich_dlq", audit)
    // batch 1: a version, a probe, and a malformed row mid-stream
    ms.addData(
      TemporalRow(1L, 1000000L, "u", 5.0),
      TemporalRow(1L, 1500000L, "zz", 9.9),
      TemporalRow(1L, 2000000L, "p", 0.0))
    q.processAllAvailable(); aq.processAllAvailable()
    // batch 2 AFTER the bad row: the query must still be running and
    // still enriching (the fail-fast core would have died in batch 1)
    ms.addData(
      TemporalRow(1L, 3000000L, "u", 7.0),
      TemporalRow(1L, 4000000L, "p", 0.0),
      TemporalRow(2L, 4000000L, null, 1.0),
      TemporalRow(2L, 4100000L, "x", 1.0),
      TemporalRow(2L, 4200000L, "y", 1.0))
    q.processAllAvailable(); aq.processAllAvailable()
    assert(q.isActive && aq.isActive, "both queries must survive bad rows")
    q.stop(); aq.stop()
    val got = spark.table("tenrich_dlq").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._2)
    // enrichment unaffected: both probes matched their versions, and
    // no malformed row leaked into the output as a probe
    assert(got.toSeq == Seq((1L, 2000000L, Some(5.0)), (1L, 4000000L, Some(7.0))))
    // audit: 4 bad rows counted, 2 stored (cap), 2 dropped, 4 valid
    assert(audit.malformed.sum == 4, s"malformed=${audit.malformed.sum}")
    assert(audit.valid.sum == 4, s"valid=${audit.valid.sum}")
    assert(audit.badRows.size == 2 && audit.droppedBad.sum == 2,
      s"stored=${audit.badRows.size} dropped=${audit.droppedBad.sum}")
    import scala.jdk.CollectionConverters._
    audit.badRows.asScala.foreach(r =>
      assert(r.side == null || !Set("u", "p").contains(r.side)))
  }

  test("malformed-tag flood caps the dead-letter sink with exact overflow accounting") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streams.{TagAudit, TemporalRow}
    // tiny cap so ONE flood batch overflows it — the LateAudit flood
    // spec's shape applied to the tag dead-letter (round-9 advice):
    // droppedBad must account for every row past the cap exactly,
    // and the limit() guard must keep the flood off the driver
    val audit = new TagAudit(maxBadRows = 5)
    val ms = MemoryStream[TemporalRow]
    val (q, aq) = Streams.temporalEnrichWithTagAudit(ms.toDS(), "tenrich_flood", audit)
    ms.addData(
      TemporalRow(1L, 1000000L, "u", 5.0),
      TemporalRow(1L, 2000000L, "p", 0.0))
    q.processAllAvailable(); aq.processAllAvailable()
    // misconfigured-upstream flood: 20 malformed rows in one batch
    // (cap 5), plus 2 valid rows that must still flow
    ms.addData((100 to 119).map(i =>
      TemporalRow(2L, i * 1000L, s"bad$i", 1.0)) ++ Seq(
      TemporalRow(1L, 3000000L, "u", 7.0),
      TemporalRow(1L, 4000000L, "p", 0.0)): _*)
    q.processAllAvailable(); aq.processAllAvailable()
    assert(q.isActive && aq.isActive, "both queries must survive the flood")
    q.stop(); aq.stop()
    assert(audit.malformed.sum == 20, s"all flood rows counted: ${audit.malformed.sum}")
    assert(audit.badRows.size == 5, "dead-letter sink capped at maxBadRows")
    assert(audit.droppedBad.sum == 15, "overflow recorded exactly, not silently lost")
    assert(audit.valid.sum == 4, "valid accounting unaffected by the flood")
    // enrichment unaffected: both probes matched their versions
    val got = spark.table("tenrich_flood").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._2)
    assert(got.toSeq == Seq((1L, 2000000L, Some(5.0)), (1L, 4000000L, Some(7.0))))
  }
}
