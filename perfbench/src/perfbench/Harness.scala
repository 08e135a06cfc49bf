package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.{GraftSession, SessionCache}

/** Times the public registry, `SparkEntry.queries(name)(spark, dir)`,
  * in one long-lived session, and checks every answer.
  *
  * A pass calls each query of the workload once. The first pass in the
  * JVM is the cold pass; warm passes follow until `--seconds` have gone
  * by and at least `--min-passes` are done. Every call collects its
  * whole result, and the answer is compared with the DuckDB oracle's
  * (precomputed by `oracle.py`) outside the timed region. With
  * `--trace 1`, untraced and traced warm passes alternate, so the
  * tracing overhead is measured in the same JVM, and a last pass on a
  * fresh one-core session gives the scaling baseline. The raw samples
  * go to `--out` as JSON; `run.py` turns them into metrics.
  *
  * Usage: perfbench.Harness --data DIR --expect DIR --queries q01,q03
  *   --seconds S --trace 0|1 --out FILE
  *   [--min-passes M] [--spans FILE] [--selftest 0|1]
  *   perfbench.Harness --dump-oracles FILE
  */
object Harness {

  final case class Call(query: String, seconds: Double, sweep: Double, error: Option[String])

  /** Fresh sessions built in a row at start; `setup_s` is their median. */
  private val Setups = 3

  private def now(): Double = System.nanoTime() / 1e9

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracles") match {
      case Some(out) => dumpOracles(out)
      case None => run(args)
    }
  }

  private def dumpOracles(out: String): Unit = {
    val json = new ObjectMapper().writeValueAsString(
      SparkEntry.oracleSql.map { case (k, v) => shortId(k) -> v }.toMap.asJava)
    Files.writeString(Paths.get(out), json)
  }

  private def shortId(name: String) = name.takeWhile(_ != '_')

  /** Module that owns a registry query: its package, except that rows
    * driven by a streaming query count as `streaming`. */
  private def moduleOf(name: String): String =
    if (SparkEntry.familyOf(name) == "streaming" || graft.streaming.WindowSpi.queries.contains(name)) "streaming"
    else SparkEntry.familyOf(name) match {
      case "graph" => "analytics"
      case "pipeline" => "pipeline"
      case _ => "operators"
    }

  private def run(args: Map[String, String]): Unit = {
    val data = args("data")
    // the cores this process may use, as Spark's local[*] counts them
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val seconds = args("seconds").toDouble
    val traced = args.get("trace").contains("1")
    val minPasses = args.getOrElse("min-passes", "1").toInt
    val byShort = SparkEntry.queries.map { case (k, v) => shortId(k) -> (k, v) }
    val queries = args("queries").split(",").toSeq.map(q => q -> byShort(q))
    val expected = queries.map { case (q, _) => q -> Canon.fromJson(s"${args("expect")}/$q.json") }.toMap
    val out = mutable.LinkedHashMap.empty[String, Any]

    // Set-up: several fresh sessions in a row; the last one is kept.
    val setups = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = now()
      spark = GraftSession.local("perfbench", cpus)
      val t1 = now()
      spark.range(1).count()
      builds += t1 - t0
      setups += now() - t0
    }
    out("setup_s") = setups.toSeq
    out("session_build_s") = builds.toSeq

    if (args.get("selftest").contains("1")) { selftest(spark, data, queries, expected); return }

    var spanSeq = 0
    val querySpans = mutable.ArrayBuffer.empty[Span]
    var tracer: Tracer = null

    def call(spark: SparkSession, q: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        parent: String): Call = {
      spanSeq += 1
      val id = s"q$spanSeq"
      val sc = spark.sparkContext
      sc.addJobTag(id)
      val w0 = System.currentTimeMillis()
      val t0 = now()
      val result = try {
        val df = fn(spark, data)
        Right((df.columns.toSeq, df.collect()))
      } catch { case e: Throwable => Left(e) }
      val t1 = now()
      val w1 = System.currentTimeMillis()
      sc.removeJobTag(id)
      SessionCache.sweepBetweenQueries(spark)
      val t2 = now()
      querySpans += Span(id, parent, "query", q, w0, w1)
      val error = result match {
        case Left(e) => Some(s"crash: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        case Right((cols, rows)) => Canon.diff(Canon.answer(cols, rows), expected(q))
      }
      System.err.println(f"[perfbench] $q ${t1 - t0}%.3f s${error.fold("")(e => s" FAILED: $e")}")
      Call(q, t1 - t0, t2 - t1, error)
    }

    def pass(spark: SparkSession, kind: String): (Double, Seq[Call], Span) = {
      spanSeq += 1
      val id = s"p$spanSeq"
      val w0 = System.currentTimeMillis()
      val calls = queries.map { case (q, (_, fn)) => call(spark, q, fn, id) }
      val wall = calls.map(c => c.seconds + c.sweep).sum
      val span = Span(id, "", "pass", kind, w0, System.currentTimeMillis())
      System.err.println(f"[perfbench] $kind pass $wall%.3f s")
      (wall, calls, span)
    }

    val allCalls = mutable.ArrayBuffer.empty[Call]
    val (cold, coldCalls, _) = pass(spark, "cold")
    allCalls ++= coldCalls
    out("cold_pass_s") = cold
    // What the session retains once each query has run: the heap in use
    // after full collections, with a pause between them for the context
    // cleaner to drop the blocks of collected plans. Taken here, after a
    // fixed amount of work, because the session's stores grow with every
    // pass. Heap peaks and resident memory follow the collector's timing
    // more than the engine, so they are not used.
    System.gc(); Thread.sleep(1000); System.gc()
    out("live_heap_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val warm = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val triggers = mutable.ArrayBuffer.empty[Double]
    val passSpans = mutable.ArrayBuffer.empty[Span]
    if (traced) tracer = new Tracer(spark)
    // A traced run settles with one discarded pass, then runs untraced,
    // traced, traced, untraced: passes still get faster as the JIT
    // settles, and this order cancels a steady drift out of the
    // overhead ratio.
    var settled = !traced
    val window0 = now()
    def more = if (traced) !settled || warm.size + tracedPasses.size < 4
      else now() - window0 < seconds || warm.size < minPasses
    while (more) {
      val traceThis = settled && traced && Set(1, 2)(warm.size + tracedPasses.size)
      if (traceThis) { tracer.attach(); tracer.begin() }
      val (wall, calls, span) = pass(spark, if (traceThis) "traced" else "warm")
      allCalls ++= calls
      if (traceThis) {
        val m = tracer.end()
        tracer.detach()
        tracedPasses += wall
        passSpans += span
        triggers ++= tracer.triggerSeconds
        val inPass = querySpans.filter(_.parent == span.id)
        val engine = tracer.spans.filter(s => s.kind == "action" || s.kind == "job")
          .filter(s => s.end > span.start && s.start < span.end)
        def clip(s: Span, w: Span) = (math.max(s.start, w.start), math.min(s.end, w.end))
        val self = inPass.map { q =>
          moduleOf(byShort(q.name)._1) -> (q.end - q.start - Tracer.covered(engine.map(clip(_, q)).toSeq)) / 1e3
        }
        val modules = Seq("operators", "analytics", "pipeline", "streaming")
          .map(mod => s"$mod.query_s" -> self.filter(_._1 == mod).map(_._2).sum).toMap
        val jobCover = Tracer.covered(tracer.spans.filter(_.kind == "job").map(clip(_, span)).toSeq)
        val sweep = calls.map(_.sweep).sum
        layers += m ++ modules ++ Map(
          "engine.sched.driver_s" -> (span.end - span.start - jobCover) / 1e3,
          "engine.cache.sweep_s" -> sweep,
          "engine.compute.busy_frac" -> m.getOrElse("engine.compute.task_s", 0.0) / (wall * spark.sparkContext.defaultParallelism))
      } else if (!settled) {
        settled = true
      } else {
        warm += wall
        latencies ++= calls.map(_.seconds)
      }
    }
    out("warm_pass_s") = warm.toSeq
    out("latency_s") = latencies.toSeq
    if (traced) {
      out("traced_pass_s") = tracedPasses.toSeq
      out("layers") = layers.toSeq.map(_.asJava)
      out("trigger_s") = triggers.toSeq
      spark.stop()
      spark = GraftSession.local("perfbench-1core", "1")
      val (wall, calls, _) = pass(spark, "one-core")
      allCalls ++= calls
      out("one_core_pass_s") = wall
    }
    spark.stop()

    out("attempted") = allCalls.size
    out("failures") = allCalls.flatMap(c => c.error.map(e => s"${c.query}: $e")).toSeq
    writeJson(args("out"), out.toMap)
    args.get("spans").foreach { path =>
      val all = (passSpans ++ querySpans.filter(q => passSpans.exists(_.id == q.parent)) ++
        (if (tracer == null) Nil else tracer.spans)).toSeq
      writeJson(path, Map("spans" -> all.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end).asJava)))
    }
  }

  private def writeJson(path: String, value: Map[String, Any]): Unit = {
    def conv(v: Any): Any = v match {
      case m: Map[_, _] => m.map { case (k, x) => k -> conv(x) }.asInstanceOf[Map[Any, Any]].asJava
      case m: java.util.Map[_, _] => m
      case s: Seq[_] => java.util.Arrays.asList(s.map(conv(_).asInstanceOf[AnyRef]): _*)
      case x => x
    }
    Files.writeString(Paths.get(path), new ObjectMapper().writeValueAsString(conv(value)))
  }

  /** Proves the answer check catches altered results: each query's true
    * answer must pass, and a changed cell, a dropped row and a duplicated
    * row must each fail. Exits non-zero otherwise. */
  private def selftest(spark: SparkSession, data: String,
      queries: Seq[(String, (String, (SparkSession, String) => org.apache.spark.sql.DataFrame))],
      expected: Map[String, Canon.Answer]): Unit = {
    var ok = true
    def check(what: String, cond: Boolean): Unit = {
      System.err.println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }
    queries.foreach { case (q, (_, fn)) =>
      val df = fn(spark, data)
      val cols = df.columns.toSeq
      val rows = df.collect()
      val want = expected(q)
      check(s"$q true answer passes", Canon.diff(Canon.answer(cols, rows), want).isEmpty)
      val first = rows.head
      val changed = org.apache.spark.sql.Row.fromSeq(first.toSeq.updated(0, first.get(0) match {
        case x: Long => x + 1
        case x: Int => x + 1
        case x: Double => x + 1.0
        case x: String => x + "x"
        case x => String.valueOf(x) + "x"
      }))
      check(s"$q changed cell is caught", Canon.diff(Canon.answer(cols, changed +: rows.tail), want).isDefined)
      check(s"$q dropped row is caught", Canon.diff(Canon.answer(cols, rows.tail), want).isDefined)
      check(s"$q duplicated row is caught", Canon.diff(Canon.answer(cols, rows :+ first), want).isDefined)
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
