package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Graph, Iterative}
import graft.engine.Iterate

class IterativeSpec extends AnyFunSuite with SparkSpec {

  test("q22 matmul is the 32x32 Gram block with symmetric-free dots") {
    val rows = Iterative.q22MatMul(spark, sf).collect()
    assert(rows.length == 32 * 32)
    // dot(a, b) for unit-ish embeddings stays bounded
    assert(rows.forall(r => math.abs(r.getDouble(2)) < 64))
  }

  test("q22 matmul plan broadcasts B and has no shuffle exchange") {
    val plan = Iterative.q22MatMul(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("q23 kmeans partitions all events into 4 ordered clusters") {
    val rows = Iterative.q23KMeans(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    val n = rows.map(_.getLong(1)).sum
    assert(n == spark.read.parquet(s"$sf/events.parquet").count())
    // centroids strictly increasing for 1-D kmeans with ordered init
    val cents = rows.map(_.getDouble(2)).toSeq
    assert(cents == cents.sorted)
  }

  test("q24 logreg confusion matrix partitions lineitem") {
    val r = Iterative.q24LogReg(spark, sf).head()
    val total = r.getLong(4) + r.getLong(5) + r.getLong(6) + r.getLong(7)
    assert(total == spark.read.parquet(s"$sf/lineitem.parquet").count())
    val acc = r.getDouble(8)
    assert(acc > 0.5 && acc <= 1.0) // label depends on a feature: better than chance
  }

  test("q25 dft: k=0 bin equals the plain signal sum") {
    val re0 = Iterative.q25Dft(spark, sf).filter(col("k") === 0).head.getDouble(1)
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .orderBy("event_id").limit(64).agg(round(sum("value"), 4)).head.getDouble(0)
    assert(math.abs(re0 - expected) < 1e-9)
  }

  test("q26 pi estimate lands near pi with exact integer arithmetic") {
    val r = Iterative.q26Pi(spark, sf).head()
    assert(r.getLong(0) == Iterative.piN)
    assert(math.abs(r.getDouble(2) - math.Pi) < 0.01)
  }

  test("q27 vadd doubles every component exactly") {
    val out = Iterative.q27VAdd(spark, sf).filter(col("vec_id") === 7)
      .orderBy(col("idx")).collect().map(_.getDouble(2)).toSeq
    val in = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 7).head.getSeq[Float](1)
    assert(out == in.map(x => x.toDouble + x.toDouble))
  }

  test("q99 linreg: two GD steps beat the zero model and slope is positive") {
    import org.apache.spark.sql.functions._
    val r = graft.analytics.Iterative.q99LinReg(spark, sf).head()
    val (t0, t1, mse) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    // price grows with quantity on this data: learned slope must be positive
    assert(t1 > 0.0, s"slope $t1")
    // fitting must beat predicting zero (the initial model)
    val zeroMse = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_extendedprice") / 100000.0).as("y"))
      .agg(avg(col("y") * col("y"))).head.getDouble(0)
    assert(mse < zeroMse, s"mse $mse not below zero-model $zeroMse")
  }

  test("Iterate.loopDF truncates lineage via localCheckpoint") {
    val out = Iterate.loopDF(spark.range(10).toDF("v"), 6) {
      (df, _) => df.withColumn("v", col("v") + 1)
    }
    assert(out.agg(sum("v")).head.getLong(0) == (6L * 10 + 45))
    // the last step's checkpoint is the whole plan: no stack of 6 projects
    out.queryExecution.optimizedPlan match {
      case _: LogicalRDD | Project(_, _: LogicalRDD) =>
      case p => fail(s"expected a LogicalRDD leaf under at most one Project:\n$p")
    }
  }

  test("Iterate.measured materializes and counts in one job") {
    val src = spark.range(0, 1000, 1, 4).toDF("v").filter(col("v") % 3 === 0)
    var m: DataFrame = null
    assert(SparkJobs.of(spark) { m = Iterate.measured(src) } == 1)
    m.queryExecution.logical match {
      case r: LogicalRDD => assert(r.stats.rowCount.contains(BigInt(334)))
      case p => fail(s"expected a LogicalRDD leaf:\n$p")
    }
    var rows = -1L
    assert(SparkJobs.of(spark) { rows = Iterate.rowCount(m) } == 0)
    assert(rows == m.count() && rows == 334)
  }

  test("no query module materializes outside graft.engine") {
    // Iterate.measured is the engine's one materialization call; a
    // hand-rolled checkpoint anywhere else escapes its recovery posture
    val root = java.nio.file.Paths.get("src/main/scala")
    val engine = root.resolve("graft/engine")
    val call = """(localCheckpoint|\.checkpoint)\(""".r
    val comment = """^\s*(//|/\*|\*)""".r
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.startsWith(engine)), s"no engine sources under $root")
    val offenders = for {
      f <- files if !f.startsWith(engine)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if comment.findFirstIn(line).isEmpty && call.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // ------------------------------------------------------ Iterate.delta

  test("q57 submits a bounded number of Spark jobs per warm run") {
    // the same 32-node graph at every scale factor. Measured here: 22
    // jobs; 31 when the states carry no measured size, 34 when the delta
    // is computed twice per superstep (once into the solution, once as
    // the workset), 61 with both (a step returning (solution', workset'))
    Graph.q57TransitiveClosure(spark, sf).collect()
    val jobs = SparkJobs.of(spark)(Graph.q57TransitiveClosure(spark, sf).collect())
    assert(jobs <= 26, s"warm q57 submitted $jobs jobs")
  }

  /** Edges as a two-column (src, dst) frame. */
  private def edgeFrame(es: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Seeded random directed graph on up to 12 nodes, no duplicate edges. */
  private def randomEdges(rnd: Random): Seq[(Long, Long)] = {
    val n = 1 + rnd.nextInt(12)
    val p = rnd.nextDouble() * 0.3
    for (a <- 0L until n; b <- 0L until n if a != b && rnd.nextDouble() < p) yield (a, b)
  }

  /** Pairs (a, b) with b reachable from a in 1..maxHops edges (BFS). */
  private def reach(es: Seq[(Long, Long)], maxHops: Int): Set[(Long, Long)] = {
    val out = es.groupMap(_._1)(_._2)
    es.map(_._1).distinct.flatMap { a =>
      val seen = mutable.Set.empty[Long]
      var frontier = Set(a)
      for (_ <- 1 to maxHops if frontier.nonEmpty) {
        frontier = frontier.flatMap(out.getOrElse(_, Nil)).filterNot(seen)
        seen ++= frontier
      }
      seen.map(a -> _)
    }.toSet
  }

  /** Min-label components of a both-arcs edge list after `steps`
    * synchronous min-propagation rounds (a driver-side fold). */
  private def components(es: Seq[(Long, Long)], steps: Int): Set[(Long, Long)] = {
    val nbrs = es.groupMap(_._1)(_._2)
    val init = nbrs.keys.map(v => v -> v).toMap
    (1 to steps).foldLeft(init) { (ls, _) =>
      ls.map { case (v, l) => v -> (l +: nbrs(v).map(ls)).min }
    }.toSet
  }

  test("whole-row delta equals a BFS closure on seeded random graphs, maxIter caps reach") {
    val rnd = new Random(57)
    for (_ <- 1 to 4) {
      val es = randomEdges(rnd)
      val df = edgeFrame(es)
      assert(pairs(Graph.transitiveClosure(df, 20)) == reach(es, es.size + 1), s"edges $es")
      // one superstep doubles reach once: every pair within 2 hops
      assert(pairs(Graph.transitiveClosure(df, 1)) == reach(es, 2), s"edges $es")
    }
  }

  test("keyed (node, min-label) delta equals a connected-components fold on seeded random graphs") {
    val rnd = new Random(42)
    for (_ <- 1 to 4) {
      val es = randomEdges(rnd).flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      val df = edgeFrame(es)
      assert(pairs(Graph.connectedComponentsDelta(df, 20)) == components(es, es.size + 1),
        s"edges $es")
      assert(pairs(Graph.connectedComponentsDelta(df, 2)) == components(es, 2), s"edges $es")
    }
  }

  test("Iterate.delta with an empty workset returns the solution without a superstep") {
    val sol = edgeFrame(Seq((1L, 2L), (2L, 3L)))
    val out = Iterate.delta(sol, edgeFrame(Nil), 5, "src") { (_, _) =>
      fail("step ran on an empty workset")
    }
    assert(pairs(out) == Set((1L, 2L), (2L, 3L)))
    assert(pairs(Graph.transitiveClosure(edgeFrame(Nil), 5)).isEmpty)
  }

  test("every state Iterate.delta materializes reports its true row count") {
    // a state is one materialized leaf, or (a whole-row solution) a
    // union of them: each leaf reports its measured count, and the
    // counts add up to the state's
    def rowCount(df: DataFrame): Option[BigInt] = {
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      val counts = leaves.collect { case r: LogicalRDD => r.stats.rowCount }.flatten
      if (counts.size == leaves.size) Some(counts.sum) else None
    }
    val seen = mutable.ArrayBuffer.empty[(String, Option[BigInt], Long)]
    def record(what: String, df: DataFrame): Unit = seen += ((what, rowCount(df), df.count()))
    val es = (0L until 10L).map(v => (v, v + 1))
    val closure = Iterate.delta(edgeFrame(es), edgeFrame(es), 20, "src", "dst") { (sol, ws) =>
      record("solution", sol)
      record("workset", ws)
      ws.as("p").join(sol.as("q"), col("p.dst") === col("q.src"))
        .select(col("p.src").as("src"), col("q.dst").as("dst"))
        .except(sol)
    }
    record("closure", closure)
    // keyed merge: the connectedComponentsDelta step, recorded
    val ed = edgeFrame(es.flatMap { case (a, b) => Seq((a, b), (b, a)) })
    val init = ed.select(col("src").as("node"), col("src").as("label")).distinct()
    val cc = Iterate.delta(init, init, 20, "node") { (sol, ws) =>
      record("labels", sol)
      record("changed", ws)
      val nbrMin = ed.join(ws, ed("src") === ws("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nl"))
      sol.join(nbrMin, sol("node") === nbrMin("dst"))
        .filter(col("nl") < sol("label"))
        .select(sol("node"), col("nl").as("label"))
    }
    record("components", cc)
    assert(pairs(cc) == components(ed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq, 20))
    assert(seen.size > 4)
    seen.foreach { case (what, est, n) => assert(est.contains(BigInt(n)), s"$what: stats $est, true $n") }
  }
}
