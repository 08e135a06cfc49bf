package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Graph
import graft.operators.Partitioning
import graft.sources.Tables

class GraphSpec extends AnyFunSuite with SparkSpec {

  test("pagerank mass stays near node count under damping") {
    val full = Graph.q41PageRank(spark, sf)
    val top = full.collect()
    assert(top.length == 20)
    assert(top.forall(_.getDouble(1) > 0.15)) // every node keeps the base rank
    // descending rank order with node tie-break
    val ranks = top.map(r => (r.getDouble(1), r.getLong(0)))
    ranks.sliding(2).foreach {
      case Array((r1, n1), (r2, n2)) => assert(r1 > r2 || (r1 == r2 && n1 < n2))
      case _ =>
    }
  }

  test("q163 submits a bounded number of Spark jobs per warm run") {
    // the vertex count is the node set's measured row count. Measured
    // here: 27 jobs; 29 with a separate count() of the node set (its
    // aggregate's shuffle-map job and result job)
    Graph.q163LibraryPagerank(spark, sf).collect()
    val jobs = SparkJobs.of(spark)(Graph.q163LibraryPagerank(spark, sf).collect())
    assert(jobs <= 27, s"warm q163 submitted $jobs jobs")
  }

  test("delta-iteration CC converges to one component like fixed supersteps") {
    val conv = Graph.connectedComponentsConverged(spark, sf)
    val labels = conv.select("label").distinct().collect().map(_.getLong(0))
    // lineitem connects every part and supplier at this SF: one component,
    // labelled by the smallest node id
    assert(labels.length == 1)
    val minNode = conv.agg(min("node")).head.getLong(0)
    assert(labels.head == minNode)
    assert(conv.count() ==
      Graph.q42ConnectedComponents(spark, sf).agg(sum("n_nodes")).head.getLong(0))
  }

  test("every enumerated triangle is three real edges, each triangle once") {
    val sfd = sf
    val und = Tables.lineitem(spark, sfd)
      .filter(col("l_quantity") <= Graph.TriQtyMax)
      .select((col("l_partkey") % Graph.TriMod).as("a"),
        ((col("l_suppkey") + Graph.TriShift) % Graph.TriMod).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tris = Graph.q56EnumTriangles(spark, sfd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tris.nonEmpty)
    assert(tris.distinct.length == tris.length)
    tris.foreach { case (a, b, c) =>
      assert(a < b && b < c)
      assert(und((a, b)) && und((a, c)) && und((b, c)))
    }
  }

  test("transitive closure matches a driver-side BFS fixpoint") {
    val got = Graph.q57TransitiveClosure(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference fixpoint on the same (tiny) edge set, computed locally
    val nodes = Tables.customer(spark, sf)
      .select((col("c_custkey") % Graph.TcMod).as("v")).distinct()
      .collect().map(_.getLong(0)).toSet
    val edges = for {
      a <- nodes; step <- Seq(1L, 4L, 16L) if nodes(a + step)
    } yield (a, a + step)
    var closure = edges
    var grew = true
    while (grew) {
      val next = closure ++ (for {
        (x, y) <- closure; (y2, z) <- edges if y2 == y
      } yield (x, z))
      grew = next.size > closure.size
      closure = next
    }
    assert(got == closure)
    assert(got.nonEmpty)
  }

  test("sssp equals a driver-side Bellman-Ford at the same superstep horizon") {
    import graft.analytics.Graph
    val edges = Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("p"), (col("l_suppkey") + Graph.SuppOffset).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges.map { case (p, s) => (p, s) } ++ edges.map { case (p, s) => (s, p) })
      .map { case (a, b) => (a, b, 1L + (a + b) % 7) }
    val src = adj.map(_._1).min
    var dist = Map(src -> 0L)
    (1 to Graph.SsspIters).foreach { _ =>
      val cand = adj.flatMap { case (a, b, w) => dist.get(a).map(d => (b, d + w)) }
        .groupBy(_._1).map { case (n, ds) => (n, ds.map(_._2).min) }
      dist = (dist.toSeq ++ cand.toSeq).groupBy(_._1)
        .map { case (n, ds) => (n, ds.map(_._2).min) }
    }
    val want = dist.toSeq.sortBy(t => (t._2, t._1)).take(50)
    val got = Graph.q119Sssp(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("label propagation equals a driver-side majority fold with min-label ties") {
    import graft.analytics.Graph
    val e0 = Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("p"), (col("l_suppkey") + Graph.SuppOffset).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = e0.map { case (p, s) => (p, s) } ++ e0.map { case (p, s) => (s, p) }
    var labels: Map[Long, Long] = edges.map(_._1).distinct.map(n => n -> n).toMap
    (1 to Graph.LpIters).foreach { _ =>
      labels = edges.groupBy(_._2).map { case (dst, es) =>
        val counts = es.map(e => labels(e._1)).groupBy(identity)
          .map { case (l, ls) => (l, ls.size) }
        dst -> counts.toSeq.minBy { case (l, n) => (-n, l) }._1
      }
    }
    val want = labels.values.groupBy(identity).map { case (l, ns) => (l, ns.size.toLong) }
      .toSeq.sortBy(_._1)
    val got = Graph.q124LabelPropagation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("adamic-adar down-weights exactly the q126 pair domain") {
    import graft.analytics.Graph
    // same basket-bounded pair domain as Jaccard: every scored pair
    // co-occurs in >= 1 order, scores strictly positive, and a pair
    // sharing only size-2 baskets scores shared * 1/ln(2) exactly
    val aa = Graph.q128AdamicAdar(spark, sf).collect()
    assert(aa.nonEmpty)
    aa.foreach { r =>
      val (shared, score) = (r.getLong(2), r.getDouble(3))
      assert(shared >= 1 && score > 0.0,
        s"pair (${r.getLong(0)},${r.getLong(1)}): shared=$shared score=$score")
      // upper bound: every shared order weighs at most 1/ln(2)
      assert(score <= shared * 1.4426950409 + 1e-6)
    }
  }

  test("local clustering coefficient is consistent with the q56 triangle count") {
    import graft.analytics.Graph
    val lcc = Graph.q129LocalClustering(spark, sf).collect()
    assert(lcc.nonEmpty)
    // each triangle credits exactly 3 vertices
    val triTotal = Graph.q56EnumTriangles(spark, sf).count()
    assert(lcc.map(_.getLong(2)).sum == 3 * triTotal)
    lcc.foreach { r =>
      val (d, nt, s) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d >= 2 && nt >= 0 && s >= 0.0 && s <= 1.0 + 1e-12,
        s"node ${r.getLong(0)}: d=$d nt=$nt lcc=$s")
      assert(math.abs(s - 2.0 * nt / (d * (d - 1))) == 0.0)
    }
  }

  test("clustering metrics agree with the q129 per-vertex output") {
    import graft.analytics.Graph
    val row = Graph.q148ClusteringMetrics(spark, sf).collect()
    assert(row.length == 1)
    val r = row(0)
    val (vc, triplets, tri3, gcc, acc) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3), r.getDouble(4))
    val lcc = Graph.q129LocalClustering(spark, sf).collect()
    // q129 emits only d >= 2; vertex_count also includes d == 1
    assert(vc >= lcc.length)
    assert(triplets == lcc.map(x => x.getLong(1) * (x.getLong(1) - 1) / 2).sum,
      "d==1 vertices contribute zero triplets")
    assert(tri3 == 3 * Graph.q56EnumTriangles(spark, sf).count())
    assert(math.abs(gcc - tri3.toDouble / triplets) == 0.0)
    val accRef = lcc.map(x => BigDecimal(2.0 * x.getLong(2) /
      (x.getLong(1) * (x.getLong(1) - 1))).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .toDouble).sum / vc
    assert(math.abs(acc - BigDecimal(accRef).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6, s"acc=$acc ref=$accRef")
    assert(gcc > 0.0 && gcc <= 1.0 && acc > 0.0 && acc <= 1.0)
  }

  test("triadic census sums to (n choose 3) and agrees with the clustering metrics") {
    import graft.analytics.Graph
    val c = Graph.q149TriadicCensus(spark, sf).collect()(0)
    val (t03, t12, t21, t30) = (c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3))
    assert(Seq(t03, t12, t21, t30).forall(_ >= 0))
    val m = Graph.q148ClusteringMetrics(spark, sf).collect()(0)
    val (vc, triplets, tri3) = (m.getLong(0), m.getLong(1), m.getLong(2))
    assert(t30 == tri3 / 3, "t30 is the triangle count")
    assert(t21 == triplets - tri3, "t21 is the open-triplet count")
    assert(t03 + t12 + t21 + t30 == vc * (vc - 1) * (vc - 2) / 6,
      "the four types partition (n choose 3)")
  }

  test("directed census and local clustering equal a brute-force triad walk on random digraphs") {
    import graft.analytics.Graph
    import spark.implicits._
    val rng = new scala.util.Random(59)
    // independent reference: classify every vertex triple by its
    // (mutual, asymmetric, null) pair counts — the Holland-Leinhardt
    // M-A-N naming the triad types come from — with sub-splits read
    // off the raw adjacency set, not the pair-bit algebra the
    // implementation uses
    def classify(adj: Set[(Long, Long)], t: Seq[Long]): String = {
      val prs = Seq((t(0), t(1)), (t(0), t(2)), (t(1), t(2)))
      def has(x: Long, y: Long) = adj.contains((x, y))
      def biP(p: (Long, Long)) = has(p._1, p._2) && has(p._2, p._1)
      def uniP(p: (Long, Long)) = has(p._1, p._2) ^ has(p._2, p._1)
      val nb = prs.count(biP)
      val nu = prs.count(uniP)
      def others(p: (Long, Long)) = t.filterNot(v => v == p._1 || v == p._2).head
      (nb, nu) match {
        case (0, 0) => "003"
        case (0, 1) => "012"
        case (1, 0) => "102"
        case (2, 0) => "201"
        case (3, 0) => "300"
        case (2, 1) => "210"
        case (0, 2) =>
          val ups = prs.filter(uniP)
          val m = t.find(v => ups.forall(p => p._1 == v || p._2 == v)).get
          val outs = ups.count(p => has(m, if (p._1 == m) p._2 else p._1))
          if (outs == 2) "021d" else if (outs == 0) "021u" else "021c"
        case (1, 1) =>
          val bp = prs.find(biP).get
          val up = prs.find(uniP).get
          val z = others(bp)
          // the uni edge connects z with one bi endpoint
          val v = if (up._1 == z) up._2 else up._1
          if (has(z, v)) "111d" else "111u"
        case (1, 2) =>
          val bp = prs.find(biP).get
          val z = others(bp)
          val outs = Seq(bp._1, bp._2).count(x => has(z, x))
          if (outs == 2) "120d" else if (outs == 0) "120u" else "120c"
        case (0, 3) =>
          val cyc = t.forall(v => prs.filter(p => p._1 == v || p._2 == v)
            .count(p => has(v, if (p._1 == v) p._2 else p._1)) == 1)
          if (cyc) "030c" else "030t"
      }
    }
    val order = Seq("003", "012", "102", "021d", "021u", "021c", "111d",
      "111u", "030t", "030c", "201", "120d", "120u", "120c", "210", "300")
    // trial 0 is a TRIANGLE-FREE digraph (a directed path): the
    // census must return integer zeros, not NULL-poisoned rows
    // (sum over an empty relation is NULL — the review finding)
    val fixedCases: Seq[Set[(Long, Long)]] =
      Seq(Set((0L, 1L), (1L, 2L), (2L, 3L)))
    (0 to 6).foreach { trial =>
      val n = 9
      val adj = if (trial < fixedCases.length) fixedCases(trial)
      else (for {
        i <- 0L until n; j <- 0L until n
        if i != j && rng.nextDouble() < 0.3
      } yield (i, j)).toSet
      val edges = adj.toSeq.toDF("src", "dst")
      // census vs brute triple walk (isolated vertices excluded by
      // the implementation's edge-derived vertex set — mirror that)
      val vs = adj.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val brute = (for {
        ai <- vs.indices; bi <- (ai + 1) until vs.length
        ci <- (bi + 1) until vs.length
      } yield classify(adj, Seq(vs(ai), vs(bi), vs(ci))))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = Graph.directedTriadicCensusFromEdges(edges).collect()(0)
      order.zipWithIndex.foreach { case (ty, i) =>
        assert(got.getLong(i) == brute.getOrElse(ty, 0L),
          s"trial $trial type $ty: got ${got.getLong(i)} want ${brute.getOrElse(ty, 0L)}")
      }
      // directed local clustering vs brute neighbor-edge count
      val lcc = Graph.directedLocalClusteringFromEdges(edges).collect()
      lcc.foreach { r =>
        val (v, d, tc) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val nbrs = vs.filter(u => u != v &&
          (adj.contains((u, v)) || adj.contains((v, u))))
        assert(d == nbrs.length)
        val want = (for { x <- nbrs; y <- nbrs if x != y }
          yield if (adj.contains((x, y))) 1L else 0L).sum
        assert(tc == want, s"trial $trial node $v: tc=$tc want=$want")
        assert(r.getDouble(3) == tc.toDouble / (d * (d - 1)))
      }
    }
  }

  test("salted join equals the plain join and spreads the hot key") {
    val big = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val small = Tables.part(spark, sf).select(col("p_partkey").as("l_partkey"), col("p_name"))
    val plain = big.join(small, "l_partkey")
    val salted = Partitioning.saltedJoin(big, small, "l_partkey", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.agg(sum("l_quantity")).head.getDouble(0) ==
      plain.agg(sum("l_quantity")).head.getDouble(0))
    // every salt bucket of a hot key carries rows (the spread is real):
    val hot = big.groupBy("l_partkey").count().orderBy(desc("count")).head.getLong(0)
    val spread = big.filter(col("l_partkey") === hot)
      .withColumn("__salt", pmod(hash(big.columns.map(col): _*), lit(8)))
      .select("__salt").distinct().count()
    assert(spread > 1)
  }

  test("vertex/edge metrics are internally consistent with the shared graph") {
    val sfd = sf
    // independent degree derivation from lineitem (not the edge cache)
    val e0 = Tables.lineitem(spark, sfd)
      .select(col("l_partkey").as("p"), (col("l_suppkey") + Graph.SuppOffset).as("s"))
      .distinct()
    val deg = e0.select(col("p").as("n")).union(e0.select(col("s").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val nVert = deg.count()
    val nEdges = e0.count() // undirected edge count
    val maxDeg = deg.agg(max("d")).head.getLong(0)
    val triplets = deg.agg(sum(expr("(d * (d - 1)) div 2"))).head.getLong(0)

    val vm = Graph.q133VertexMetrics(spark, sfd).head
    assert(vm.getLong(0) == nVert)
    assert(vm.getLong(1) == nEdges)
    assert(vm.getLong(2) == triplets)
    assert(vm.getLong(3) == maxDeg)
    assert(vm.getLong(4) == maxDeg * (maxDeg - 1) / 2)

    // edge metrics: triangle triplets <= rectangle triplets <= all triplets,
    // same ordering for the maxima, and everything non-negative
    val em = Graph.q134EdgeMetrics(spark, sfd).head
    val (tri, rect, mTri, mRect) =
      (em.getLong(0), em.getLong(1), em.getLong(2), em.getLong(3))
    assert(0 <= tri && tri <= rect && rect <= triplets)
    assert(0 <= mTri && mTri <= mRect && mRect <= maxDeg * (maxDeg - 1) / 2)
  }

  test("summarization groups cover all nations and edge counts sum to the fact rows") {
    val sfd = sf
    val rows = Graph.q132Summarization(spark, sfd).collect()
    // every super-vertex rep is the min nation of its region and sizes total 25
    val reps = rows.map(r => (r.getLong(0), r.getLong(4))).toSet ++
      rows.map(r => (r.getLong(1), r.getLong(5))).toSet
    assert(reps.map(_._2).sum >= reps.size) // sizes are positive
    val nations = Tables.nation(spark, sfd)
      .groupBy("n_regionkey")
      .agg(min("n_nationkey").cast("long").as("rep"), count(lit(1)).as("sz"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(reps.subsetOf(nations))
    // edge multiplicities over all super-edges = lineitem rows with a
    // resolvable customer+supplier (every row here)
    val total = rows.map(_.getLong(3)).sum
    assert(total == Tables.lineitem(spark, sfd).count())
  }

  test("directed metric twins are consistent with the trade digraph") {
    val sfd = sf
    // independent derivation of the simplified trade digraph
    val trade = Tables.lineitem(spark, sfd)
      .join(Tables.orders(spark, sfd), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfd), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sfd), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = trade.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val bi = pairs.count { case (u, v) => trade((u, v)) && trade((v, u)) }
    val uni = pairs.size - bi

    val vm = Graph.q136DirectedVertexMetrics(spark, sfd).head
    assert(vm.getLong(0) == (trade.map(_._1) ++ trade.map(_._2)).size)
    assert(vm.getLong(1) == uni && vm.getLong(2) == bi)
    // directed edge count identity: uni + 2*bi = |trade|
    assert(uni + 2 * bi == trade.size)

    val em = Graph.q137DirectedEdgeMetrics(spark, sfd).head
    assert(0 <= em.getLong(0) && em.getLong(0) <= em.getLong(1))
    assert(em.getLong(1) <= vm.getLong(3)) // rectangles <= all triplets
    assert(em.getLong(2) <= em.getLong(3))
  }

  test("checksumHashCode library fold matches the census checksum and brute force") {
    import graft.analytics.GraphGen
    val cyc = GraphGen.cycle(spark, 1000L)
    val got = GraphGen.checksumHashCode(cyc).head
    val censusChk = GraphGen.q138GeneratorCensus(spark, sf).collect()
      .find(_.getString(0) == "cycle").get.getLong(5)
    assert(got.getLong(1) == censusChk)
    val brute = cyc.collect()
      .map(r => r.getLong(0) * GraphGen.ChkP + r.getLong(1)).sum
    assert(got.getLong(0) == 2000L && got.getLong(1) == brute)
    val empty = GraphGen.checksumHashCode(cyc.filter(col("src") < 0)).head
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L)
  }

  test("generator census matches the closed-form graph invariants") {
    val rows = graft.analytics.GraphGen.q138GeneratorCensus(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // (n_vertices, n_edges(directed arcs), min_degree, max_degree)
    assert(rows("complete") == ((64L, 64L * 63L, 63L, 63L)))
    assert(rows("cycle") == ((1000L, 2000L, 2L, 2L)))
    assert(rows("path") == ((1000L, 2 * 999L, 1L, 2L)))
    assert(rows("star") == ((1000L, 2 * 999L, 1L, 999L)))
    // 32x32 open grid: 2 * (2*32*31) arcs; corner degree 2, interior 4
    assert(rows("grid") == ((1024L, 4L * 32L * 31L, 2L, 4L)))
    // torus: every vertex degree exactly 4
    assert(rows("grid_wrap") == ((1024L, 4L * 1024L, 4L, 4L)))
    // Q_10: every vertex degree d
    assert(rows("hypercube") == ((1024L, 1024L * 10L, 10L, 10L)))
    // circulant {1,2,5} on 512: every vertex degree 6
    assert(rows("circulant") == ((512L, 512L * 6L, 6L, 6L)))
    assert(rows("singleton") == ((1000L, 1000L, 1L, 1L)))
    // echo(64, 5): complement-closed offset range => regular degree 5
    assert(rows("echo") == ((64L, 64L * 5L, 5L, 5L)))
    assert(rows("empty") == ((1024L, 0L, 0L, 0L)))
    // rmat: 2048 edges with the squared-LCG quadrant draws — skewed
    // out-degrees (max 57 vs mean ~12), the power-law shape RMat exists for
    assert(rows("rmat") == ((172L, 2048L, 1L, 57L)))
  }

  test("metric library forms equal a brute-force fold on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    (1 to 8).foreach { case_i =>
      val n = 4 + rng.nextInt(8)
      val und = (for {
        u <- 0 until n; v <- (u + 1) until n if rng.nextDouble() < 0.4
      } yield (u.toLong, v.toLong)).toSeq
      if (und.nonEmpty) {
        // brute force on adjacency sets
        val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
          .withDefaultValue(Set.empty)
        und.foreach { case (u, v) =>
          adj(u) = adj(u) + v; adj(v) = adj(v) + u
        }
        val degs = adj.view.mapValues(_.size.toLong).toMap
        val wantVm = (degs.size.toLong, degs.values.sum / 2,
          degs.values.map(d => d * (d - 1) / 2).sum,
          degs.values.max, degs.values.map(d => d * (d - 1) / 2).max)
        def lowOf(v: Long): Long = adj(v).count { u =>
          degs(v) < degs(u) || (degs(v) == degs(u) && v < u)
        }.toLong
        val lows = degs.keys.toSeq.map(v => (lowOf(v), degs(v) - lowOf(v)))
        val wantEm = (lows.map { case (l, _) => l * (l - 1) / 2 }.sum,
          lows.map { case (l, h) => l * (l - 1) / 2 + l * h }.sum,
          lows.map { case (l, _) => l * (l - 1) / 2 }.max,
          lows.map { case (l, h) => l * (l - 1) / 2 + l * h }.max)

        val arcs = (und ++ und.map(_.swap)).toDF("src", "dst")
        val deg = arcs.groupBy("src").agg(count(lit(1)).as("d"))
        val vm = Graph.vertexMetricsFromDegrees(deg).head
        assert((vm.getLong(0), vm.getLong(1), vm.getLong(2), vm.getLong(3),
          vm.getLong(4)) == wantVm, s"vertex metrics, case $case_i edges=$und")
        val ed = arcs.join(deg, "src").select(col("src"), col("dst"), col("d"))
        val em = Graph.edgeMetricsFromEdges(ed, deg).head
        assert((em.getLong(0), em.getLong(1), em.getLong(2), em.getLong(3))
          == wantEm, s"edge metrics, case $case_i edges=$und")
      }
    }
  }

  test("library algorithms on generated graphs match closed-form answers") {
    import graft.analytics.GraphGen
    // PageRank on a cycle: perfect symmetry => every node same rank
    val cyc = GraphGen.cycle(spark, 16L)
    val cdeg = cyc.groupBy("src").agg(count(lit(1)).as("d"))
    val ranks = Graph.pageRankFromEdges(cyc.join(cdeg, "src"), 3).collect()
    assert(ranks.length == 16 && ranks.map(_.getDouble(1)).distinct.length == 1)

    // SSSP with unit weights on a path from node 0: dist(i) = i
    val pathE = GraphGen.path(spark, 8L).withColumn("w", lit(1L))
    val dists = Graph.ssspFromEdges(spark, pathE, 0L, 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    (0 until 8).foreach(i => assert(dists(i.toLong) == i.toLong, s"node $i"))

    // CC on m disjoint edges: m components of size 2, labelled by even ids
    val se = GraphGen.singletonEdges(spark, 5L)
    val labels = Graph.connectedComponentsFromEdges(se, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 10)
    labels.foreach { case (node, label) => assert(label == node - node % 2) }

    // label propagation on a star, one round: every spoke sees only
    // the hub (adopts 0); the hub sees five singleton labels and the
    // min-label tie rule picks 1. (Two rounds would flip-flop — the
    // classic LP oscillation on bipartite graphs.)
    val st = GraphGen.star(spark, 6L)
    val lp = Graph.labelPropagationFromEdges(st, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    (1 until 6).foreach(i => assert(lp(i.toLong) == 0L, s"spoke $i"))
    assert(lp(0L) == 1L)
  }

  test("round-8 library forms tolerate degenerate inputs") {
    import spark.implicits._
    import graft.analytics.{Bipartite, Graph}
    // bipartite projections on an empty edge frame: empty, not a crash
    val emptyE = Seq.empty[(Long, Long, Long)].toDF("t", "b", "ev")
    val tv = Seq((0L, 1L)).toDF("t", "tv")
    val bv = Seq((0L, 1L)).toDF("b", "bv")
    assert(Bipartite.projectionTopSimple(emptyE).count() == 0)
    assert(Bipartite.projectionBottomFull(emptyE, tv, bv).count() == 0)
    // dangling PageRank on a single edge a->b, one superstep,
    // hand-computed: r0 = 1/2 each; b is the sink, dm = 1/2;
    // r'(a) = 0.15/2 + 0.85*(0 + 1/4) = 0.2875
    // r'(b) = 0.15/2 + 0.85*(1/2 + 1/4) = 0.7125  (mass conserved)
    val one = Seq((1L, 2L)).toDF("src", "dst")
    val pr = Graph.pageRankDanglingFromEdges(one, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.2875) < 1e-9 && math.abs(pr(2L) - 0.7125) < 1e-9)
    // triangle-free digraph census: vc=2, every triad count 0 (the
    // empty-sum coalesce path)
    val census = Graph.directedTriadicCensusFromEdges(one).head
    (0 until census.length).foreach(i => assert(census.getLong(i) == 0L,
      s"census field $i on a 1-edge digraph"))
    // clustering metrics with no d>=2 vertex: acc coalesces to 0.0
    val met = Graph.directedClusteringMetricsFromEdges(one).head
    assert(met.getLong(0) == 2L && met.getLong(1) == 0L && met.getLong(2) == 0L)
    assert(!met.isNullAt(4) && met.getDouble(4) == 0.0) // acc
  }

  test("all four bipartite projections equal a brute-force pair walk") {
    import spark.implicits._
    import graft.analytics.Bipartite
    val rng = new scala.util.Random(421)
    (1 to 3).foreach { trial =>
      val edges = (for {
        t <- 0L until 7L; b <- 0L until 9L if rng.nextDouble() < 0.35
      } yield (t, b, rng.nextInt(50).toLong)).toSeq
      val e = edges.toDF("t", "b", "ev")
      val tvm = (0L until 7L).map(t => t -> (t * 10 + 1)).toMap
      val bvm = (0L until 9L).map(b => b -> (b * 100 + 7)).toMap
      val tv = tvm.toSeq.toDF("t", "tv")
      val bv = bvm.toSeq.toDF("b", "bv")
      def pairsVia[K](key: ((Long, Long, Long)) => K,
          other: ((Long, Long, Long)) => Long) =
        (for {
          (_, es) <- edges.groupBy(key).toSeq
          x <- es; y <- es if other(x) != other(y)
        } yield (x, y)).toSet
      // simple tops: pairs sharing a bottom
      val wantTS = pairsVia(_._2, _._1)
        .map { case (x, y) => (x._1, y._1, x._2, x._3, y._3) }
      val gotTS = Bipartite.projectionTopSimple(e).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(gotTS == wantTS, s"trial $trial top-simple")
      val wantBS = pairsVia(_._1, _._2)
        .map { case (x, y) => (x._2, y._2, x._1, x._3, y._3) }
      val gotBS = Bipartite.projectionBottomSimple(e).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(gotBS == wantBS, s"trial $trial bottom-simple")
      // full projections carry the connecting vertex value + both
      // projected-side vertex values
      val wantBF = pairsVia(_._1, _._2).map { case (x, y) =>
        (x._2, y._2, x._1, tvm(x._1), bvm(x._2), bvm(y._2), x._3, y._3) }
      val gotBF = Bipartite.projectionBottomFull(e, tv, bv).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
      assert(gotBF == wantBF, s"trial $trial bottom-full")
      val wantTF = pairsVia(_._2, _._1).map { case (x, y) =>
        (x._1, y._1, x._2, bvm(x._2), tvm(x._1), tvm(y._1), x._3, y._3) }
      val gotTF = Bipartite.projectionTopFull(e, tv, bv).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
      assert(gotTF == wantTF, s"trial $trial top-full")
    }
  }
}
