package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Iterate
import graft.sources.Tables

/** Graph analytics from the reference's example programs
  * (`/root/reference` flink-examples-batch graph/PageRank.java:102-117
  * — iterate + join + groupBy-sum; graph/ConnectedComponents.java:
  * 99-104 — delta iteration + join + min aggregation), run on the
  * part↔supplier bipartite graph induced by lineitem (distinct
  * (l_partkey, l_suppkey) pairs; supplier node ids offset by 10⁶).
  *
  * Iteration is the driver-loop pattern ([[graft.engine.Iterate]]):
  * the edge relation (with per-source degree) is persisted once; each
  * superstep is join → hash-agg with the rank/label state rounded (PR)
  * or integral (CC) so supersteps are bit-reproducible in the oracle's
  * unrolled CTEs. Fixed 3 supersteps — determinism over convergence
  * for the graded query; production callers use Iterate.delta's
  * convergence loop.
  */
object Graph {

  val SuppOffset = 1000000L
  val Iters = 3

  /** Undirected edge list with source degree, persisted for reuse
    * across supersteps; memoized per (session, dir) so PageRank and
    * ConnectedComponents share one materialization. */
  private val edgeCache = new graft.engine.SessionCache(buildEdges)

  private def edgesWithDeg(spark: SparkSession, dir: String): DataFrame =
    edgeCache.get(spark, dir)

  private def buildEdges(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), (col("l_suppkey") + SuppOffset).as("s"))
      .distinct()
    val edges = e0.select(col("p").as("src"), col("s").as("dst"))
      .union(e0.select(col("s").as("src"), col("p").as("dst")))
    // partition by src ONCE, at size-derived width (r18, guide §2):
    // supersteps broadcast the node state, so the src clustering
    // serves the cache layout (and the documented non-broadcast
    // fallback); the degree column rides a count window over the SAME
    // exchange. The old groupBy → join-back → repartition shape paid
    // a second full-edge shuffle and compiled a non-adaptive
    // sort-merge join inside the cache build (cached plans get no AQE
    // coalescing), all at the session's full shuffle width — 32
    // near-empty cached partitions driving 32-task jobs in every
    // superstep at test SF.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val ed = edges
      .repartition(graft.engine.Cpu.sizedParts(edges), col("src"))
      .withColumn("d", count(lit(1)).over(w))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // eager count (r17 optimization): the first superstep action fans
    // out (step-1 and step-2 edge scans are independent map stages
    // under AQE) and would race TWO concurrent builds of the edge
    // relation before any cache block lands
    ed.count()
    ed
  }

  private val edgesSql: String =
    s"""e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey + $SuppOffset AS s FROM lineitem),
       |edges AS (SELECT p AS src, s AS dst FROM e0 UNION ALL SELECT s AS src, p AS dst FROM e0),
       |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)""".stripMargin

  // ---------------------------------------------------------------- q41
  /** PageRank, 3 supersteps, damping 0.85, ranks rounded to 6
    * decimals per superstep (kills cross-engine FP sum-order noise —
    * same device as KMeans centroids). One join + one hash-agg per
    * superstep; ranks stay distributed, lineage cut via
    * [[graft.engine.Iterate.loopDF]].
    */
  /** Library form: PageRank over any degree-annotated both-arcs edge
    * frame (`src`, `dst`, `d` = deg(src)); returns (node, r). */
  def pageRankFromEdges(ed: DataFrame, iters: Int): DataFrame = {
    val init = ed.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1.0))
    // node state (1 row per node) is orders of magnitude smaller than
    // the edge relation: broadcast it each superstep so only the
    // partial-aggregated contributions shuffle. (For node counts past
    // broadcast range, drop the hint — the src-partitioned edge cache
    // still pins the big side in place.)
    // loopDF truncates EVERY step, so the plan shape of step N+1 is
    // identical to step N (LogicalRDD → join → agg) and its
    // whole-stage codegen hits the compile cache instead of
    // recompiling a deeper nested plan — the cold first-run cost the
    // driver's single-run walk pays.
    Iterate.loopDF(init, iters) { (rs, _) =>
      ed.join(broadcast(rs), ed("src") === rs("node"))
        .groupBy(col("dst").as("node2"))
        .agg(round(lit(0.15) + lit(0.85) * sum(col("r") / col("d")), 6).as("r2"))
        .select(col("node2").as("node"), col("r2").as("r"))
    }
  }

  def q41PageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankFromEdges(edgesWithDeg(spark, dir), Iters)
      .orderBy(desc("r"), col("node")).limit(20)
      .select(col("node"), col("r").as("rank"))

  val q41Sql: String = {
    val steps = (1 to Iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node, round(0.15 + 0.85 * sum(r.r / e.d), 6) AS r
         |  FROM ewd e JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |ewd AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d ON e.src = d.src),
       |r0 AS (SELECT src AS node, 1.0 AS r FROM deg),
       |$steps
       |SELECT node, r AS rank FROM r$Iters ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q163
  /** Gelly LIBRARY PageRank (reference
    * `library/linkanalysis/PageRank.java` — distinct from the
    * example-program analogue q41): models DANGLING-VERTEX mass. Per
    * superstep, the rank mass sitting on vertices with no out-edges
    * is redistributed uniformly:
    * r'(v) = (1−β)/n + β·(Σ_{u→v} r(u)/outdeg(u) + dangling/n),
    * r₀ = 1/n over ALL vertices (sources, sinks, and isolated-in-edge
    * vertices alike — the reference scores every vertex). State
    * rounded to 9 decimals per superstep (the q128 device; r₀ is a
    * single division, bit-identical unrounded). Per superstep: one
    * node-state broadcast onto the checkpointed out-degree-annotated
    * edges, one dst-keyed hash-agg, one node-keyed left join, and two
    * 1-row broadcasts (dangling mass, vertex count) — the q125
    * 1-row-agg device; everything node- or edge-keyed, nothing
    * driver-side. */
  /** Library form over any directed edge frame (`src`, `dst`). */
  def pageRankDanglingFromEdges(edges: DataFrame, iters: Int): DataFrame = {
    // the edge relation and the static flagged node set feed every
    // superstep — materialize each once, at size-derived width with
    // the out-degree riding the src exchange as a count window (the
    // buildEdges shape, r18). The dangling flag rides the node STATE
    // (computed once here), so each superstep's dangling mass is a
    // filter + 1-row agg over the checkpointed state — no
    // per-superstep semi-join shuffle
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val ed = Iterate.measured(edges
      .repartition(graft.engine.Cpu.sizedParts(edges), col("src"))
      .withColumn("d", count(lit(1)).over(wd)))
    val nodes = Iterate.measured(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .join(ed.select(col("src").as("node")).distinct()
        .withColumn("has_out", lit(true)), Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("has_out"), lit(false)).as("has_out")))
    // vertex count as a driver scalar (r18): n is loop-invariant and
    // bounded (ONE value) — the Iterate doc's "tiny driver state rides
    // better as a literal" rule. Replaces a per-superstep 1-row
    // broadcast + crossJoin; 1.0/n, 0.15/n and dm/n are the identical
    // IEEE divisions the column form computed. The node set's
    // materialization already counted it: no job.
    val n = Iterate.rowCount(nodes).toDouble
    val init = nodes
      .select(col("node"), lit(1.0 / n).as("r"), col("has_out"))
    Iterate.loopDF(init, iters) { (rs, _) =>
      val dm = rs.filter(!col("has_out"))
        .agg(coalesce(sum(col("r")), lit(0.0)).as("dm"))
      val contrib = ed.join(broadcast(rs.select(col("node"), col("r"))),
          ed("src") === col("node"))
        .groupBy(col("dst").as("node2"))
        .agg(sum(col("r") / col("d")).as("c"))
        .withColumnRenamed("node2", "node")
      nodes.join(contrib, Seq("node"), "left_outer")
        .crossJoin(broadcast(dm))
        .select(col("node"),
          round(lit(0.15) / lit(n) + lit(0.85) *
            (coalesce(col("c"), lit(0.0)) + col("dm") / lit(n)), 9).as("r"),
          col("has_out"))
    }.select(col("node"), col("r"))
  }

  /** Graded on the DIRECTED part→supplier half of the shared edge
    * cache (the q125 domain): every supplier is a sink, so the
    * dangling term carries half the graph's mass — the machinery the
    * example-program q41 (both-arcs, no sinks) cannot exercise. */
  def q163LibraryPagerank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = edgesWithDeg(spark, dir)
      .filter(col("src") < SuppOffset)
      .select(col("src"), col("dst"))
    pageRankDanglingFromEdges(e0, Iters)
      .orderBy(desc("r"), col("node")).limit(20)
      .select(col("node"), col("r").as("rank"))
  }

  val q163Sql: String = {
    val steps = (1 to Iters).map { i =>
      s"""dm$i AS (
         |  SELECT coalesce(sum(r.r), 0) AS dm FROM r${i - 1} r
         |  WHERE r.node NOT IN (SELECT p FROM od)),
         |c$i AS (
         |  SELECT e.s AS node, sum(r.r / od.d) AS c
         |  FROM e0 e JOIN od ON e.p = od.p JOIN r${i - 1} r ON e.p = r.node
         |  GROUP BY e.s),
         |r$i AS (
         |  SELECT nodes.node,
         |    round(0.15 / nn.n + 0.85 * (coalesce(c.c, 0) + dm$i.dm / nn.n), 9) AS r
         |  FROM nodes LEFT JOIN c$i c ON nodes.node = c.node, nn, dm$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey + $SuppOffset AS s FROM lineitem),
       |od AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY p),
       |nodes AS (SELECT p AS node FROM e0 UNION SELECT s FROM e0),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes, nn),
       |$steps
       |SELECT node, r AS rank FROM r$Iters ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q42
  /** Connected components by min-label propagation (the reference's
    * delta-iteration workload), 3 supersteps: label' = min(label,
    * min(neighbor labels)). Integer arithmetic — exact across
    * engines. Output: component summary (min-label → member count).
    */
  /** Library form: min-label propagation over any both-arcs edge
    * frame (`src`, `dst`); returns (node, label) after `iters`
    * supersteps. */
  def connectedComponentsFromEdges(ed: DataFrame, iters: Int): DataFrame = {
    val init = ed.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    // this step references `ls` TWICE (join leg + union leg), so an
    // uncheckpointed superstep would DOUBLE the label lineage per step
    // — re-evaluating the whole history 2^k times. loopDF's per-step
    // truncation of the (node-cardinality, tiny) label relation keeps
    // every superstep one join + one hash-agg over the persisted
    // edges, at any iteration count.
    Iterate.loopDF(Iterate.measured(init), iters) { (ls, _) =>
      // label' = min(own ∪ neighbors): folding the self-label into the
      // aggregation replaces the join-back-then-least shape with ONE
      // join + ONE hash-agg per superstep (map-side partial min keeps
      // the shuffle at node cardinality, not edge cardinality)
      ed.join(broadcast(ls), ed("src") === ls("node"))
        .select(col("dst").as("node2"), col("label"))
        .union(ls.select(col("node").as("node2"), col("label")))
        .groupBy(col("node2")).agg(min(col("label")).as("label2"))
        .select(col("node2").as("node"), col("label2").as("label"))
    }
  }

  def q42ConnectedComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponentsFromEdges(edgesWithDeg(spark, dir).select("src", "dst"), Iters)
      .groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("label"))

  val q42Sql: String = {
    val steps = (1 to Iters).map { i =>
      s"""n$i AS (SELECT e.dst AS node, min(l.label) AS nl
         |  FROM edges e JOIN l${i - 1} l ON e.src = l.node GROUP BY e.dst),
         |l$i AS (SELECT l.node, least(l.label, coalesce(n.nl, l.label)) AS label
         |  FROM l${i - 1} l LEFT JOIN n$i n ON l.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |l0 AS (SELECT src AS node, src AS label FROM deg),
       |$steps
       |SELECT label, count(*) AS n_nodes FROM l$Iters
       |GROUP BY label ORDER BY label""".stripMargin
  }

  /** Convergence-checked connected components — the reference's
    * DeltaIteration shape (`ConnectedComponents.java:99-104`: workset
    * = vertices whose label changed; stop when empty) on
    * [[graft.engine.Iterate.delta]]. Not a graded query (iteration
    * count is data-dependent); GraphSpec checks it agrees with the
    * fixed-superstep q42 on converged components.
    */
  def connectedComponentsConverged(spark: SparkSession, dir: String,
      maxIter: Int = 20): DataFrame =
    connectedComponentsDelta(edgesWithDeg(spark, dir).select("src", "dst"), maxIter)

  /** Library form: delta-iteration min-label components over any
    * both-arcs edge frame (`src`, `dst`); returns (node, label) once no
    * label changes, or after `maxIter` supersteps. */
  def connectedComponentsDelta(ed: DataFrame, maxIter: Int): DataFrame = {
    val init = ed.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    Iterate.delta(init, init, maxIter, "node") { (sol, ws) =>
      // candidate labels propagate only from vertices that changed; the
      // delta is the vertices whose label drops
      val nbrMin = ed.join(ws, ed("src") === ws("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nl"))
      sol.join(nbrMin, sol("node") === nbrMin("dst"))
        .filter(col("nl") < sol("label"))
        .select(sol("node"), col("nl").as("label"))
    }
  }

  // ---------------------------------------------------------------- q56
  /** Triangle enumeration (the reference's EnumTriangles.java:108-110:
    * groupBy(V1).sortGroup(V2).reduceGroup(TriadBuilder) → join on
    * (Triad.V2,V3)=(Edge.V1,V2)). The bipartite part↔supplier graph
    * has no odd cycles, so the workload graph folds both key spaces
    * into one 211-node id space (supplier keys shifted to interleave)
    * and sparsifies via a quantity slice.
    *
    * The plan is the DEGREE-ORIENTED build — the scalable form of the
    * reference's per-vertex triad expansion: every edge is directed
    * from its lower-(degree, id) endpoint to the higher one, triads
    * expand per source over OUT-edges only, and the closing edge is a
    * composite-key semi join. Per-vertex triad cost drops from
    * deg(v)² to outdeg(v)² with outdeg ≤ √(2·edges) — the hot-vertex
    * (boilerplate-hub) hazard of the naive build is capped by
    * construction, no salting needed. The per-node degree relation is
    * broadcast. Output triples are re-sorted numerically, so the
    * result is orientation-independent and matches the
    * straightforward oracle.
    */
  val TriMod = 211L
  val TriShift = 97L
  val TriQtyMax = 2

  def q56EnumTriangles(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") <= TriQtyMax)
      .select((col("l_partkey") % TriMod).as("a"),
        ((col("l_suppkey") + TriShift) % TriMod).as("b"))
      .filter(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")).distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient u→v iff (deg(u), u) < (deg(v), v); u < v already, so the
    // tie on degree keeps u→v. Carry the head's rank degree for the
    // canonical triad order below.
    val dirE = und
      .join(broadcast(deg).as("du"), col("u") === col("du.n"))
      .join(broadcast(deg).as("dv"), col("v") === col("dv.n"))
      .select(
        when(col("du.d") <= col("dv.d"), col("u")).otherwise(col("v")).as("src"),
        when(col("du.d") <= col("dv.d"), col("v")).otherwise(col("u")).as("dst"),
        // the head's degree == greatest of the two on either branch
        greatest(col("du.d"), col("dv.d")).as("dd"))
    val tri = dirE.as("x").join(dirE.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.dd") < col("y.dd") ||
            (col("x.dd") === col("y.dd") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("s"), col("x.dst").as("w1"), col("y.dst").as("w2"))
    // rank(w1) < rank(w2), so the closing undirected edge {w1,w2} can
    // only be oriented w1→w2 — one composite-key semi join closes it
    val closed = tri.join(dirE,
      tri("w1") === dirE("src") && tri("w2") === dirE("dst"), "left_semi")
    closed.select(
        least(col("s"), col("w1"), col("w2")).as("t1"),
        (col("s") + col("w1") + col("w2")
          - least(col("s"), col("w1"), col("w2"))
          - greatest(col("s"), col("w1"), col("w2"))).as("t2"),
        greatest(col("s"), col("w1"), col("w2")).as("t3"))
      .orderBy(col("t1"), col("t2"), col("t3"))
  }

  val q56Sql: String =
    s"""WITH raw AS (SELECT l_partkey % $TriMod AS a, (l_suppkey + $TriShift) % $TriMod AS b
       |            FROM lineitem WHERE l_quantity <= $TriQtyMax),
       |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
       |tri AS (SELECT x.u AS t1, x.v AS t2, y.v AS t3
       |        FROM e x JOIN e y ON x.u = y.u AND x.v < y.v)
       |SELECT t1, t2, t3 FROM tri
       |WHERE EXISTS (SELECT 1 FROM e z WHERE z.u = tri.t2 AND z.v = tri.t3)
       |ORDER BY t1, t2, t3""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Transitive closure (TransitiveClosureNaive.java:71-86: iterate
    * paths ⋈ edges → union → distinct, workset = paths not seen
    * before, stop when empty) as a convergence loop on
    * [[graft.engine.Iterate.delta]] — upgraded from the reference's
    * one-edge-hop extension to PATH DOUBLING: the workset joins the
    * whole SOLUTION, so reach doubles per superstep and the loop
    * closes in O(log diameter) shuffles instead of O(diameter).
    * (Correctness: a pair at distance d ∈ (2^(k-1), 2^k] splits at
    * the midpoint of a shortest path into a prefix of distance
    * exactly 2^(k-1) — fresh in the previous superstep — and a
    * suffix already in the solution.) The superstep's delta is the
    * extension minus the solution (`except`): the genuinely new
    * pairs. Keyed on the whole row, it is both the next workset and
    * the rows unioned into the solution, and the loop stops when a
    * superstep finds none — the reference's closeWith(nextPaths,
    * newPaths) termination. The workload graph is the 32-residue
    * customer-key DAG with stride edges (+1, +4, +16).
    */
  val TcMod = 32L
  val TcMaxIter = 20

  def q57TransitiveClosure(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.customer(spark, dir)
      .select((col("c_custkey") % TcMod).as("v")).distinct()
    val edges = nodes.as("a").join(nodes.as("b"),
        col("b.v") === col("a.v") + 1 ||
          col("b.v") === col("a.v") + 4 ||
          col("b.v") === col("a.v") + 16)
      .select(col("a.v").as("src"), col("b.v").as("dst"))
    transitiveClosure(edges, TcMaxIter).orderBy(col("src"), col("dst"))
  }

  /** Library form: the path-doubling closure of any directed edge
    * set (`src`, `dst`, no duplicate rows); superstep k adds the pairs
    * at distance (2^(k-1), 2^k], so `maxIter` caps reach at distance
    * 2^maxIter. */
  def transitiveClosure(edges: DataFrame, maxIter: Int): DataFrame =
    Iterate.delta(edges, edges, maxIter, "src", "dst") { (sol, ws) =>
      // doubling join: fresh prefixes × full solution suffixes
      ws.as("p").join(sol.as("q"), col("p.dst") === col("q.src"))
        .select(col("p.src").as("src"), col("q.dst").as("dst"))
        .except(sol)
    }

  val q57Sql: String =
    s"""WITH RECURSIVE nodes AS (SELECT DISTINCT c_custkey % $TcMod AS v FROM customer),
       |e AS (SELECT a.v AS src, b.v AS dst FROM nodes a JOIN nodes b
       |      ON b.v = a.v + 1 OR b.v = a.v + 4 OR b.v = a.v + 16),
       |p AS (SELECT src, dst FROM e
       |      UNION
       |      SELECT p.src, e.dst FROM p JOIN e ON p.dst = e.src)
       |SELECT src, dst FROM p ORDER BY src, dst""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Single-source shortest paths — the canonical Gelly program the
    * reference tree ships (`/root/reference` flink-gelly
    * library/SingleSourceShortestPaths.java: scatter-gather
    * min-distance iteration) that was missing from the graded graph
    * family. Bellman-Ford supersteps over the shared edge cache with
    * DERIVED INTEGER weights (`1 + (src + dst) % 7` — symmetric, and
    * integer arithmetic means zero cross-engine FP concerns, unlike
    * PageRank's rounded doubles). The reached-set relation starts as
    * one row (the minimal part node) and grows to ≤ |V|; each
    * superstep is one broadcast join + one min hash-agg — the frontier
    * state broadcasts, only partial-aggregated candidates shuffle,
    * the same 100 TB posture as q41/q42. Fixed supersteps for oracle
    * determinism; unreached-in-k-hops nodes simply have no row. */
  val SsspIters = 4

  /** Library form: Bellman-Ford over any weighted both-arcs edge
    * frame (`src`, `dst`, `w` — integer weights recommended for
    * cross-engine exactness); returns (node, dist) for nodes reached
    * within `iters` hops of `source`. */
  def ssspFromEdges(spark: SparkSession, ed: DataFrame, source: Long,
      iters: Int): DataFrame = {
    val init = spark.range(1).select(lit(source).as("node"), lit(0L).as("dist"))
    Iterate.loopDF(init, iters) { (ds, _) =>
      val cand = ed.join(broadcast(ds), ed("src") === ds("node"))
        .groupBy(col("dst").as("cnode"))
        .agg(min(col("dist") + col("w")).as("cdist"))
        .select(col("cnode").as("node"), col("cdist").as("dist"))
      ds.union(cand).groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
  }

  def q119Sssp(spark: SparkSession, dir: String): DataFrame = {
    val ed = edgesWithDeg(spark, dir)
      .select(col("src"), col("dst"),
        (lit(1L) + (col("src") + col("dst")) % 7).as("w"))
    // bounded model state: ONE scalar (the source node id)
    val src0 = ed.agg(min(col("src"))).head().getLong(0)
    ssspFromEdges(spark, ed, src0, SsspIters)
      .orderBy(col("dist"), col("node")).limit(50)
  }

  val q119Sql: String = {
    val steps = (1 to SsspIters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, min(d.dist + e.w) AS dist
         |  FROM wedges e JOIN d${i - 1} d ON e.src = d.node GROUP BY e.dst),
         |d$i AS (SELECT node, min(dist) AS dist
         |  FROM (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM c$i) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |wedges AS (SELECT src, dst, 1 + (src + dst) % 7 AS w FROM edges),
       |d0 AS (SELECT (SELECT min(src) FROM wedges) AS node, CAST(0 AS BIGINT) AS dist),
       |$steps
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$SsspIters
       |ORDER BY dist, node LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------- q124
  /** Label propagation (the reference tree's Gelly
    * `library/LabelPropagation.java`: each superstep a vertex adopts
    * its neighbors' MOST FREQUENT label): unique initial labels, a
    * fixed superstep count, and the deterministic tie rule "max
    * count, then min label" (Gelly breaks ties by hash order —
    * nondeterministic across runs; min-label is the reproducible
    * choice both engines state identically). Integer labels and
    * counts only — no FP anywhere. Per superstep: one broadcast of
    * the label state onto the src-partitioned edge cache, one
    * (dst, label) count agg, one per-dst argmax — all shuffles keyed
    * by node id. Output is the label histogram (community sizes). */
  val LpIters = 3

  /** Library form: majority-label propagation (max count, min-label
    * ties) over any both-arcs edge frame; returns (node, label). */
  def labelPropagationFromEdges(ed: DataFrame, iters: Int): DataFrame = {
    val init = ed.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    Iterate.loopDF(init, iters) { (ls, _) =>
      ed.join(broadcast(ls), ed("src") === ls("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("dst").as("node2"))
        .agg(max(struct(col("n").as("n"), (lit(0L) - col("label")).as("negl"))).as("m"))
        .select(col("node2").as("node"), (lit(0L) - col("m.negl")).as("label"))
    }
  }

  def q124LabelPropagation(spark: SparkSession, dir: String): DataFrame =
    labelPropagationFromEdges(edgesWithDeg(spark, dir).select("src", "dst"), LpIters)
      .groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("label"))

  val q124Sql: String = {
    val steps = (1 to LpIters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, l.label, count(*) AS n
         |  FROM edges e JOIN l${i - 1} l ON e.src = l.node GROUP BY e.dst, l.label),
         |l$i AS (SELECT node, label FROM (
         |  SELECT node, label,
         |    row_number() OVER (PARTITION BY node ORDER BY n DESC, label ASC) AS rk
         |  FROM c$i) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |l0 AS (SELECT src AS node, src AS label FROM deg),
       |$steps
       |SELECT label, CAST(count(*) AS BIGINT) AS n_nodes FROM l$LpIters
       |GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------- q125
  /** HITS hubs/authorities (reference Gelly
    * `library/linkanalysis/HITS.java`) on the DIRECTED bipartite
    * part→supplier edges: authority(s) = Σ hub(p) over in-edges,
    * hub(p) = Σ auth(s) over out-edges, each superstep. Normalization
    * is by the MAX score rather than Gelly's L2 norm: max is an exact
    * pick of one rounded value (no order-dependent sum-of-squares
    * under the norm), so the superstep stays bit-reproducible in the
    * unrolled oracle — same ranking, different constant (documented
    * deviation). Scores rounded 6dp per superstep (the q41 device).
    * Per superstep: one state broadcast onto the cached directed
    * edges, one hash-agg, one 1-row max broadcast. */
  val HitsIters = 2

  def q125Hits(spark: SparkSession, dir: String): DataFrame = {
    // the directed p→s edges are exactly the src<offset half of the
    // shared undirected cache — reuse it (one materialization across
    // q41/q42/q124/q125) instead of re-scanning lineitem
    val e0 = edgesWithDeg(spark, dir)
      .filter(col("src") < SuppOffset)
      .select(col("src").as("p"), col("dst").as("s"))
    val init = e0.select(col("p").as("node")).distinct().withColumn("h", lit(1.0))
    def normalize(df: DataFrame, c: String): DataFrame = {
      // materialize the aggregated state ONCE before normalizing: the
      // score relation feeds BOTH the max subtree and the main leg
      // (and the next half-step reads the result twice again), so an
      // unmaterialized lineage re-runs each join+agg up to 4x per
      // superstep — measured 6.0 s for 2 iterations, 2.1 s with the
      // node-cardinality checkpoint here
      val st = Iterate.measured(df)
      val mx = st.agg(max(col(c)).as("mx"))
      st.crossJoin(broadcast(mx))
        .select(col("node"), round(col(c) / col("mx"), 6).as(c))
    }
    val hubs = Iterate.loopDF(init, HitsIters) { (hs, _) =>
      val auth = normalize(
        e0.join(broadcast(hs), e0("p") === hs("node"))
          .groupBy(col("s").as("node")).agg(round(sum(col("h")), 6).as("a")), "a")
      normalize(
        e0.join(broadcast(auth), e0("s") === auth("node"))
          .groupBy(col("p").as("node")).agg(round(sum(col("a")), 6).as("h")), "h")
    }
    val finalAuth = normalize(
      e0.join(broadcast(hubs), e0("p") === hubs("node"))
        .groupBy(col("s").as("node")).agg(round(sum(col("h")), 6).as("a")), "a")
    finalAuth.orderBy(col("a").desc, col("node")).limit(20)
      .select(col("node"), col("a").as("authority"))
  }

  val q125Sql: String = {
    val steps = (1 to HitsIters).map { i =>
      s"""ar$i AS (SELECT e.s AS node, round(sum(h.h), 6) AS a
         |  FROM e0 e JOIN h${i - 1} h ON e.p = h.node GROUP BY e.s),
         |a$i AS (SELECT node, round(a / (SELECT max(a) FROM ar$i), 6) AS a FROM ar$i),
         |hr$i AS (SELECT e.p AS node, round(sum(a.a), 6) AS h
         |  FROM e0 e JOIN a$i a ON e.s = a.node GROUP BY e.p),
         |h$i AS (SELECT node, round(h / (SELECT max(h) FROM hr$i), 6) AS h FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey + $SuppOffset AS s FROM lineitem),
       |h0 AS (SELECT DISTINCT p AS node, 1.0 AS h FROM e0),
       |$steps,
       |arf AS (SELECT e.s AS node, round(sum(h.h), 6) AS a
       |  FROM e0 e JOIN h$HitsIters h ON e.p = h.node GROUP BY e.s),
       |af AS (SELECT node, round(a / (SELECT max(a) FROM arf), 6) AS a FROM arf)
       |SELECT node, a AS authority FROM af
       |ORDER BY a DESC, node LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q126
  /** Jaccard vertex similarity (reference Gelly
    * `library/similarity/JaccardIndex.java`): for part pairs
    * co-occurring in at least one ORDER, |N(u)∩N(v)| / |N(u)∪N(v)|
    * over order neighborhoods — market-basket similarity. The pair
    * domain matters structurally: on the part–SUPPLIER graph every
    * supplier touches ~600 parts, so co-neighbor expansion is
    * Σ deg² ≈ 350M pairs at sf0.1 (measured: a 160 s query) and
    * grows quadratically; on the part–ORDER graph the expansion is
    * bounded by BASKET SIZE (≤ ~7 lines per order), i.e. linear in
    * lineitem at ANY scale — the co-occurrence structure a real
    * recommender computes. Shared counts and degrees are exact
    * integers; the score is ONE division — bit-identical
    * cross-engine, no rounding rule. Top-20 by (score, pair). */
  def q126JaccardIndex(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_orderkey").as("o"))
      .distinct()
    val deg = e0.groupBy(col("p")).agg(count(lit(1)).as("d"))
    val a = e0.select(col("o"), col("p").as("u"))
    val b = e0.select(col("o").as("o2"), col("p").as("v"))
    val shared = a.join(b, col("o") === col("o2") && col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("shared"))
    shared
      .join(deg.select(col("p").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("p").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("shared"),
        (col("shared") / (col("du") + col("dv") - col("shared"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v")).limit(20)
  }

  val q126Sql: String =
    """WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem),
      |deg AS (SELECT p, count(*) AS d FROM e0 GROUP BY p),
      |shared AS (
      |  SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS shared
      |  FROM e0 a JOIN e0 b ON a.o = b.o AND a.p < b.p
      |  GROUP BY a.p, b.p)
      |SELECT u, v, shared,
      |  shared * 1.0 / (du.d + dv.d - shared) AS jaccard
      |FROM shared
      |JOIN deg du ON du.p = u
      |JOIN deg dv ON dv.p = v
      |ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q131
  /** Community detection with hop attenuation (reference Gelly
    * `library/CommunityDetection.java`, Leung et al. 0808.2633):
    * scatter-gather where each vertex carries (label, score), init
    * (own id, 1.0). Per superstep t a vertex: sums received scores
    * per label (unit edge weights here — the workload graph is
    * unweighted), adopts the label with the highest SUM, re-scores to
    * the highest SINGLE received score of that label minus delta/t
    * when the label changed (delta = 0.5, Gelly's default). Two
    * deterministic pins, both documented deviations of the q125 kind:
    * scores and per-label sums are rounded 6dp per superstep (kills
    * cross-engine sum-order noise), and argmax ties break to the MIN
    * label — which is exactly what Gelly's ascending TreeMap with
    * strict `>` does, so the tie rule is faithful, only the rounding
    * is ours. Per superstep: one broadcast of the node-cardinality
    * (label, score) state onto the src-partitioned edge cache, one
    * (dst, label) hash-agg, one per-dst struct-argmax, one
    * state-join for the rescore — all shuffles keyed by node id.
    * Output: community size histogram (the q124 surface). */
  val CdIters = 3
  val CdDelta = 0.5

  def q131CommunityDetection(spark: SparkSession, dir: String): DataFrame = {
    val ed = edgesWithDeg(spark, dir).select("src", "dst")
    val init = ed.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .withColumn("score", lit(1.0))
    val fin = Iterate.loopDF(init, CdIters) { (vs, t) =>
      val sums = ed.join(broadcast(vs), ed("src") === vs("node"))
        .groupBy(ed("dst"), col("label"))
        .agg(round(sum(col("score")), 6).as("ssum"), max(col("score")).as("smax"))
      // (dst,label) rows are unique, so (ssum, -label) never ties and
      // the struct max rides smax along with the winning label
      val pick = sums.groupBy(col("dst"))
        .agg(max(struct(col("ssum"), (lit(0L) - col("label")).as("negl"),
          col("smax"))).as("m"))
        .select(col("dst").as("node2"), (lit(0L) - col("m.negl")).as("label2"),
          col("m.smax").as("smax"))
      // re-project the state before the rescore join: `pick` already
      // derives from `vs`, and Spark's self-join check can't attribute
      // a bare vs("label") across the two lineages
      val prev = vs.select(col("node").as("pnode"), col("label").as("plabel"))
      pick.join(broadcast(prev), col("node2") === col("pnode"))
        .select(col("node2").as("node"), col("label2").as("label"),
          round(col("smax") - when(col("label2") =!= col("plabel"),
            lit(CdDelta) / t).otherwise(lit(0.0)), 6).as("score"))
    }
    fin.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("label"))
  }

  val q131Sql: String = {
    val steps = (1 to CdIters).map { i =>
      s"""s$i AS (SELECT e.dst AS node, v.label, round(sum(v.score), 6) AS ssum,
         |  max(v.score) AS smax
         |  FROM edges e JOIN v${i - 1} v ON e.src = v.node GROUP BY e.dst, v.label),
         |p$i AS (SELECT node, label, smax FROM (
         |  SELECT node, label, smax,
         |    row_number() OVER (PARTITION BY node ORDER BY ssum DESC, label ASC) AS rn
         |  FROM s$i) WHERE rn = 1),
         |v$i AS (SELECT p.node, p.label,
         |  round(p.smax - CASE WHEN p.label <> v.label THEN $CdDelta / $i ELSE 0 END, 6) AS score
         |  FROM p$i p JOIN v${i - 1} v ON p.node = v.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |v0 AS (SELECT src AS node, src AS label, 1.0 AS score FROM deg),
       |$steps
       |SELECT label, CAST(count(*) AS BIGINT) AS n_nodes FROM v$CdIters
       |GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------- q128
  /** Adamic-Adar vertex similarity (reference Gelly
    * `library/similarity/AdamicAdar.java`: score(u,v) =
    * Σ_{w ∈ N(u)∩N(v)} 1/log(deg(w)) — Jaccard's cousin that
    * down-weights high-degree shared neighbors). Same basket-bounded
    * part–ORDER domain as q126 (the q126 lesson: the part–supplier
    * domain is Σdeg² ≈ 350M pairs at sf0.1; order baskets bound the
    * expansion at ~7 pairs/order, linear in lineitem at any scale).
    * Shared neighbors of parts u,v are the orders containing both, so
    * deg(w) = basket size ≥ 2 (an order must hold both parts) and
    * log never sees 1. Transcendental guard (engine libm is not
    * bit-identical): the per-order weight 1/ln(basket) is rounded to
    * 9dp on BOTH engines, the summed score to 6dp — the established
    * rounding device (q89/q125). Top-20 by (score, pair). */
  def q128AdamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_orderkey").as("o"))
      .distinct()
    // basket size (and so the weight) rides a count window over e0's
    // OWN lineage instead of a groupBy-join-back: the join-back's
    // pruned subtree defeats exchange reuse (the q85/q90 lesson) and
    // at sf1 re-shuffled the EXPANDED pair relation on o (measured
    // 14.0 s → 6.5 s). Both pair legs now derive from the same
    // windowed relation, so the self-join reuses one o-exchange.
    val win = org.apache.spark.sql.expressions.Window.partitionBy("o")
    val ew = e0.withColumn("od", count(lit(1)).over(win))
      .filter(col("od") >= 2)
      .withColumn("w", round(lit(1.0) / log(col("od").cast("double")), 9))
    val a = ew.select(col("o"), col("p").as("u"), col("w"))
    val b = ew.select(col("o").as("o2"), col("p").as("v"))
    a.join(b, col("o") === col("o2") && col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("shared"), round(sum(col("w")), 6).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("u"), col("v")).limit(20)
  }

  val q128Sql: String =
    """WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem),
      |w AS (SELECT o, round(1.0 / ln(count(*)), 9) AS w
      |      FROM e0 GROUP BY o HAVING count(*) >= 2),
      |pairs AS (
      |  SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS shared,
      |    round(sum(w.w), 6) AS adamic_adar
      |  FROM e0 a JOIN e0 b ON a.o = b.o AND a.p < b.p
      |  JOIN w ON w.o = a.o
      |  GROUP BY a.p, b.p)
      |SELECT u, v, shared, adamic_adar FROM pairs
      |ORDER BY adamic_adar DESC, u, v LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q129
  /** Local clustering coefficient (reference Gelly
    * `library/clustering/undirected/LocalClusteringCoefficient.java`:
    * per vertex, 2·triangles / (deg·(deg−1)) — what fraction of a
    * vertex's neighbor pairs are themselves connected). Reuses q56's
    * workload graph AND its degree-oriented triangle plan (the
    * outdeg ≤ √(2·edges) build — per-vertex cost capped by
    * construction): each closed triangle credits its three vertices,
    * one explode + hash-agg over the q56 output; degrees come from
    * the same undirected edge set. The score is exact-integer
    * 2·nt / (d·(d−1)) — ONE division of exact integers, bit-identical
    * cross-engine, no rounding rule (the q126 device). All vertices
    * with deg ≥ 2 are emitted (nt = 0 rows included — Gelly emits
    * every vertex), ordered by node id. */
  def q129LocalClustering(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") <= TriQtyMax)
      .select((col("l_partkey") % TriMod).as("a"),
        ((col("l_suppkey") + TriShift) % TriMod).as("b"))
      .filter(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")).distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val vt = q56EnumTriangles(spark, dir)
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("nt"))
    deg.filter(col("d") >= 2)
      .join(vt, Seq("n"), "left_outer")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("nt"), lit(0L)).as("n_tri"),
        ((lit(2.0) * coalesce(col("nt"), lit(0L))) / (col("d") * (col("d") - 1))).as("lcc"))
      .orderBy(col("node"))
  }

  val q129Sql: String =
    s"""WITH raw AS (SELECT l_partkey % $TriMod AS a, (l_suppkey + $TriShift) % $TriMod AS b
       |            FROM lineitem WHERE l_quantity <= $TriQtyMax),
       |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
       |tri AS (SELECT x.u AS t1, x.v AS t2, y.v AS t3
       |        FROM e x JOIN e y ON x.u = y.u AND x.v < y.v),
       |ctri AS (SELECT t1, t2, t3 FROM tri
       |         WHERE EXISTS (SELECT 1 FROM e z WHERE z.u = tri.t2 AND z.v = tri.t3)),
       |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
       |          SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
       |vt AS (SELECT n, CAST(count(*) AS BIGINT) AS nt FROM (
       |          SELECT t1 AS n FROM ctri UNION ALL SELECT t2 FROM ctri
       |          UNION ALL SELECT t3 FROM ctri) GROUP BY n)
       |SELECT deg.n AS node, deg.d AS degree,
       |  coalesce(vt.nt, 0) AS n_tri,
       |  2.0 * coalesce(vt.nt, 0) / (deg.d * (deg.d - 1)) AS lcc
       |FROM deg LEFT JOIN vt ON deg.n = vt.n
       |WHERE deg.d >= 2
       |ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Global + average clustering coefficient (reference Gelly
    * `library/clustering/undirected/GlobalClusteringCoefficient.java`
    * — score = 3·triangles / triplets, triplets = Σ d(d−1)/2 — and
    * `AverageClusteringCoefficient.java` — vertexCount counts EVERY
    * degree-annotated vertex, the local-score sum only vertices with
    * d > 1, average = sum / vertexCount). One graded row over the
    * q56/q129 workload graph, reusing the degree-oriented triangle
    * plan. Cross-engine exactness: counts are integers; gcc is ONE
    * division of exact integers (bit-identical, the q126 device);
    * acc follows the q128 device — per-vertex scores rounded to 9
    * decimals before the sum, the aggregate rounded to 6. */
  /** The q148/q149 substrate: the per-node (degree, triangle credit)
    * frame of the q56/q129 workload graph — every clustering metric
    * and every triad-census input is a sum over it (Σnt = 3T: each
    * triangle credits exactly 3 vertices), so both graded queries are
    * ONE aggregate over this join: the triangle list, the degree
    * relation, and the joined frame are each derived and read exactly
    * once (no twice-read hazard, no checkpoint needed). */
  private def triDegCreditFrame(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") <= TriQtyMax)
      .select((col("l_partkey") % TriMod).as("a"),
        ((col("l_suppkey") + TriShift) % TriMod).as("b"))
      .filter(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")).distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val vt = q56EnumTriangles(spark, dir)
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("nt"))
    deg.join(vt, Seq("n"), "left_outer")
  }

  def q148ClusteringMetrics(spark: SparkSession, dir: String): DataFrame = {
    triDegCreditFrame(spark, dir)
      .agg(
        count(lit(1)).as("vertex_count"),
        sum(expr("(d * (d - 1)) div 2")).as("triplet_count"),
        sum(coalesce(col("nt"), lit(0L))).as("triangle_count"),
        coalesce(sum(when(col("d") >= 2,
          round((lit(2.0) * coalesce(col("nt"), lit(0L))) /
            (col("d") * (col("d") - 1)), 9))), lit(0.0)).as("lcc_sum"))
      // same degenerate-graph guards as the directed twin (q151)
      .select(col("vertex_count"), col("triplet_count"), col("triangle_count"),
        when(col("triplet_count") > 0,
          col("triangle_count").cast("double") / col("triplet_count")).as("gcc"),
        when(col("vertex_count") > 0,
          round(col("lcc_sum") / col("vertex_count"), 6)).as("acc"))
  }

  val q148Sql: String =
    s"""WITH raw AS (SELECT l_partkey % $TriMod AS a, (l_suppkey + $TriShift) % $TriMod AS b
       |            FROM lineitem WHERE l_quantity <= $TriQtyMax),
       |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
       |tri AS (SELECT x.u AS t1, x.v AS t2, y.v AS t3
       |        FROM e x JOIN e y ON x.u = y.u AND x.v < y.v),
       |ctri AS (SELECT t1, t2, t3 FROM tri
       |         WHERE EXISTS (SELECT 1 FROM e z WHERE z.u = tri.t2 AND z.v = tri.t3)),
       |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
       |          SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
       |vt AS (SELECT n, CAST(count(*) AS BIGINT) AS nt FROM (
       |          SELECT t1 AS n FROM ctri UNION ALL SELECT t2 FROM ctri
       |          UNION ALL SELECT t3 FROM ctri) GROUP BY n),
       |j AS (SELECT deg.d, coalesce(vt.nt, 0) AS nt
       |      FROM deg LEFT JOIN vt ON deg.n = vt.n),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS vertex_count,
       |             CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS triplet_count,
       |             CAST(sum(nt) AS BIGINT) AS triangle_count,
       |             coalesce(sum(CASE WHEN d >= 2
       |               THEN round(2.0 * nt / (d * (d - 1)), 9) END), 0.0) AS lcc_sum
       |      FROM j)
       |SELECT vertex_count, triplet_count, triangle_count,
       |  CAST(triangle_count AS DOUBLE) / triplet_count AS gcc,
       |  round(lcc_sum / vertex_count, 6) AS acc
       |FROM s""".stripMargin

  // ---------------------------------------------------------------- q149
  /** Undirected triadic census (reference Gelly
    * `library/clustering/undirected/TriadicCensus.java:98-120`): the
    * four undirected triad types in closed form from vertex count n,
    * edge count m, triplet count t, and triangle count T —
    * t30 = T; t21 = t − 3T; t12 = m(n−2) − 2·t21 − 3T;
    * t03 = C(n,3) − t12 − t21 − t30 (the reference's exact BigInteger
    * arithmetic, well inside Long here). Every input is a sum over
    * the SAME per-node (degree, triangle-credit) frame as q148
    * (m = Σd/2, t = Σd(d−1)/2, T = Σnt/3), so the census is the same
    * single fused aggregate — pure integers, bit-identical
    * cross-engine. */
  def q149TriadicCensus(spark: SparkSession, dir: String): DataFrame = {
    triDegCreditFrame(spark, dir)
      .agg(
        count(lit(1)).as("nv"),
        sum(expr("d")).as("sumd"),
        sum(expr("(d * (d - 1)) div 2")).as("t"),
        sum(coalesce(col("nt"), lit(0L))).as("nt3"))
      .select(col("nv"), expr("sumd div 2").as("m"), col("t"),
        expr("nt3 div 3").as("tri"))
      .select(col("nv"), col("m"), col("tri").as("t30"),
        (col("t") - col("tri") * 3).as("t21"))
      .select(col("nv"), col("t30"), col("t21"),
        (expr("m * (nv - 2)") - col("t21") * 2 - col("t30") * 3).as("t12"))
      .select(
        (expr("nv * (nv - 1) * (nv - 2) div 6")
          - col("t12") - col("t21") - col("t30")).as("t03"),
        col("t12"), col("t21"), col("t30"))
  }

  val q149Sql: String =
    s"""WITH raw AS (SELECT l_partkey % $TriMod AS a, (l_suppkey + $TriShift) % $TriMod AS b
       |            FROM lineitem WHERE l_quantity <= $TriQtyMax),
       |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
       |tri AS (SELECT x.u AS t1, x.v AS t2, y.v AS t3
       |        FROM e x JOIN e y ON x.u = y.u AND x.v < y.v),
       |ctri AS (SELECT t1, t2, t3 FROM tri
       |         WHERE EXISTS (SELECT 1 FROM e z WHERE z.u = tri.t2 AND z.v = tri.t3)),
       |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
       |          SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
       |vt AS (SELECT n, CAST(count(*) AS BIGINT) AS nt FROM (
       |          SELECT t1 AS n FROM ctri UNION ALL SELECT t2 FROM ctri
       |          UNION ALL SELECT t3 FROM ctri) GROUP BY n),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS nv,
       |             CAST(sum(deg.d) // 2 AS BIGINT) AS m,
       |             CAST(sum((deg.d * (deg.d - 1)) // 2) AS BIGINT) AS t,
       |             CAST(sum(coalesce(vt.nt, 0)) // 3 AS BIGINT) AS tri
       |      FROM deg LEFT JOIN vt ON deg.n = vt.n),
       |c AS (SELECT nv, tri AS t30, t - tri * 3 AS t21,
       |             m * (nv - 2) - (t - tri * 3) * 2 - tri * 3 AS t12
       |      FROM s)
       |SELECT CAST(nv * (nv - 1) * (nv - 2) // 6 - t12 - t21 - t30 AS BIGINT) AS t03,
       |  CAST(t12 AS BIGINT) AS t12, CAST(t21 AS BIGINT) AS t21,
       |  CAST(t30 AS BIGINT) AS t30
       |FROM c""".stripMargin

  /** (cust nation, supp nation, l_returnflag, cnt): the ≤ 25×25×3-row
    * rollup of the lineitem⋈orders⋈customer⋈supplier fact join,
    * memoized per (session, dir) so q132/q136/q137 and
    * [[PropertyGraph.nationTrade]] (q143) share ONE scan-bound
    * derivation instead of four (review finding: the fact join was
    * re-derived per query family). */
  // eager count on first build (r17 optimization): super-vertex and
  // super-edge legs both scan this rollup whose LINEAGE is the 4-table
  // fact join; a lazy persist computes that join once per leg (the
  // edgeCache rationale)
  private val tradeAggCache = new graft.engine.SessionCache((spark, dir) => {
    val df = buildTradeAgg(spark, dir)
    df.count()
    df
  })

  private[analytics] def tradeAgg(spark: SparkSession, dir: String): DataFrame =
    tradeAggCache.get(spark, dir)

  private def buildTradeAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("src"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").cast("long").as("dst"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("src"), col("dst"), col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"))
      // one cached partition (r18): the rollup is bounded by SCHEMA at
      // ≤ 25 nations × 25 × 3 flags rows at ANY scale, but the agg
      // inherits the session's full shuffle width and cached plans get
      // no AQE coalescing — every consumer job of the memo was paying
      // 32 near-empty cache partitions. coalesce, not repartition:
      // no extra shuffle, partial aggregation stays parallel.
      .coalesce(1)
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  // ---------------------------------------------------------------- q132
  /** Graph summarization (reference Gelly `library/Summarization.java`:
    * vertices grouped by value become super-vertices carrying the
    * group size; all edges between two groups with the same edge
    * value collapse to one super-edge carrying the multiplicity).
    * Domain: the nation trade graph — vertices are nations with
    * value = region, edges are one (cust_nation → supp_nation,
    * l_returnflag) per lineitem (an edge LIST, duplicates counted, as
    * Gelly's input is). Gelly picks a nondeterministic representative
    * id per group (guaranteed to be a member); we pin rep =
    * min(nationkey) — the one documented deviation, determinism over
    * arbitrariness. Output = super-edges (rep src, rep dst, edge
    * value, multiplicity) annotated with both super-vertex group
    * sizes, i.e. both halves of the algorithm in one relation.
    * Plan: lineitem⋈orders shuffles on orderkey (the only fact-fact
    * shuffle); customer/supplier/nation-rep maps broadcast; one
    * hash-agg at (5×5×7) output cardinality. */
  def q132Summarization(spark: SparkSession, dir: String): DataFrame = {
    val rep = Tables.nation(spark, dir)
      .groupBy(col("n_regionkey").as("g"))
      .agg(min(col("n_nationkey")).cast("long").as("rep"), count(lit(1)).as("sz"))
    val nm = Tables.nation(spark, dir)
      .join(broadcast(rep), col("n_regionkey") === col("g"))
      .select(col("n_nationkey").as("nk"), col("rep"), col("sz"))
    val srcMap = nm.select(col("nk").as("src"), col("rep").as("src_rep"),
      col("sz").as("src_sz"))
    val dstMap = nm.select(col("nk").as("dst"), col("rep").as("dst_rep"),
      col("sz").as("dst_sz"))
    tradeAgg(spark, dir)
      .join(broadcast(srcMap), "src").join(broadcast(dstMap), "dst")
      .groupBy(col("src_rep"), col("dst_rep"), col("l_returnflag").as("edge_value"),
        col("src_sz"), col("dst_sz"))
      .agg(sum(col("cnt")).as("edge_cnt"))
      .select(col("src_rep"), col("dst_rep"), col("edge_value"), col("edge_cnt"),
        col("src_sz").as("src_group_sz"), col("dst_sz").as("dst_group_sz"))
      .orderBy(col("src_rep"), col("dst_rep"), col("edge_value"))
  }

  val q132Sql: String =
    """WITH rep AS (SELECT n_regionkey AS g, CAST(min(n_nationkey) AS BIGINT) AS rep,
      |             CAST(count(*) AS BIGINT) AS sz FROM nation GROUP BY 1),
      |nm AS (SELECT n_nationkey AS nk, rep, sz
      |       FROM nation JOIN rep ON n_regionkey = g)
      |SELECT cm.rep AS src_rep, sm.rep AS dst_rep, l_returnflag AS edge_value,
      |  CAST(count(*) AS BIGINT) AS edge_cnt,
      |  cm.sz AS src_group_sz, sm.sz AS dst_group_sz
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nm cm ON c_nationkey = cm.nk
      |JOIN nm sm ON s_nationkey = sm.nk
      |GROUP BY cm.rep, sm.rep, l_returnflag, cm.sz, sm.sz
      |ORDER BY src_rep, dst_rep, edge_value""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Undirected vertex metrics (reference Gelly
    * `library/metric/undirected/VertexMetrics.java`: per-vertex
    * degree d contributes d(d−1)/2 triplets; the analytic emits
    * vertex count, edge count (Σd/2), triplet count, maximum degree,
    * maximum triplets). One distinct-projection of the shared
    * part↔supplier edge cache (degrees ride the cache — zero extra
    * joins) and one scalar hash-agg; all values exact integers
    * (d(d−1) is even, so /2 is exact). */
  /** Library form: undirected vertex metrics from a per-vertex degree
    * frame (`src`, `d`) — callers bring any graph's degrees (GraphSpec
    * cross-checks random graphs against a brute-force fold). Exact
    * long arithmetic throughout — `div`, not `/` (double): the
    * triplet sums exceed 2^53 long before 100 TB does. */
  def vertexMetricsFromDegrees(deg: DataFrame): DataFrame =
    deg.agg(
      count(lit(1)).as("vertex_cnt"),
      expr("sum(d) div 2").as("edge_cnt"),
      sum(expr("(d * (d - 1)) div 2")).as("triplet_cnt"),
      max(col("d")).as("max_degree"),
      max(expr("(d * (d - 1)) div 2")).as("max_triplets"))

  def q133VertexMetrics(spark: SparkSession, dir: String): DataFrame =
    vertexMetricsFromDegrees(
      edgesWithDeg(spark, dir).select(col("src"), col("d")).distinct())

  val q133Sql: String =
    s"""WITH $edgesSql
       |SELECT CAST(count(*) AS BIGINT) AS vertex_cnt,
       |  CAST(sum(d) // 2 AS BIGINT) AS edge_cnt,
       |  CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS triplet_cnt,
       |  max(d) AS max_degree,
       |  CAST(max((d * (d - 1)) // 2) AS BIGINT) AS max_triplets
       |FROM deg""".stripMargin

  // ---------------------------------------------------------------- q134
  /** Undirected edge metrics (reference Gelly
    * `library/metric/undirected/EdgeMetrics.java`): per vertex v,
    * lowCount l(v) = #incident edges where v is the degree-order-low
    * endpoint ((d(v), v) < (d(u), u) lexicographically — Gelly's
    * EdgeStats map), h = d − l; triangle triplets = l(l−1)/2,
    * rectangle triplets = l(l−1)/2 + l·h; the analytic sums and
    * maxes both over vertices. Exact integers throughout. Plan: the
    * shared edge cache joined once with its own degree projection
    * (broadcast — node cardinality) to pair (d(src), d(dst)) per
    * directed edge, one per-src hash-agg, one scalar agg. */
  /** Library form: undirected edge metrics from a degree-annotated
    * both-arcs edge frame (`src`, `dst`, `d` = deg(src)) and its
    * degree projection (`src`, `d`). */
  def edgeMetricsFromEdges(ed: DataFrame, deg: DataFrame): DataFrame = {
    val low = ed
      .join(broadcast(deg.select(col("src").as("t"), col("d").as("dt"))),
        col("dst") === col("t"))
      .groupBy(col("src"))
      .agg(sum(when(col("d") < col("dt") ||
          (col("d") === col("dt") && col("src") < col("dst")), 1L)
        .otherwise(0L)).as("l"))
    deg.join(low, "src")
      .select(col("l"), (col("d") - col("l")).as("h"))
      .agg(
        sum(expr("(l * (l - 1)) div 2")).as("triangle_triplet_cnt"),
        sum(expr("(l * (l - 1)) div 2 + l * h")).as("rectangle_triplet_cnt"),
        max(expr("(l * (l - 1)) div 2")).as("max_triangle_triplets"),
        max(expr("(l * (l - 1)) div 2 + l * h")).as("max_rectangle_triplets"))
  }

  def q134EdgeMetrics(spark: SparkSession, dir: String): DataFrame = {
    val ed = edgesWithDeg(spark, dir) // (src, dst, d = deg(src))
    edgeMetricsFromEdges(ed, ed.select(col("src"), col("d")).distinct())
  }

  val q134Sql: String =
    s"""WITH $edgesSql,
       |low AS (
       |  SELECT e.src,
       |    CAST(sum(CASE WHEN ds.d < dt.d OR (ds.d = dt.d AND e.src < e.dst)
       |        THEN 1 ELSE 0 END) AS BIGINT) AS l
       |  FROM edges e
       |  JOIN deg ds ON e.src = ds.src
       |  JOIN deg dt ON e.dst = dt.src
       |  GROUP BY e.src),
       |per_v AS (SELECT low.l AS l, deg.d - low.l AS h
       |          FROM deg JOIN low ON deg.src = low.src)
       |SELECT CAST(sum((l * (l - 1)) // 2) AS BIGINT) AS triangle_triplet_cnt,
       |  CAST(sum((l * (l - 1)) // 2 + l * h) AS BIGINT) AS rectangle_triplet_cnt,
       |  CAST(max((l * (l - 1)) // 2) AS BIGINT) AS max_triangle_triplets,
       |  CAST(max((l * (l - 1)) // 2 + l * h) AS BIGINT) AS max_rectangle_triplets
       |FROM per_v""".stripMargin

  // ------------------------------------------------------- q136 / q137
  /** Simplified nation trade DIGRAPH shared by the directed metric
    * twins: one edge per distinct (cust_nation → supp_nation) trade
    * direction, self-loops removed — Gelly's
    * `asm/simple/directed/Simplify` applied to the q132 edge list.
    * The fact join is the scan-bound term (broadcast dims, one
    * lineitem⋈orders shuffle); everything after is node-cardinality. */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    tradeAgg(spark, dir)
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()

  private val tradeSql: String =
    """trade AS (
      |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS src,
      |                  CAST(s_nationkey AS BIGINT) AS dst
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE c_nationkey <> s_nationkey),
      |tund AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM trade),
      |tdeg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
      |           SELECT u AS n FROM tund UNION ALL SELECT v AS n FROM tund) GROUP BY n)""".stripMargin

  /** Directed vertex metrics (reference Gelly
    * `library/metric/directed/VertexMetrics.java`): degree = distinct
    * NEIGHBOR count, bidirectional edges per vertex = outDeg + inDeg −
    * degree (pairs traded in both directions), triplets on the
    * neighbor degree; the analytic emits vertex / unidirectional-edge
    * / bidirectional-edge / triplet counts and the degree maxima.
    * Vertex set = edge endpoints (zero-degree nations excluded — the
    * analytic's default includeZeroDegreeVertices=false). */
  def q136DirectedVertexMetrics(spark: SparkSession, dir: String): DataFrame = {
    val trade = Iterate.measured(tradeEdges(spark, dir))
    val und = trade.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v")).distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val outd = trade.groupBy(col("src").as("n")).agg(count(lit(1)).as("od"))
    val ind = trade.groupBy(col("dst").as("n")).agg(count(lit(1)).as("id"))
    deg.join(outd, Seq("n"), "left_outer").join(ind, Seq("n"), "left_outer")
      .select(col("d"), coalesce(col("od"), lit(0L)).as("od"),
        coalesce(col("id"), lit(0L)).as("id"))
      .agg(
        count(lit(1)).as("vertex_cnt"),
        sum(expr("d - (od + id - d)")).cast("long").as("uni_edge_x2"),
        sum(expr("od + id - d")).cast("long").as("bi_edge_x2"),
        sum(expr("(d * (d - 1)) div 2")).as("triplet_cnt"),
        max(col("d")).as("max_degree"),
        max(col("od")).as("max_out_degree"),
        max(col("id")).as("max_in_degree"),
        max(expr("(d * (d - 1)) div 2")).as("max_triplets"))
      .select(col("vertex_cnt"), expr("uni_edge_x2 div 2").as("uni_edge_cnt"),
        expr("bi_edge_x2 div 2").as("bi_edge_cnt"), col("triplet_cnt"),
        col("max_degree"), col("max_out_degree"), col("max_in_degree"),
        col("max_triplets"))
  }

  val q136Sql: String =
    s"""WITH $tradeSql,
       |outd AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS od FROM trade GROUP BY src),
       |ind AS (SELECT dst AS n, CAST(count(*) AS BIGINT) AS id FROM trade GROUP BY dst),
       |pv AS (SELECT tdeg.d, coalesce(outd.od, 0) AS od, coalesce(ind.id, 0) AS id
       |       FROM tdeg LEFT JOIN outd ON tdeg.n = outd.n
       |                 LEFT JOIN ind ON tdeg.n = ind.n)
       |SELECT CAST(count(*) AS BIGINT) AS vertex_cnt,
       |  CAST(sum(d - (od + id - d)) // 2 AS BIGINT) AS uni_edge_cnt,
       |  CAST(sum(od + id - d) // 2 AS BIGINT) AS bi_edge_cnt,
       |  CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS triplet_cnt,
       |  max(d) AS max_degree, max(od) AS max_out_degree,
       |  max(id) AS max_in_degree,
       |  CAST(max((d * (d - 1)) // 2) AS BIGINT) AS max_triplets
       |FROM pv""".stripMargin

  /** Directed edge metrics (reference Gelly
    * `library/metric/directed/EdgeMetrics.java`): the EdgeStats
    * flatMap emits each simplified edge in both directions with a
    * low-order flag on the distinct-NEIGHBOR degree — i.e. the
    * undirected q134 formulas evaluated on the digraph's neighbor
    * graph. Exact integers throughout. */
  def q137DirectedEdgeMetrics(spark: SparkSession, dir: String): DataFrame = {
    val trade = Iterate.measured(tradeEdges(spark, dir))
    val und = trade.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v")).distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val udir = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
    val low = udir
      .join(broadcast(deg.select(col("n").as("a"), col("d").as("da"))), "a")
      .join(broadcast(deg.select(col("n").as("b"), col("d").as("db"))), "b")
      .groupBy(col("a"))
      .agg(sum(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), 1L)
        .otherwise(0L)).as("l"))
    deg.join(low, col("n") === col("a"))
      .select(col("l"), (col("d") - col("l")).as("h"))
      .agg(
        sum(expr("(l * (l - 1)) div 2")).as("triangle_triplet_cnt"),
        sum(expr("(l * (l - 1)) div 2 + l * h")).as("rectangle_triplet_cnt"),
        max(expr("(l * (l - 1)) div 2")).as("max_triangle_triplets"),
        max(expr("(l * (l - 1)) div 2 + l * h")).as("max_rectangle_triplets"))
  }

  val q137Sql: String =
    s"""WITH $tradeSql,
       |udir AS (SELECT u AS a, v AS b FROM tund UNION ALL SELECT v AS a, u AS b FROM tund),
       |low AS (
       |  SELECT a, CAST(sum(CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS l
       |  FROM udir
       |  JOIN tdeg da ON udir.a = da.n
       |  JOIN tdeg db ON udir.b = db.n
       |  GROUP BY a),
       |perv AS (SELECT low.l AS l, tdeg.d - low.l AS h
       |         FROM tdeg JOIN low ON tdeg.n = low.a)
       |SELECT CAST(sum((l * (l - 1)) // 2) AS BIGINT) AS triangle_triplet_cnt,
       |  CAST(sum((l * (l - 1)) // 2 + l * h) AS BIGINT) AS rectangle_triplet_cnt,
       |  CAST(max((l * (l - 1)) // 2) AS BIGINT) AS max_triangle_triplets,
       |  CAST(max((l * (l - 1)) // 2 + l * h) AS BIGINT) AS max_rectangle_triplets
       |FROM perv""".stripMargin

  // ------------------------------------------------- q150 / q151 / q152
  /** Direction-annotated unordered pairs of the trade digraph: one
    * row per neighbor pair {u < v} with `f` = edge u→v exists, `r` =
    * edge v→u exists, `nbc` = f + r (1 or 2 directed edges). The
    * substrate of the directed clustering family (reference Gelly
    * `library/clustering/directed/TriangleListing.java` tracks the
    * same per-pair direction bits through its bitmask). */
  /** Library form over ANY simple digraph edge frame (`src`, `dst`;
    * distinct, no self-loops). */
  def dirPairs(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"),
        (col("src") < col("dst")).as("isf"))
      .groupBy(col("u"), col("v"))
      .agg(max(when(col("isf"), 1L).otherwise(0L)).as("f"),
        max(when(!col("isf"), 1L).otherwise(0L)).as("r"))
      .withColumn("nbc", col("f") + col("r"))

  private def tradePairs(spark: SparkSession, dir: String): DataFrame =
    dirPairs(tradeEdges(spark, dir))

  private val tradePairsSql: String =
    """tpr AS (
      |  SELECT least(src, dst) AS u, greatest(src, dst) AS v,
      |    CAST(max(CASE WHEN src < dst THEN 1 ELSE 0 END) AS BIGINT) AS f,
      |    CAST(max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS BIGINT) AS r
      |  FROM trade GROUP BY 1, 2)""".stripMargin

  /** Triangles of the trade digraph's neighbor graph (a < b < c) with
    * all six direction bits. The nation digraph is catalog-bounded
    * (≤ 25 nodes, ≤ 300 pairs), so the plain sorted-pair join is the
    * right plan; an unbounded digraph would reuse q56's
    * degree-oriented build first. */
  def dirTriangles(p: DataFrame): DataFrame = {
    val x = p.select(col("u").as("a"), col("v").as("b"),
      col("f").as("fab"), col("r").as("rab"))
    val y = p.select(col("u").as("a2"), col("v").as("c"),
      col("f").as("fac"), col("r").as("rac"))
    val z = p.select(col("u").as("b2"), col("v").as("c2"),
      col("f").as("fbc"), col("r").as("rbc"))
    x.join(y, col("a") === col("a2") && col("b") < col("c"))
      .join(z, col("b2") === col("b") && col("c2") === col("c"))
      .select(col("a"), col("b"), col("c"), col("fab"), col("rab"),
        col("fac"), col("rac"), col("fbc"), col("rbc"))
  }

  private val tradeTrianglesSql: String =
    """ttri AS (
      |  SELECT x.u AS a, x.v AS b, y.v AS c,
      |    x.f AS fab, x.r AS rab, y.f AS fac, y.r AS rac,
      |    z.f AS fbc, z.r AS rbc
      |  FROM tpr x JOIN tpr y ON x.u = y.u AND x.v < y.v
      |  JOIN tpr z ON z.u = x.v AND z.v = y.v)""".stripMargin

  // ---------------------------------------------------------------- q154
  /** Directed triangle listing (reference Gelly
    * `library/clustering/directed/TriangleListing.java`): each
    * triangle of the neighbor graph once (a < b < c) with all six
    * direction flags — the reference's 6-bit bitmask as explicit
    * columns (fab = a→b exists, rab = b→a, …), which is the same
    * information without the internal bit-packing. */
  def q154DirectedTriangleListing(spark: SparkSession, dir: String): DataFrame =
    // the pair frame feeds all three legs of the triangle self-join —
    // materialize it once instead of re-deriving the trade rollup 3x
    dirTriangles(Iterate.measured(tradePairs(spark, dir)))
      .orderBy(col("a"), col("b"), col("c"))

  val q154Sql: String =
    s"""WITH $tradeSql,
       |$tradePairsSql,
       |$tradeTrianglesSql
       |SELECT a, b, c, fab, rab, fac, rac, fbc, rbc FROM ttri
       |ORDER BY a, b, c""".stripMargin

  /** Directed local clustering coefficient (reference Gelly
    * `library/clustering/directed/LocalClusteringCoefficient.java`):
    * per vertex, the number of DIRECTED edges between its neighbors
    * (each triangle credits a corner with the 1 or 2 directed edges
    * of the opposite pair — the reference's SplitTriangles bitmask
    * test) divided by d(d−1) ordered neighbor pairs, d = distinct
    * neighbors. Vertices with d ≥ 2 emitted (the reference scores
    * d ≤ 1 as NaN, which has no cross-engine encoding). Exact-integer
    * one-division score. */
  /** Shared substrate of the directed clustering family: the pair
    * frame, its triangle frame, the per-vertex directed-edge credits,
    * and the distinct-neighbor degree frame. */
  private def dirCreditFrames(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // p feeds the 3-way triangle self-join plus deg's two projections
    // (~5 reads) and tri feeds the three credit projections plus
    // q151's triangle count (4 reads) — both are genuinely multi-read
    // lineage, so materialize each ONCE (the twice-read rule; the
    // un-materialized variant re-derived p ~9x across the family)
    val p = Iterate.measured(dirPairs(edges))
    val tri = Iterate.measured(dirTriangles(p))
    val credits = tri.select(col("a").as("n"), (col("fbc") + col("rbc")).as("cr"))
      .union(tri.select(col("b").as("n"), (col("fac") + col("rac")).as("cr")))
      .union(tri.select(col("c").as("n"), (col("fab") + col("rab")).as("cr")))
      .groupBy(col("n")).agg(sum(col("cr")).as("tc"))
    val deg = p.select(col("u").as("n")).union(p.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    (p, tri, credits, deg)
  }

  /** Library form over any simple digraph edge frame. */
  def directedLocalClusteringFromEdges(edges: DataFrame): DataFrame = {
    val (_, _, credits, deg) = dirCreditFrames(edges)
    deg.filter(col("d") >= 2)
      .join(credits, Seq("n"), "left_outer")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("tc"), lit(0L)).as("tri_edges"),
        (coalesce(col("tc"), lit(0L)).cast("double") /
          (col("d") * (col("d") - 1))).as("lcc"))
      .orderBy(col("node"))
  }

  def q150DirectedLocalClustering(spark: SparkSession, dir: String): DataFrame =
    directedLocalClusteringFromEdges(tradeEdges(spark, dir))

  val q150Sql: String =
    s"""WITH $tradeSql,
       |$tradePairsSql,
       |$tradeTrianglesSql,
       |cr AS (SELECT n, CAST(sum(c) AS BIGINT) AS tc FROM (
       |    SELECT a AS n, fbc + rbc AS c FROM ttri
       |    UNION ALL SELECT b, fac + rac FROM ttri
       |    UNION ALL SELECT c, fab + rab FROM ttri) GROUP BY n),
       |pdeg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT u AS n FROM tpr UNION ALL SELECT v FROM tpr) GROUP BY n)
       |SELECT pdeg.n AS node, pdeg.d AS degree,
       |  coalesce(cr.tc, 0) AS tri_edges,
       |  CAST(coalesce(cr.tc, 0) AS DOUBLE) / (pdeg.d * (pdeg.d - 1)) AS lcc
       |FROM pdeg LEFT JOIN cr ON pdeg.n = cr.n
       |WHERE pdeg.d >= 2
       |ORDER BY node""".stripMargin

  /** Directed global + average clustering coefficient (reference
    * Gelly `library/clustering/directed/GlobalClusteringCoefficient
    * .java` — 3·listed-triangles / triplets on the DIRECTED vertex
    * metrics — and `AverageClusteringCoefficient.java` — vertexCount
    * over all degree-annotated vertices, directed local scores summed
    * for d > 1 only). Same rounding devices as q148. */
  /** Library form over any simple digraph edge frame. The lcc sum
    * coalesces to 0 so a graph with no d ≥ 2 vertex averages 0.0
    * (Gelly's empty-sum helper), not NULL. */
  def directedClusteringMetricsFromEdges(edges: DataFrame): DataFrame = {
    val (_, tri, credits, deg) = dirCreditFrames(edges)
    val triCount = tri.agg((count(lit(1)) * 3).as("triangle_count"))
    deg.join(credits, Seq("n"), "left_outer")
      .agg(
        count(lit(1)).as("vertex_count"),
        sum(expr("(d * (d - 1)) div 2")).as("triplet_count"),
        coalesce(sum(when(col("d") >= 2,
          round(coalesce(col("tc"), lit(0L)).cast("double") /
            (col("d") * (col("d") - 1)), 9))), lit(0.0)).as("lcc_sum"))
      .crossJoin(triCount)
      // degenerate-graph guards (library form over arbitrary frames;
      // ANSI mode makes an unguarded 0-divisor a runtime error, not
      // a NULL): no triplets -> gcc NULL (Gelly's NaN, encodable),
      // no vertices -> acc NULL. The graded digraph has both > 0, so
      // the oracle is unchanged.
      .select(col("vertex_count"), col("triplet_count"), col("triangle_count"),
        when(col("triplet_count") > 0,
          col("triangle_count").cast("double") / col("triplet_count")).as("gcc"),
        when(col("vertex_count") > 0,
          round(col("lcc_sum") / col("vertex_count"), 6)).as("acc"))
  }

  def q151DirectedClusteringMetrics(spark: SparkSession, dir: String): DataFrame =
    directedClusteringMetricsFromEdges(tradeEdges(spark, dir))

  val q151Sql: String =
    s"""WITH $tradeSql,
       |$tradePairsSql,
       |$tradeTrianglesSql,
       |cr AS (SELECT n, CAST(sum(c) AS BIGINT) AS tc FROM (
       |    SELECT a AS n, fbc + rbc AS c FROM ttri
       |    UNION ALL SELECT b, fac + rac FROM ttri
       |    UNION ALL SELECT c, fab + rab FROM ttri) GROUP BY n),
       |pdeg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT u AS n FROM tpr UNION ALL SELECT v FROM tpr) GROUP BY n),
       |tc3 AS (SELECT CAST(3 * count(*) AS BIGINT) AS triangle_count FROM ttri),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS vertex_count,
       |             CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS triplet_count,
       |             coalesce(sum(CASE WHEN d >= 2 THEN
       |               round(CAST(coalesce(cr.tc, 0) AS DOUBLE) / (d * (d - 1)), 9)
       |             END), 0.0) AS lcc_sum
       |      FROM pdeg LEFT JOIN cr ON pdeg.n = cr.n)
       |SELECT s.vertex_count, s.triplet_count, tc3.triangle_count,
       |  CAST(tc3.triangle_count AS DOUBLE) / s.triplet_count AS gcc,
       |  round(s.lcc_sum / s.vertex_count, 6) AS acc
       |FROM s, tc3""".stripMargin

  // ---------------------------------------------------------------- q152
  /** Directed triadic census (reference Gelly
    * `library/clustering/directed/TriadicCensus.java:82-184`): the 16
    * directed triad types. Triangle types classify each q150-family
    * triangle by its bidirectional-pair count and the orientation of
    * the unidirectional edges against the off-pair vertex (the
    * semantics the reference encodes as the Batagelj-Mrvar bitmask
    * type table); open-triplet types come from each vertex's
    * (uni-source, uni-target, bidirectional) neighbor splits (the
    * reference's VertexDegreesHelper products); the 1- and 0-edge
    * types close in the reference's exact subtraction cascade. All
    * integer arithmetic — bit-identical cross-engine. Output columns
    * follow the reference Result order (003 … 300). */
  /** Library form over any simple digraph edge frame. */
  def directedTriadicCensusFromEdges(edges: DataFrame): DataFrame = {
    // p feeds the triangle self-join (3 reads) plus deg's two
    // projections — materialize once (callers checkpoint `edges`
    // separately: it still feeds outd/ind/dirPairs directly)
    val p = Iterate.measured(dirPairs(edges))
    val deg = p.select(col("u").as("n")).union(p.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val outd = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("od"))
    val ind = edges.groupBy(col("dst").as("n")).agg(count(lit(1)).as("id"))
    val vagg = deg
      .join(outd, Seq("n"), "left_outer").join(ind, Seq("n"), "left_outer")
      .select(col("d"), (col("d") - coalesce(col("id"), lit(0L))).as("us"),
        (col("d") - coalesce(col("od"), lit(0L))).as("ut"),
        (coalesce(col("od"), lit(0L)) + coalesce(col("id"), lit(0L)) - col("d")).as("bi"))
      .agg(
        count(lit(1)).as("vc"),
        sum(expr("us + ut")).as("uec2"),
        sum(col("bi")).as("bec2"),
        sum(expr("(us * (us - 1)) div 2")).as("p021d"),
        sum(expr("(ut * (ut - 1)) div 2")).as("p021u"),
        sum(expr("us * ut")).as("p021c"),
        sum(expr("ut * bi")).as("p111d"),
        sum(expr("us * bi")).as("p111u"),
        sum(expr("(bi * (bi - 1)) div 2")).as("p201"))
      .select(col("vc"), expr("uec2 div 2").as("uec"),
        expr("bec2 div 2").as("bec"), col("p021d"), col("p021u"),
        col("p021c"), col("p111d"), col("p111u"), col("p201"))
    val biCnt = col("fab") * col("rab") + col("fac") * col("rac") +
      col("fbc") * col("rbc")
    val triType =
      when(biCnt === 3, "300")
        .when(biCnt === 2, "210")
        .when(biCnt === 1,
          when(col("fab") * col("rab") === 1, // bi pair {a,b}, z = c
            when(col("rac") === 1 && col("rbc") === 1, "120d")
              .when(col("fac") === 1 && col("fbc") === 1, "120u")
              .otherwise("120c"))
            .when(col("fac") * col("rac") === 1, // bi pair {a,c}, z = b
              when(col("rab") === 1 && col("fbc") === 1, "120d")
                .when(col("fab") === 1 && col("rbc") === 1, "120u")
                .otherwise("120c"))
            .otherwise( // bi pair {b,c}, z = a
              when(col("fab") === 1 && col("fac") === 1, "120d")
                .when(col("rab") === 1 && col("rac") === 1, "120u")
                .otherwise("120c")))
        .otherwise( // three unidirectional edges: cycle or transitive
          when((col("fab") === 1 && col("fbc") === 1 && col("rac") === 1) ||
            (col("rab") === 1 && col("rbc") === 1 && col("fac") === 1), "030c")
            .otherwise("030t"))
    // coalesce: sum over an EMPTY relation is NULL in Spark, and a
    // triangle-free digraph is a legal input to this library form —
    // NULL here would poison every downstream cascade subtraction
    def cnt(ty: String) =
      coalesce(sum(when(col("tt") === ty, 1L).otherwise(0L)), lit(0L))
    val tagg = dirTriangles(p)
      .select(triType.as("tt"))
      .agg(cnt("030t").as("n030t"), cnt("030c").as("n030c"),
        cnt("120d").as("n120d"), cnt("120u").as("n120u"),
        cnt("120c").as("n120c"), cnt("210").as("n210"),
        cnt("300").as("n300"))
    vagg.crossJoin(tagg)
      .select(col("*"),
        (col("p201") - col("n300") * 3 - col("n210")).as("t201"),
        (col("p111d") - col("n210") - col("n120c") - col("n120d") * 2).as("t111d"),
        (col("p111u") - col("n210") - col("n120c") - col("n120u") * 2).as("t111u"),
        (col("p021c") - col("n120c") - col("n030c") * 3 - col("n030t")).as("t021c"),
        (col("p021u") - col("n120u") - col("n030t")).as("t021u"),
        (col("p021d") - col("n120d") - col("n030t")).as("t021d"))
      .select(col("*"),
        (col("bec") * (col("vc") - 2) - col("t111d") - col("t111u")
          - col("t201") * 2 - col("n120d") - col("n120u") - col("n120c")
          - col("n210") * 2 - col("n300") * 3).as("t102"),
        (col("uec") * (col("vc") - 2)
          - (col("t021d") + col("t021u") + col("t021c")) * 2
          - col("t111d") - col("t111u") - col("n030t") * 3 - col("n030c") * 3
          - (col("n120d") + col("n120u") + col("n120c")) * 2
          - col("n210")).as("t012"))
      .select(
        (expr("vc * (vc - 1) * (vc - 2) div 6") - col("t012") - col("t102")
          - col("t021d") - col("t021u") - col("t021c") - col("t111d")
          - col("t111u") - col("n030t") - col("n030c") - col("t201")
          - col("n120d") - col("n120u") - col("n120c") - col("n210")
          - col("n300")).as("t003"),
        col("t012"), col("t102"), col("t021d"), col("t021u"), col("t021c"),
        col("t111d"), col("t111u"), col("n030t").as("t030t"),
        col("n030c").as("t030c"), col("t201"), col("n120d").as("t120d"),
        col("n120u").as("t120u"), col("n120c").as("t120c"),
        col("n210").as("t210"), col("n300").as("t300"))
  }

  def q152DirectedTriadicCensus(spark: SparkSession, dir: String): DataFrame =
    directedTriadicCensusFromEdges(Iterate.measured(tradeEdges(spark, dir)))

  val q152Sql: String =
    s"""WITH $tradeSql,
       |$tradePairsSql,
       |$tradeTrianglesSql,
       |pdeg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT u AS n FROM tpr UNION ALL SELECT v FROM tpr) GROUP BY n),
       |outd AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS od FROM trade GROUP BY src),
       |ind AS (SELECT dst AS n, CAST(count(*) AS BIGINT) AS id FROM trade GROUP BY dst),
       |pv AS (SELECT pdeg.d AS d,
       |         pdeg.d - coalesce(ind.id, 0) AS us,
       |         pdeg.d - coalesce(outd.od, 0) AS ut,
       |         coalesce(outd.od, 0) + coalesce(ind.id, 0) - pdeg.d AS bi
       |       FROM pdeg LEFT JOIN outd ON pdeg.n = outd.n
       |                 LEFT JOIN ind ON pdeg.n = ind.n),
       |vagg AS (SELECT CAST(count(*) AS BIGINT) AS vc,
       |           CAST(sum(us + ut) // 2 AS BIGINT) AS uec,
       |           CAST(sum(bi) // 2 AS BIGINT) AS bec,
       |           CAST(sum((us * (us - 1)) // 2) AS BIGINT) AS p021d,
       |           CAST(sum((ut * (ut - 1)) // 2) AS BIGINT) AS p021u,
       |           CAST(sum(us * ut) AS BIGINT) AS p021c,
       |           CAST(sum(ut * bi) AS BIGINT) AS p111d,
       |           CAST(sum(us * bi) AS BIGINT) AS p111u,
       |           CAST(sum((bi * (bi - 1)) // 2) AS BIGINT) AS p201
       |         FROM pv),
       |tt AS (SELECT CASE
       |    WHEN fab * rab + fac * rac + fbc * rbc = 3 THEN '300'
       |    WHEN fab * rab + fac * rac + fbc * rbc = 2 THEN '210'
       |    WHEN fab * rab + fac * rac + fbc * rbc = 1 THEN
       |      CASE WHEN fab * rab = 1 THEN
       |             CASE WHEN rac = 1 AND rbc = 1 THEN '120d'
       |                  WHEN fac = 1 AND fbc = 1 THEN '120u'
       |                  ELSE '120c' END
       |           WHEN fac * rac = 1 THEN
       |             CASE WHEN rab = 1 AND fbc = 1 THEN '120d'
       |                  WHEN fab = 1 AND rbc = 1 THEN '120u'
       |                  ELSE '120c' END
       |           ELSE
       |             CASE WHEN fab = 1 AND fac = 1 THEN '120d'
       |                  WHEN rab = 1 AND rac = 1 THEN '120u'
       |                  ELSE '120c' END END
       |    WHEN (fab = 1 AND fbc = 1 AND rac = 1)
       |      OR (rab = 1 AND rbc = 1 AND fac = 1) THEN '030c'
       |    ELSE '030t' END AS t FROM ttri),
       |tagg AS (SELECT
       |    CAST(coalesce(sum(CASE WHEN t = '030t' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n030t,
       |    CAST(coalesce(sum(CASE WHEN t = '030c' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n030c,
       |    CAST(coalesce(sum(CASE WHEN t = '120d' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n120d,
       |    CAST(coalesce(sum(CASE WHEN t = '120u' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n120u,
       |    CAST(coalesce(sum(CASE WHEN t = '120c' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n120c,
       |    CAST(coalesce(sum(CASE WHEN t = '210' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n210,
       |    CAST(coalesce(sum(CASE WHEN t = '300' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n300
       |  FROM tt),
       |c1 AS (SELECT vagg.*, tagg.*,
       |    p201 - n300 * 3 - n210 AS t201,
       |    p111d - n210 - n120c - n120d * 2 AS t111d,
       |    p111u - n210 - n120c - n120u * 2 AS t111u,
       |    p021c - n120c - n030c * 3 - n030t AS t021c,
       |    p021u - n120u - n030t AS t021u,
       |    p021d - n120d - n030t AS t021d
       |  FROM vagg, tagg),
       |c2 AS (SELECT c1.*,
       |    bec * (vc - 2) - t111d - t111u - t201 * 2 - n120d - n120u
       |      - n120c - n210 * 2 - n300 * 3 AS t102,
       |    uec * (vc - 2) - (t021d + t021u + t021c) * 2 - t111d - t111u
       |      - n030t * 3 - n030c * 3 - (n120d + n120u + n120c) * 2
       |      - n210 AS t012
       |  FROM c1)
       |SELECT CAST(vc * (vc - 1) * (vc - 2) // 6 - t012 - t102 - t021d
       |    - t021u - t021c - t111d - t111u - n030t - n030c - t201
       |    - n120d - n120u - n120c - n210 - n300 AS BIGINT) AS t003,
       |  t012, t102, t021d, t021u, t021c, t111d, t111u,
       |  n030t AS t030t, n030c AS t030c, t201, n120d AS t120d,
       |  n120u AS t120u, n120c AS t120c, n210 AS t210, n300 AS t300
       |FROM c2""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Simple top projection of a bipartite graph (reference Gelly
    * `bipartite/BipartiteGraph.java:127 projectionTopSimple` +
    * `ProjectionTopSimple`): self-join the bipartite edge list on the
    * bottom vertex; one projected edge per (top₁, top₂, shared
    * bottom) with BOTH original edge values carried, ordered pairs in
    * both directions, t₁ ≠ t₂ — exactly the FlatJoinFunction's
    * output. Domain: top = parts, bottom = orders, edge value =
    * min line quantity of the (part, order) pair (min is exact
    * cross-engine; the basket-bounded q126 domain, linear at any
    * scale). Graded over the deterministic `o % 97 = 0` order subset
    * so the full projection edge list is output-bounded while the
    * operator itself is exercised verbatim. */
  /** Full bottom projection of the bipartite graph (reference Gelly
    * `bipartite/BipartiteGraph.java:281 projectionBottomFull` +
    * `Projection.java`): one edge per (bottom₁, bottom₂, shared top)
    * carrying the full 6-tuple payload — connecting TOP vertex id and
    * value, both BOTTOM vertex values, both bipartite edge values.
    * Domain: bottom = orders (value o_totalprice), top = parts
    * (value p_retailprice), edge value = min line quantity; graded
    * over the deterministic `p % 499 = 0` part subset so the pair
    * expansion stays output-bounded (a full projection is quadratic
    * in the top-vertex degree BY DEFINITION — the reference has the
    * same property; production use prefixes a degree cap). Values
    * pass through unchanged (no arithmetic), so doubles are
    * bit-identical cross-engine. */
  /** The graded bipartite edge domain: `(t = part, b = order, ev =
    * min line quantity)` over a deterministic key subset (q158/q159
    * use `l_partkey % 499`, q139/q160 `l_orderkey % 97` — both keep
    * the pair expansion output-bounded). */
  private def bipartiteEdges(spark: SparkSession, dir: String,
      subsetKey: String, modulus: Int): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col(subsetKey) % modulus === 0)
      .groupBy(col("l_partkey").as("t"), col("l_orderkey").as("b"))
      .agg(min(col("l_quantity")).as("ev"))

  /** Vertex values for the full projections: part values = retail
    * price (catalog-sized → broadcast-tagged), order values = total
    * price. Built only by the full-projection callers. */
  private def bipartiteVertexValues(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = (
    broadcast(Tables.part(spark, dir)
      .select(col("p_partkey").as("t"), col("p_retailprice").as("tv"))),
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("b"), col("o_totalprice").as("bv")))

  def q158BipartiteBottomFull(spark: SparkSession, dir: String): DataFrame = {
    val e = bipartiteEdges(spark, dir, "l_partkey", 499)
    val (parts, orders) = bipartiteVertexValues(spark, dir)
    Bipartite.projectionBottomFull(e, parts, orders)
      .select(col("b1"), col("b2"), col("shared").as("shared_part"),
        col("shared_value").as("part_value"), col("bv1"), col("bv2"),
        col("ev1"), col("ev2"))
      .orderBy(col("b1"), col("b2"), col("shared_part"))
  }

  val q158Sql: String =
    """WITH e AS (
      |  SELECT l_partkey AS t, l_orderkey AS o, min(l_quantity) AS ev
      |  FROM lineitem WHERE l_partkey % 499 = 0
      |  GROUP BY l_partkey, l_orderkey),
      |ann AS (
      |  SELECT e.t, e.o, e.ev, p.p_retailprice AS tv, ord.o_totalprice AS ov
      |  FROM e JOIN part p ON e.t = p.p_partkey
      |         JOIN orders ord ON e.o = ord.o_orderkey)
      |SELECT a.o AS b1, b.o AS b2, a.t AS shared_part,
      |  a.tv AS part_value, a.ov AS bv1, b.ov AS bv2,
      |  a.ev AS ev1, b.ev AS ev2
      |FROM ann a JOIN ann b ON a.t = b.t AND a.o <> b.o
      |ORDER BY b1, b2, shared_part""".stripMargin

  def q139BipartiteProjection(spark: SparkSession, dir: String): DataFrame = {
    val e = bipartiteEdges(spark, dir, "l_orderkey", 97)
    Bipartite.projectionTopSimple(e)
      .withColumnRenamed("shared", "shared_order")
      .orderBy(col("u"), col("v"), col("shared_order"))
  }

  // ------------------------------------------------- q159 / q160
  /** Simple bottom projection (reference Gelly
    * `bipartite/BipartiteGraph.java:255 projectionBottomSimple`):
    * orders connected by a shared part, both edge values carried —
    * the q158 domain through the mirror library form (same `% 499`
    * part subset keeps the pair expansion output-bounded). */
  def q159BipartiteBottomSimple(spark: SparkSession, dir: String): DataFrame = {
    val e = bipartiteEdges(spark, dir, "l_partkey", 499)
    Bipartite.projectionBottomSimple(e)
      .select(col("u").as("b1"), col("v").as("b2"),
        col("shared").as("shared_part"), col("ev1"), col("ev2"))
      .orderBy(col("b1"), col("b2"), col("shared_part"))
  }

  val q159Sql: String =
    """WITH e AS (
      |  SELECT l_partkey AS t, l_orderkey AS o, min(l_quantity) AS ev
      |  FROM lineitem WHERE l_partkey % 499 = 0
      |  GROUP BY l_partkey, l_orderkey)
      |SELECT a.o AS b1, b.o AS b2, a.t AS shared_part,
      |  a.ev AS ev1, b.ev AS ev2
      |FROM e a JOIN e b ON a.t = b.t AND a.o <> b.o
      |ORDER BY b1, b2, shared_part""".stripMargin

  /** Full top projection (reference Gelly
    * `bipartite/BipartiteGraph.java:268 projectionTopFull`): parts
    * connected by a shared order, carrying the full Projection
    * payload — connecting order id and total price, both part retail
    * prices, both min-quantity edge values. The q139 domain (`% 97`
    * order subset) through the mirror library form; values pass
    * through unchanged, so doubles stay bit-identical cross-engine. */
  def q160BipartiteTopFull(spark: SparkSession, dir: String): DataFrame = {
    val e = bipartiteEdges(spark, dir, "l_orderkey", 97)
    val (parts, orders) = bipartiteVertexValues(spark, dir)
    Bipartite.projectionTopFull(e, parts, orders)
      .select(col("u"), col("v"), col("shared").as("shared_order"),
        col("shared_value").as("order_value"), col("tv1"), col("tv2"),
        col("ev1"), col("ev2"))
      .orderBy(col("u"), col("v"), col("shared_order"))
  }

  val q160Sql: String =
    """WITH e AS (
      |  SELECT l_partkey AS t, l_orderkey AS o, min(l_quantity) AS ev
      |  FROM lineitem WHERE l_orderkey % 97 = 0
      |  GROUP BY l_partkey, l_orderkey),
      |ann AS (
      |  SELECT e.t, e.o, e.ev, p.p_retailprice AS tv, ord.o_totalprice AS ov
      |  FROM e JOIN part p ON e.t = p.p_partkey
      |         JOIN orders ord ON e.o = ord.o_orderkey)
      |SELECT a.t AS u, b.t AS v, a.o AS shared_order, a.ov AS order_value,
      |  a.tv AS tv1, b.tv AS tv2, a.ev AS ev1, b.ev AS ev2
      |FROM ann a JOIN ann b ON a.o = b.o AND a.t <> b.t
      |ORDER BY u, v, shared_order""".stripMargin

  val q139Sql: String =
    """WITH e AS (
      |  SELECT l_partkey AS t, l_orderkey AS o, min(l_quantity) AS ev
      |  FROM lineitem WHERE l_orderkey % 97 = 0
      |  GROUP BY l_partkey, l_orderkey)
      |SELECT a.t AS u, b.t AS v, a.o AS shared_order,
      |  a.ev AS ev1, b.ev AS ev2
      |FROM e a JOIN e b ON a.o = b.o AND a.t <> b.t
      |ORDER BY u, v, shared_order""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q139_bipartite_projection" -> (q139BipartiteProjection _),
    "q136_directed_vertex_metrics" -> (q136DirectedVertexMetrics _),
    "q137_directed_edge_metrics" -> (q137DirectedEdgeMetrics _),
    "q132_summarization" -> (q132Summarization _),
    "q133_vertex_metrics" -> (q133VertexMetrics _),
    "q134_edge_metrics" -> (q134EdgeMetrics _),
    "q125_hits" -> (q125Hits _),
    "q126_jaccard_index" -> (q126JaccardIndex _),
    "q124_label_propagation" -> (q124LabelPropagation _),
    "q128_adamic_adar" -> (q128AdamicAdar _),
    "q129_local_clustering" -> (q129LocalClustering _),
    "q148_clustering_metrics" -> (q148ClusteringMetrics _),
    "q149_triadic_census" -> (q149TriadicCensus _),
    "q150_directed_local_clustering" -> (q150DirectedLocalClustering _),
    "q151_directed_clustering_metrics" -> (q151DirectedClusteringMetrics _),
    "q152_directed_triadic_census" -> (q152DirectedTriadicCensus _),
    "q154_directed_triangle_listing" -> (q154DirectedTriangleListing _),
    "q158_bipartite_bottom_full" -> (q158BipartiteBottomFull _),
    "q159_bipartite_bottom_simple" -> (q159BipartiteBottomSimple _),
    "q160_bipartite_top_full" -> (q160BipartiteTopFull _),
    "q131_community_detection" -> (q131CommunityDetection _),
    "q41_pagerank" -> (q41PageRank _),
    "q163_library_pagerank" -> (q163LibraryPagerank _),
    "q42_connected_components" -> (q42ConnectedComponents _),
    "q56_enum_triangles" -> (q56EnumTriangles _),
    "q57_transitive_closure" -> (q57TransitiveClosure _),
    "q119_sssp" -> (q119Sssp _))

  def oracles: Map[String, String] = Map(
    "q139_bipartite_projection" -> q139Sql,
    "q136_directed_vertex_metrics" -> q136Sql,
    "q137_directed_edge_metrics" -> q137Sql,
    "q132_summarization" -> q132Sql,
    "q133_vertex_metrics" -> q133Sql,
    "q134_edge_metrics" -> q134Sql,
    "q125_hits" -> q125Sql,
    "q126_jaccard_index" -> q126Sql,
    "q124_label_propagation" -> q124Sql,
    "q128_adamic_adar" -> q128Sql,
    "q129_local_clustering" -> q129Sql,
    "q148_clustering_metrics" -> q148Sql,
    "q149_triadic_census" -> q149Sql,
    "q150_directed_local_clustering" -> q150Sql,
    "q151_directed_clustering_metrics" -> q151Sql,
    "q152_directed_triadic_census" -> q152Sql,
    "q154_directed_triangle_listing" -> q154Sql,
    "q158_bipartite_bottom_full" -> q158Sql,
    "q159_bipartite_bottom_simple" -> q159Sql,
    "q160_bipartite_top_full" -> q160Sql,
    "q131_community_detection" -> q131Sql,
    "q41_pagerank" -> q41Sql,
    "q163_library_pagerank" -> q163Sql,
    "q42_connected_components" -> q42Sql,
    "q56_enum_triangles" -> q56Sql,
    "q57_transitive_closure" -> q57Sql,
    "q119_sssp" -> q119Sql)
}
