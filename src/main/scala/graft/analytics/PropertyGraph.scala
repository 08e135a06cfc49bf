package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Iterate
import graft.sources.Tables

/** The Gelly `Graph` API facade (reference
  * `flink-gelly/src/main/java/org/apache/flink/graph/Graph.java`:
  * mapVertices/mapEdges, subgraph/filterOnVertices/filterOnEdges,
  * joinWithVertices, (in/out)degrees, numberOfVertices/Edges,
  * getTriplets, reduceOnNeighbors, reverse, getUndirected) as a thin
  * value class over two DataFrames — vertices `(id, value)` and
  * directed edges `(src, dst, value)`.
  *
  * Every method is a declarative projection/join/agg, so the facade
  * adds ZERO execution machinery: Catalyst sees through it, pushdown
  * and pruning work unchanged, and any method's result composes with
  * the rest of the engine (the graded q143 drives a
  * subgraph → degrees → join pipeline through it end-to-end against
  * a DuckDB oracle; GraphSpec covers the rest one by one).
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {

  /** Gelly mapVertices: rewrite the vertex value. */
  def mapVertices(f: Column => Column): PropertyGraph =
    copy(vertices = vertices.select(col("id"), f(col("value")).as("value")))

  /** Gelly mapEdges: rewrite the edge value. */
  def mapEdges(f: Column => Column): PropertyGraph =
    copy(edges = edges.select(col("src"), col("dst"), f(col("value")).as("value")))

  /** Gelly subgraph(vertexPred, edgePred): keep passing vertices,
    * then edges whose BOTH endpoints survive AND that pass the edge
    * predicate (Gelly's order of application). */
  def subgraph(vertexPred: Column, edgePred: Column): PropertyGraph = {
    val vs = vertices.filter(vertexPred)
    val keep = vs.select(col("id"))
    val es = edges.filter(edgePred)
      .join(broadcast(keep.withColumnRenamed("id", "src")), "src")
      .join(broadcast(keep.withColumnRenamed("id", "dst")), "dst")
      .select(col("src"), col("dst"), col("value"))
    PropertyGraph(vs, es)
  }

  def filterOnVertices(vertexPred: Column): PropertyGraph =
    subgraph(vertexPred, lit(true))

  def filterOnEdges(edgePred: Column): PropertyGraph =
    copy(edges = edges.filter(edgePred))

  /** Gelly joinWithVertices: merge an (id, input) frame into the
    * vertex values with `f(value, input)`; unmatched vertices keep
    * their value (Gelly's semantics). */
  def joinWithVertices(input: DataFrame, f: (Column, Column) => Column): PropertyGraph =
    copy(vertices = vertices
      .join(input.withColumnRenamed("id", "__jid"), col("id") === col("__jid"), "left_outer")
      .select(col("id"),
        when(col("__jid").isNotNull, f(col("value"), col("input")))
          .otherwise(col("value")).as("value")))

  /** Gelly outDegrees / inDegrees / getDegrees — zero-degree vertices
    * included (Gelly emits every vertex). */
  def outDegrees: DataFrame =
    vertices.join(edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))

  def inDegrees: DataFrame =
    vertices.join(edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("deg")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))

  def degrees: DataFrame = {
    val both = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    vertices.join(both, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
  }

  def numberOfVertices: Long = vertices.count()
  def numberOfEdges: Long = edges.count()

  /** Gelly getTriplets: (src, src value, dst, dst value, edge value). */
  def triplets: DataFrame =
    edges
      .join(vertices.select(col("id").as("src"), col("value").as("src_value")), "src")
      .join(vertices.select(col("id").as("dst"), col("value").as("dst_value")), "dst")
      .select(col("src"), col("src_value"), col("dst"), col("dst_value"), col("value"))

  /** Gelly reduceOnNeighbors(SUM/MIN/MAX, IN/OUT/ALL): aggregate the
    * NEIGHBOR VALUES per vertex. `direction` ∈ in | out | all. */
  def reduceOnNeighbors(agg: Column => Column, direction: String): DataFrame = {
    val pairs = direction match {
      case "out" => edges.select(col("src").as("id"), col("dst").as("nbr"))
      case "in"  => edges.select(col("dst").as("id"), col("src").as("nbr"))
      case _ => edges.select(col("src").as("id"), col("dst").as("nbr"))
        .union(edges.select(col("dst").as("id"), col("src").as("nbr")))
    }
    pairs.join(vertices.select(col("id").as("nbr"), col("value")), "nbr")
      .groupBy(col("id")).agg(agg(col("value")).as("agg_value"))
  }

  /** Gelly `runScatterGatherIteration` (reference
    * flink-gelly/.../spargel/ScatterGatherIteration.java): per
    * superstep, `scatter(edges, states)` derives a message frame and
    * `gather(states, messages)` folds it into the next state frame.
    * The substrate is the same [[graft.engine.Iterate.loopDF]]
    * driver loop every library algorithm rides (per-superstep
    * materialization — the state is read by both the scatter join
    * and the gather merge, the twice-read rule), so a user-supplied
    * vertex program gets the exact posture of the graded q41/q42:
    * broadcast-sized states, partial-aggregated messages, persisted
    * edges. GraphSpec re-derives connected components through it and
    * pins equality with [[Graph.connectedComponentsFromEdges]]. */
  def scatterGatherIteration(states0: DataFrame, iters: Int)(
      scatter: (DataFrame, DataFrame) => DataFrame,
      gather: (DataFrame, DataFrame) => DataFrame): DataFrame =
    Iterate.loopDF(Iterate.measured(states0), iters) { (st, _) =>
      gather(st, scatter(edges, st))
    }

  /** Gelly `runGatherSumApplyIteration` (reference flink-gelly
    * gsa/GatherSumApplyIteration.java; Graph.java:1778): per
    * superstep, `gatherSum(triplet-frame, states)` maps each
    * state-annotated edge to a partial and SUMS per destination
    * (gather + sum fused into one partial-aggregated frame — Spark's
    * map-side combine IS the sum function), then `apply(states,
    * sums)` folds the per-vertex sums into the next state. The
    * difference from [[scatterGatherIteration]] is the contract, not
    * the substrate: GSA's message derivation sees the SOURCE state
    * joined onto the edge (Gelly's Neighbor<VV, EV>), and the
    * aggregation is constrained to an associative sum the engine may
    * partial-aggregate — which is exactly what a `groupBy(dst).agg`
    * plan does. */
  def gatherSumApplyIteration(states0: DataFrame, iters: Int)(
      gatherSum: (DataFrame, DataFrame) => DataFrame,
      apply: (DataFrame, DataFrame) => DataFrame): DataFrame =
    // same substrate as the spargel surface — only the contract
    // (gather+sum fusion, source-state visibility) differs
    scatterGatherIteration(states0, iters)(gatherSum, apply)

  /** Gelly `runVertexCentricIteration` (reference flink-gelly
    * pregel/VertexCentricIteration.java; Graph.java:1825 — the Pregel
    * model: one ComputeFunction sees the vertex state + its inbox and
    * emits messages). Realized as message-frame → full-state fold:
    * `compute(states, messages)` returns BOTH the next states and the
    * next message frame as one DataFrame pair per superstep. The
    * inbox is a (dst, msg) frame; sendMessageTo(target) is a row in
    * it; combiners are partial aggregation on the inbox groupBy.
    * Both frames of the pair are materialized every superstep. */
  def vertexCentricIteration(states0: DataFrame, messages0: DataFrame, iters: Int)(
      compute: (DataFrame, DataFrame, DataFrame) => (DataFrame, DataFrame)): DataFrame =
    Iterate.loop((Iterate.measured(states0), Iterate.measured(messages0)), iters) {
      case ((st, msg), _) =>
        val (st2, msg2) = compute(st, msg, edges)
        (Iterate.measured(st2), Iterate.measured(msg2))
    }._1

  // ------------------------------------------------ mutation methods
  /** Gelly addVertices (Graph.java:1379, VerticesUnionCoGroup): new
    * vertices merge in, but on an id conflict the EXISTING vertex
    * wins. */
  def addVertices(newVertices: DataFrame): PropertyGraph =
    // dropDuplicates: the reference's coGroup emits exactly ONE
    // vertex per input id (one arbitrary winner on in-batch dups)
    copy(vertices = vertices.unionByName(
      newVertices.dropDuplicates("id")
        .join(vertices.select(col("id")), Seq("id"), "left_anti")))

  /** Gelly addEdges (Graph.java:1430): bag union — duplicate edges
    * are kept, matching the reference (only UNION dedups vertices,
    * never edges). Endpoints are assumed present (the reference's
    * invalid-edge handling is its joinWithVertices validation). */
  def addEdges(newEdges: DataFrame): PropertyGraph =
    copy(edges = edges.unionByName(newEdges))

  /** Gelly removeVertices (Graph.java:1485): drop the given ids and
    * every edge touching one of them. */
  def removeVertices(ids: DataFrame): PropertyGraph = {
    // no broadcast hint: difference() routes a whole graph's vertex
    // set through here, so the join picks its own strategy (Catalyst
    // still broadcasts small removal lists under the auto threshold)
    val gone = ids.select(col("id"))
    PropertyGraph(
      vertices.join(gone, Seq("id"), "left_anti"),
      edges.join(gone.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(gone.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"), col("value")))
  }

  /** Gelly removeEdges (Graph.java:1571, EdgeRemovalCoGroup): drop
    * every edge matching a given (src, dst) pair — the edge VALUE is
    * not consulted, and vertices remain intact. */
  def removeEdges(pairs: DataFrame): PropertyGraph =
    copy(edges = edges.join(pairs.select(col("src"), col("dst")),
      Seq("src", "dst"), "left_anti"))

  /** Gelly union (Graph.java:1599): vertices distinct-union (full
    * row), edges BAG union (duplicates maintained — the documented
    * asymmetry). */
  def union(other: PropertyGraph): PropertyGraph =
    PropertyGraph(vertices.unionByName(other.vertices).distinct(),
      edges.unionByName(other.edges))

  /** Gelly difference (Graph.java:1623): remove the other graph's
    * vertex set (and so any edge touching it). */
  def difference(other: PropertyGraph): PropertyGraph =
    removeVertices(other.vertices.select(col("id")))

  /** Gelly intersect with distinctEdges = true (Graph.java:1650):
    * edges equal on (src, dst, value) present in BOTH graphs, each
    * matching edge once; vertices induced from the surviving
    * endpoints (the reference rebuilds the graph fromDataSet). */
  def intersect(other: PropertyGraph): PropertyGraph = {
    val common = edges.select(col("src"), col("dst"), col("value"))
      .intersect(other.edges.select(col("src"), col("dst"), col("value")))
    val ids = common.select(col("src").as("id"))
      .union(common.select(col("dst").as("id"))).distinct()
    PropertyGraph(vertices.join(ids, Seq("id"), "left_semi"), common)
  }

  /** Gelly reverse: flip every edge. */
  def reverse: PropertyGraph =
    copy(edges = edges.select(col("dst").as("src"), col("src").as("dst"), col("value")))

  /** Gelly getUndirected: add the reversed arcs. */
  def undirected: PropertyGraph =
    copy(edges = edges.union(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("value"))))
}

object PropertyGraph {

  /** The nation trade property graph: vertices (nationkey, regionkey),
    * directed edges (cust nation → supp nation, value = number of
    * lineitem trades), derived from the SHARED trade rollup
    * ([[Graph.tradeAgg]] — one memoized fact join feeds
    * q132/q136/q137/q143). */
  def nationTrade(spark: SparkSession, dir: String): PropertyGraph = {
    val v = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("id"),
        col("n_regionkey").cast("long").as("value"))
    val e = Graph.tradeAgg(spark, dir)
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("cnt")).as("value"))
    PropertyGraph(v, e)
  }

  // ---------------------------------------------------------------- q143
  /** Graded drive of the facade: take the nation trade graph,
    * REVERSE it (supply direction), keep vertices in regions 0-2 and
    * edges with ≥ [[MinTrades]] trades between surviving nations
    * (`subgraph`), and report per-vertex out/in/total degree joined
    * with the region value — the `Graph.java` method pipeline a Gelly
    * user writes on day one, end-to-end against a DuckDB oracle. */
  val MinTrades = 5L

  def q143GraphApi(spark: SparkSession, dir: String): DataFrame = {
    val g = nationTrade(spark, dir).reverse
      .subgraph(col("value") <= 2L, col("value") >= MinTrades)
    val out = g.outDegrees.withColumnRenamed("deg", "out_deg")
    val in = g.inDegrees.withColumnRenamed("deg", "in_deg")
    val all = g.degrees.withColumnRenamed("deg", "total_deg")
    g.vertices.select(col("id"), col("value").as("region"))
      .join(out, "id").join(in, "id").join(all, "id")
      .orderBy(col("id"))
  }

  val q143Sql: String =
    s"""WITH te AS (
       |  SELECT CAST(s_nationkey AS BIGINT) AS src,
       |         CAST(c_nationkey AS BIGINT) AS dst,
       |         CAST(count(*) AS BIGINT) AS value
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |vs AS (SELECT CAST(n_nationkey AS BIGINT) AS id,
       |              CAST(n_regionkey AS BIGINT) AS region
       |       FROM nation WHERE n_regionkey <= 2),
       |es AS (SELECT te.src, te.dst FROM te
       |       JOIN vs a ON te.src = a.id JOIN vs b ON te.dst = b.id
       |       WHERE te.value >= $MinTrades)
       |SELECT vs.id, vs.region,
       |  coalesce(o.deg, 0) AS out_deg, coalesce(i.deg, 0) AS in_deg,
       |  coalesce(t.deg, 0) AS total_deg
       |FROM vs
       |LEFT JOIN (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
       |           FROM es GROUP BY src) o ON vs.id = o.id
       |LEFT JOIN (SELECT dst AS id, CAST(count(*) AS BIGINT) AS deg
       |           FROM es GROUP BY dst) i ON vs.id = i.id
       |LEFT JOIN (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
       |             SELECT src AS id FROM es UNION ALL SELECT dst FROM es)
       |           GROUP BY id) t ON vs.id = t.id
       |ORDER BY vs.id""".stripMargin

  // ---------------------------------------------------------------- q146
  /** Graded drive of [[PropertyGraph.scatterGatherIteration]] — the
    * user-supplied vertex program surface (reference flink-gelly
    * spargel/ScatterGatherIteration.java, the API Gelly's own
    * SingleSourceShortestPaths.java is written against): bounded
    * Bellman-Ford, [[SgIters]] supersteps, over the nation trade
    * graph with the trade count as the edge cost, source nation 0.
    * scatter = broadcast the (tiny) reached-state onto the edge
    * frame and min-aggregate candidate distances per destination;
    * gather = outer-merge the candidates into the state (`least`
    * skips nulls, so unreached stays null). Integer costs → zero
    * cross-engine FP concerns; the oracle is the superstep unrolled
    * as CTEs. Same 100 TB posture as q119: broadcast-sized state,
    * partial-aggregated messages, per-superstep checkpoint inside
    * the iteration surface itself. */
  val SgIters = 4

  def q146ScatterGather(spark: SparkSession, dir: String): DataFrame = {
    val g = nationTrade(spark, dir)
    val init = g.vertices.select(col("id").as("node"),
      when(col("id") === 0L, 0L).otherwise(lit(null).cast("long")).as("dist"))
    g.scatterGatherIteration(init, SgIters)(
      scatter = (edges, st) =>
        edges.join(broadcast(st.filter(col("dist").isNotNull)),
            edges("src") === col("node"))
          .groupBy(col("dst").as("mnode"))
          .agg(min(col("dist") + col("value")).as("msg")),
      gather = (st, msgs) =>
        st.join(msgs, st("node") === msgs("mnode"), "left_outer")
          .select(col("node"), least(col("dist"), col("msg")).as("dist")))
      .filter(col("dist").isNotNull)
      .orderBy(col("node"))
  }

  val q146Sql: String = {
    val steps = (1 to SgIters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, min(d.dist + e.value) AS dist
         |  FROM te e JOIN d${i - 1} d ON e.src = d.node GROUP BY e.dst),
         |d$i AS (SELECT node, min(dist) AS dist FROM
         |  (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM c$i) GROUP BY node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH te AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS src,
       |         CAST(s_nationkey AS BIGINT) AS dst,
       |         CAST(count(*) AS BIGINT) AS value
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
       |$steps
       |SELECT node, dist FROM d$SgIters ORDER BY node""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q143_graph_api" -> (q143GraphApi _),
    "q146_scatter_gather_sssp" -> (q146ScatterGather _))

  def oracles: Map[String, String] = Map(
    "q143_graph_api" -> q143Sql,
    "q146_scatter_gather_sssp" -> q146Sql)
}
