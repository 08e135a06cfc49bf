package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches

class SketchesSpec extends AnyFunSuite with SparkSpec {

  test("approx percentile lands within its rank-error band of the exact sort") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val approx = Sketches.approxPercentile(li, "l_extendedprice",
        Seq("l_returnflag"), Seq(0.5, 0.9), accuracy = 10000)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    // exact quantiles at q ± 1% rank bound the sketch's answer
    val bands = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.49, 0.51, 0.89, 0.91))").as("b"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    bands.foreach { case (flag, b) =>
      val Seq(p50, p90) = approx(flag).toSeq
      assert(p50 >= b(0) && p50 <= b(1), s"$flag p50=$p50 outside [${b(0)}, ${b(1)}]")
      assert(p90 >= b(2) && p90 <= b(3), s"$flag p90=$p90 outside [${b(2)}, ${b(3)}]")
    }
  }

  test("HLL distinct count stays within 3x its target error") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val approx = Sketches.approxDistinct(o, "o_custkey", Seq("o_orderpriority"), rsd = 0.05)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = o.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) <= math.max(3, 0.15 * ex),
        s"$k: approx $ap vs exact $ex exceeds 3*rsd")
    }
  }

  test("HLL plan keeps map-side partial aggregation") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val plan = Sketches.approxDistinct(o, "o_custkey", Seq("o_orderpriority"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_count_distinct"), plan)
  }

  test("bloom prefilter passes every member and few non-members") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val hot = li.filter(col("l_quantity") >= 48).select(col("l_partkey"))
    val hotSet = hot.collect().map(_.getLong(0)).toSet
    val pred = Sketches.bloomPrefilter(hot, "l_partkey",
      expectedItems = math.max(hotSet.size.toLong, 1L), fpp = 0.01)(col("p_partkey"))
    val part = spark.read.parquet(s"$sf/part.parquet")
    val kept = part.filter(pred).select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(hotSet.subsetOf(kept), "bloom filter produced a false negative")
    val nonMembers = part.count() - hotSet.count(_ <= part.agg(max("p_partkey")).head.getLong(0))
    val falsePos = kept.size - kept.intersect(hotSet).size
    assert(falsePos <= math.max(3, 0.05 * nonMembers),
      s"false-positive count $falsePos too high for fpp=0.01")
  }

  test("misra-gries heavy hitters honor the survival and error bounds vs exact counts") {
    import org.apache.spark.sql.functions._
    val k = 32
    val tokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .repartition(8) // force a real multi-partition merge tree
    val exact = tokens.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = n / (k + 1)
    val got = graft.operators.Sketches.heavyHitters(tokens, "token", k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= k)
    // two-sided Misra-Gries bound: reported <= exact <= reported + N/(k+1)
    got.foreach { case (t, c) =>
      assert(c <= exact(t), s"$t overcounted: $c > ${exact(t)}")
      assert(exact(t) - c <= bound, s"$t undercounted past the bound")
    }
    // survival: every item with exact count > N/(k+1) must be present
    exact.filter(_._2 > bound).keys.foreach { t =>
      assert(got.contains(t), s"heavy hitter $t (count ${exact(t)}, bound $bound) evicted")
    }
    // and the plan merges partials across the exchange, not raw rows
    val plan = graft.operators.Sketches.heavyHitters(tokens, "token", k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
  }

  test("count-min estimates are one-sided and the table is partition-invariant") {
    val tokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val exact = tokens.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val w = 256
    val cm = Sketches.countMin(tokens, "token", d = 4, w = w)
    // one-sided error: never undercounts; overcount bounded by ~eN/w
    // per probe whp (deterministic for this fixed corpus + seeds)
    val slack = 3L * n / w
    exact.foreach { case (t, c) =>
      val est = cm.estimate(t)
      assert(est >= c, s"$t undercounted: $est < $c")
      assert(est - c <= slack, s"$t overcounted past $slack: $est vs $c")
    }
    // merge is element-wise sum, so ANY partitioning / merge tree must
    // produce the IDENTICAL table — the mergeable-summary contract
    val cm7 = Sketches.countMin(tokens.repartition(7), "token", d = 4, w = w)
    assert(cm.table == cm7.table)
  }

  test("graft_cm composes in SQL text and stays partition-invariant there") {
    spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "").createOrReplaceTempView("cm_tokens")
    val viaSql = spark.sql("SELECT graft_cm(token) AS cm FROM cm_tokens")
      .head().getSeq[Long](0)
    // the SQL surface runs the same aggregator: table equality vs API
    val viaApi = Sketches.countMin(spark.table("cm_tokens"), "token", d = 4, w = 256)
    assert(viaSql == viaApi.table)
    val viaSql11 = spark.sql(
      "SELECT graft_cm(token) AS cm FROM (SELECT /*+ REPARTITION(11) */ token FROM cm_tokens)")
      .head().getSeq[Long](0)
    assert(viaSql11 == viaSql, "partition-invariance must hold on the SQL path")
  }

  test("graft_hh composes in SQL text and honors the Misra-Gries bounds") {
    val tokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    tokens.createOrReplaceTempView("hh_tokens")
    val exact = tokens.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val k = 32
    val reported = spark.sql("SELECT graft_hh(token) AS hh FROM hh_tokens")
      .head().getMap[String, Long](0)
    assert(reported.nonEmpty && reported.size <= k)
    reported.foreach { case (t, est) =>
      val c = exact.getOrElse(t, 0L)
      assert(est <= c && c <= est + n / (k + 1),
        s"$t: reported $est outside [exact-N/(k+1), exact] for exact $c")
    }
    // survival: every item with true count > N/(k+1) must be reported
    exact.filter(_._2 > n / (k + 1)).keys.foreach { t =>
      assert(reported.contains(t), s"heavy item $t missing from graft_hh")
    }
  }

  test("the HLL sketch family on the SQL surface: agg, union, estimate") {
    // hll_sketch_agg / hll_union_agg / hll_sketch_estimate are the
    // built-in (DataSketches) mergeable-HLL slot — assert the full
    // build-union-estimate composition lands within error of exact
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.createOrReplaceTempView("hll_docs")
    val exact = docs.select(countDistinct(col("source"))).head().getLong(0)
    val est = spark.sql(
      """SELECT hll_sketch_estimate(hll_union_agg(s)) FROM (
        |  SELECT hll_sketch_agg(source) AS s FROM hll_docs GROUP BY doc_id % 8)
        |""".stripMargin).head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.1,
      s"HLL union estimate $est vs exact $exact")
  }
}
