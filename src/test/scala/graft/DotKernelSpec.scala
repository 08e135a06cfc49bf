package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's aggregate kernels — `graft_vecsum` and
  * `graft_rmin/rmax/rsum/ravg`, the [[graft.plans.KernelAgg]] family —
  * on the default session, each checked against a brute-force fold,
  * the stock aggregate it stands for, or the graded query it restates
  * (q24, q02, q21). The reference's offloaded workloads run here as
  * these aggregates and the `graft_dot`/`graft_cosine` expressions,
  * all planned through whole-stage codegen or the stock two-stage
  * ObjectHashAggregateExec; ExpressionSpec pins the two expressions
  * bit-for-bit. */
class DotKernelSpec extends AnyFunSuite with SparkSpec {

  test("graft_vecsum matches a brute-force per-group component sum") {
    graft.plans.Functions.register(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = emb.groupBy((col("vec_id") % 7).as("cid"))
      .agg(expr("graft_vecsum(embedding)").as("s"), count(lit(1)).as("n"))
      .orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0) % 7, r.getSeq[Float](1).toArray))
    val want = rows.groupBy(_._1).view.mapValues { vs =>
      val dim = vs.map(_._2.length).max
      val acc = new Array[Double](dim)
      vs.foreach { case (_, v) =>
        var i = 0; while (i < v.length) { acc(i) += v(i).toDouble; i += 1 } }
      (acc, vs.length.toLong)
    }.toMap
    assert(got.length == want.size && got.nonEmpty)
    got.foreach { case (cid, s, n) =>
      val (ws, wn) = want(cid)
      assert(n == wn && s.length == ws.length)
      s.zip(ws).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"cid $cid: $a vs $b") }
    }
  }

  test("vecsum kernel handles null vectors and all-null groups like the stock path") {
    import spark.implicits._
    graft.plans.Functions.register(spark)
    val got = Seq(
      (0L, Some(Seq(1.0f, 2.0f))), (0L, None), (0L, Some(Seq(3.0f, 4.0f))),
      (1L, None), (1L, None),
      (2L, Some(Seq(5.0f)))).toDF("k", "v")
      .select(col("k"), col("v").cast("array<float>").as("v"))
      .groupBy("k").agg(expr("graft_vecsum(v)").as("s")).orderBy("k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getSeq[Double](1).toList.toSeq)))
    assert(got(0)._2.contains(Seq(4.0, 6.0)))
    assert(got(1)._2.isEmpty) // all-null group -> NULL, not zeros
    assert(got(2)._2.contains(Seq(5.0)))
  }

  test("vecsum fails fast on ragged input instead of zero-padding") {
    import spark.implicits._
    graft.plans.Functions.register(spark)
    val df = Seq((0L, Seq(1.0f, 2.0f)), (0L, Seq(3.0f))).toDF("k", "v")
      .select(col("k"), col("v").cast("array<float>").as("v"))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val e = intercept[Exception] {
      df.groupBy("k").agg(expr("graft_vecsum(v)")).collect()
    }
    assert(causes(e).exists(c =>
      String.valueOf(c.getMessage).contains("ragged")),
      s"expected the ragged-input error, got: $e")
    // EMPTY arrays are ignored like nulls in ANY position — the check
    // must not depend on row order, which is free across runs
    Seq(Seq(0, 1), Seq(1, 0)).foreach { order =>
      val rows = order.map {
        case 0 => (0L, Seq.empty[Float])
        case _ => (0L, Seq(1.0f, 2.0f))
      }
      val got = rows.toDF("k", "v")
        .select(col("k"), col("v").cast("array<float>").as("v"))
        .groupBy("k").agg(expr("graft_vecsum(v)").as("s"))
        .head.getSeq[Double](1)
      assert(got == Seq(1.0, 2.0), s"order $order: $got")
    }
  }

  test("vecsum-trained LogReg weights equal the graded q24's") {
    // the reference's LogReg gradient partial sum
    // (ChainedAllReduceDriver.java:563-600) as graft_vecsum over a
    // DERIVED per-row double vector: 4 gradient components + a count
    // slot
    graft.plans.Functions.register(spark)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def gradDf(w: Array[Double]): DataFrame = {
      val li = spark.read.parquet(s"$sf/lineitem.parquet").select(
        (col("l_quantity") / 50.0).as("x1"),
        (col("l_discount") * 10.0).as("x2"),
        (col("l_extendedprice") / 100000.0).as("x3"),
        when(col("l_quantity") > 25, 1.0).otherwise(0.0).as("y"))
      val z = lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      li.select(array(p - col("y"), (p - col("y")) * col("x1"),
          (p - col("y")) * col("x2"), (p - col("y")) * col("x3"),
          lit(1.0)).as("g"))
        .agg(expr("graft_vecsum(g)").as("gs"))
    }
    var w = Array(0.0, 0.0, 0.0, 0.0)
    (1 to 2).foreach { _ =>
      val gs = gradDf(w).head.getSeq[Double](0)
      val n = gs(4)
      w = Array.tabulate(4)(i => r6(w(i) - 2.0 * gs(i) / n))
    }
    // sum/n vs avg — identical folds, same per-step rounding
    val graded = graft.analytics.Iterative.q24LogReg(spark, sf).head
    val wGraded = Array.tabulate(4)(i => graded.getDouble(i))
    w.zip(wGraded).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 2e-6, s"vecsum $a vs graded $b") }
  }

  test("global graft_r* reduce equals the graded q02 row") {
    // the reference precompiles simple-double-reduce-{min,max,sum,avg}
    // .cl and selects one by UDF class name
    // (AllReduceDriver.java:1400-1431): the graded q02 global-agg
    // shape through graft_rmin/rmax/rsum/ravg
    graft.plans.Functions.register(spark)
    val got = graft.sources.Tables.events(spark, sf).agg(
      expr("graft_rmin(value)").as("min_v"),
      expr("graft_rmax(value)").as("max_v"),
      expr("graft_rsum(value)").as("sum_v"),
      expr("graft_ravg(value)").as("avg_v")).head
    // compared at the graded row's rounded grain
    val graded = graft.operators.Relational.q02GlobalAgg(spark, sf).head
    Seq("min_v", "max_v", "sum_v", "avg_v").zipWithIndex.foreach { case (c, i) =>
      val g = graded.getAs[Double](c)
      val k = BigDecimal(got.getDouble(i))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(g - k) < 0.011, s"$c: graded $g vs graft_r* rounded $k")
    }
  }

  test("grouped graft_ravg/rmax equal q21's stock avg/max") {
    // q21's per-user stats stage builds its broadcast stats from
    // stock avg(); graft_ravg must agree, and graft_rmax with max()
    graft.plans.Functions.register(spark)
    val ev = graft.sources.Tables.events(spark, sf)
    val got = ev.groupBy(col("user_id"))
      .agg(expr("graft_ravg(value)").as("mu"), expr("graft_rmax(value)").as("hi"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val stock = ev.groupBy(col("user_id"))
      .agg(avg(col("value")).as("mu"), max(col("value")).as("hi"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(stock.length == got.length && got.nonEmpty)
    stock.zip(got).foreach { case ((u1, m1, h1), (u2, m2, h2)) =>
      assert(u1 == u2)
      assert(math.abs(m1 - m2) < 1e-6, s"user $u1: stock avg $m1 vs graft_ravg $m2")
      assert(h1 == h2, s"user $u1: stock max $h1 vs graft_rmax $h2")
    }
  }

  test("scalar kernel-aggs match stock null/empty-group semantics") {
    import spark.implicits._
    graft.plans.Functions.register(spark)
    val got = Seq[(Long, Option[Double])](
      (0L, Some(2.0)), (0L, None), (0L, Some(-1.0)),
      (1L, None), (1L, None),
      (2L, Some(5.0)))
      .toDF("k", "v")
      .groupBy(col("k"))
      .agg(expr("graft_rmin(v)").as("mn"), expr("graft_rmax(v)").as("mx"),
        expr("graft_rsum(v)").as("sm"), expr("graft_ravg(v)").as("av"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.get(4)))
    // nulls skipped, all-null group -> NULL (stock min/max/sum/avg
    // contract), avg divides once at eval
    assert(got(0) == ((0L, -1.0, 2.0, 1.0, 0.5)))
    assert(got(1) == ((1L, null, null, null, null)))
    assert(got(2) == ((2L, 5.0, 5.0, 5.0, 5.0)))
  }

  test("scalar kernel-aggs match stock NaN ordering (NaN sorts greatest)") {
    // math.min propagates NaN but stock min/max use the SQL ordering
    // where NaN is GREATEST — min({1.0, NaN}) = 1.0, max({1.0, NaN}) =
    // NaN, and an all-NaN group yields NaN for both. Pin graft_rmin/
    // rmax against stock min()/max() on mixed and all-NaN groups.
    import spark.implicits._
    graft.plans.Functions.register(spark)
    val rows = Seq[(Long, Double)](
      (0L, 1.0), (0L, Double.NaN), (0L, 3.0),  // mixed
      (1L, Double.NaN), (1L, Double.NaN),      // all NaN
      (2L, -2.0), (2L, 7.0))                   // no NaN
      .toDF("k", "v")
    def triples(df: DataFrame): Array[(Long, Double, Double)] =
      df.orderBy("k").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val got = triples(rows.groupBy(col("k"))
      .agg(expr("graft_rmin(v)").as("mn"), expr("graft_rmax(v)").as("mx")))
    val stock = triples(rows.groupBy(col("k"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx")))
    assert(stock.length == got.length)
    stock.zip(got).foreach { case ((k1, m1, x1), (k2, m2, x2)) =>
      assert(k1 == k2)
      // == is false for NaN; compare via Double.compare instead
      assert(java.lang.Double.compare(m1, m2) == 0, s"k=$k1 min: $m1 vs $m2")
      assert(java.lang.Double.compare(x1, x2) == 0, s"k=$k1 max: $x1 vs $x2")
    }
    // and the contract itself, stated concretely
    assert(stock(0)._2 == 1.0 && stock(0)._3.isNaN)
    assert(stock(1)._2.isNaN && stock(1)._3.isNaN)
  }
}
