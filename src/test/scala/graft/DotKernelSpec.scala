package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's aggregate kernel `graft_vecsum` on the default
  * session, checked against a brute-force fold, the stock null
  * semantics, and the graded query it restates (q24). The reference's
  * offloaded workloads run here as this aggregate, Spark's built-in
  * min/max/sum/avg and the `graft_dot`/`graft_cosine` expressions,
  * all planned through whole-stage codegen or the stock two-stage
  * ObjectHashAggregateExec; ExpressionSpec pins the two expressions
  * bit-for-bit. */
class DotKernelSpec extends AnyFunSuite with SparkSpec {

  test("graft_vecsum matches a brute-force per-group component sum") {
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
}
