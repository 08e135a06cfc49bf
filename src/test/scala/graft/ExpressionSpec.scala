package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Aggregators
import graft.sources.Tables

class ExpressionSpec extends AnyFunSuite with SparkSpec {

  test("GraftExtensions alone gives a fresh session the six graft_* SQL functions") {
    // no registration call anywhere: a newSession() clone carries
    // exactly what the extension injected, and nothing else
    val s = spark.newSession()
    val names = s.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(names == Set("graft_dot", "graft_cosine", "graft_h60", "graft_vecsum",
      "graft_hh", "graft_cm"))
    s.sql("SELECT * FROM VALUES (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), 'a'), " +
      "(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), 'a') AS t(v, w)")
      .createOrReplaceTempView("surface_probe")
    val rows = s.sql("SELECT graft_dot(v, v), graft_cosine(v, v), graft_h60(w) " +
      "FROM surface_probe").collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(5.0, 25.0))
    assert(rows.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))
    assert(rows.forall(_.getLong(2) == graft.functions.Portable.h60jvm("a")))
    val agg = s.sql("SELECT graft_vecsum(v), graft_hh(w), graft_cm(w) FROM surface_probe").head
    assert(agg.getSeq[Double](0) == Seq(4.0, 6.0))
    assert(agg.getMap[String, Long](1) == Map("a" -> 2L))
    val cm = agg.getSeq[Long](2)
    // d=4 rows of w=256 counters; each item adds 1 to one cell per row
    assert(cm.length == 4 * 256 && cm.sum == 4 * 2)
    // the StreamingQuery runs each micro-batch on a clone of the session
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val dots = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val q = graft.streaming.Streams.toForeachBatch(ms.toDF(), "surface_fb") { (batch, _) =>
      batch.selectExpr(
        "graft_dot(array(CAST(value AS FLOAT)), array(CAST(value AS FLOAT)))")
        .collect().foreach(r => dots.add(r.getDouble(0)))
    }
    try {
      ms.addData(3)
      q.processAllAvailable()
    } finally q.stop()
    assert(dots.toArray.toSeq == Seq(9.0))
  }

  test("graft_h60 on the SQL surface equals Portable.h60 and stays codegen'd") {
    // same hash from SQL and from the Scala Column API — pure-SQL
    // users get identical shard/sample/sketch keys
    import spark.implicits._
    val docs = Seq("alpha", "beta", "", "Zebra 123 !?").toDF("s")
    docs.createOrReplaceTempView("h60_probe")
    val viaSql = spark.sql("SELECT graft_h60(s) FROM h60_probe")
      .collect().map(_.getLong(0)).toSeq
    val viaApi = docs.select(graft.functions.Portable.h60(col("s")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaApi)
    assert(viaSql.forall(_ >= 0))
    // plan assert needs a real scan — a local Seq constant-folds to
    // LocalTableScan with no codegen stage at all
    Tables.documents(spark, sf).createOrReplaceTempView("h60_docs")
    val plan = spark.sql("SELECT graft_h60(text) FROM h60_docs")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cast(conv(substring(md5("),
      s"h60 fell out of whole-stage codegen:\n$plan")
  }

  test("graft_dot equals the interpreted higher-order fold bit-for-bit") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val both = emb.select(
      call_function("graft_dot", col("embedding"), col("embedding")).as("native"),
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
  }

  test("graft_dot participates in whole-stage codegen") {
    val plan = Tables.embeddings(spark, sf)
      .select(call_function("graft_dot", col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators fused into WholeStageCodegen
    assert(plan.contains("*(1) Project [graft_dot"), plan)
  }

  test("graft_dot is null-safe") {
    val r = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))")
    assert(r.head.isNullAt(0))
    val v = spark.sql(
      "SELECT graft_dot(array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)), array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT)))")
    assert(v.head.getDouble(0) == 23.0)
  }

  test("interpreted eval path matches codegen path") {
    val e = graft.plans.DotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0f, 4.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(e.eval(null) == 11.0)
  }

  test("graft_cosine equals the composed dot/norm expression bit-for-bit and stays codegen'd") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.join(broadcast(b), col("ia") < col("ib"))
    // the composed form shares graft_cosine's exact fold order (each
    // accumulator sums ascending), so equality must be bitwise
    val both = pairs.select(
      call_function("graft_cosine", col("ea"), col("eb")).as("native"),
      (call_function("graft_dot", col("ea"), col("eb")) /
        (sqrt(call_function("graft_dot", col("ea"), col("ea"))) *
          sqrt(call_function("graft_dot", col("eb"), col("eb"))))).as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
    val plan = emb.select(call_function("graft_cosine", col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_cosine"), plan)
    // zero-norm convention: 0.0, never NaN
    val z = spark.sql(
      "SELECT graft_cosine(array(CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))")
    assert(z.head.getDouble(0) == 0.0)
  }

  test("typed Aggregator stats match declarative avg/stddev") {
    val agg = Aggregators.q43AggregatorStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val decl = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), avg("value").as("mean"), stddev_samp("value").as("sd"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    agg.zip(decl).foreach { case ((t1, n1, m1, s1), (t2, n2, m2, s2)) =>
      assert(t1 == t2 && n1 == n2)
      assert(math.abs(m1 - m2) < 1e-3)
      assert(math.abs(s1 - s2) < 1e-3)
    }
    assert(agg.nonEmpty)
  }

  test("aggregator buffer is a partial: map-side combine present in plan") {
    val plan = Aggregators.q43AggregatorStats(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial") || plan.contains("ObjectHashAggregate") ||
      plan.contains("SortAggregate"), plan)
  }
}
