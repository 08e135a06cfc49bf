package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.WindowSpi.{DeltaTrigger, TriggerRegs, TriggerResult, WinElem}

/** Typed Dataset operator surface — the reference's UDF-as-operator
  * model (SURVEY.md §2.7: MapFunction/FlatMapFunction/
  * GroupReduceFunction/CoGroupFunction, `/root/reference` flink-core
  * api/common/functions/) realized as `Dataset[T]` transformations
  * with case-class Encoders.
  *
  * Where an equivalent declarative plan exists it is preferred in the
  * graded query (codegen + partial agg beat opaque lambdas at 100 TB);
  * the typed forms are exercised here and cross-checked in
  * TypedSpec against the declarative results.
  */
object Typed {

  case class Doc(doc_id: Long, text: String)
  case class Event(event_id: Long, user_id: Long, value: Double)
  case class NationCust(c_nationkey: Int, c_acctbal: Double)
  case class NationSupp(s_nationkey: Int, s_acctbal: Double)

  /** WordCount (reference wordcount/WordCount.java:84-87 —
    * flatMap tokenize → groupBy(0) → sum(1)). Graded plan uses
    * explode(split(...)) which stays inside whole-stage codegen; the
    * shuffle carries (word, partial_count) thanks to partial agg.
    */
  def q15WordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))

  val q15Sql: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word ORDER BY word""".stripMargin

  /** Typed flatMap WordCount — the literal reference shape
    * (FlatMapFunction + grouped count), used by TypedSpec to verify
    * equivalence with the declarative q15 plan.
    */
  def wordCountTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[Doc]
      .flatMap(d => d.text.split(" ").filter(_.nonEmpty))
      .groupByKey(identity)
      .count()
      .toDF("word", "cnt")
      .orderBy(col("word"))
  }

  /** coGroup (reference DataSet.java:1044, CoGroupDriver.java): both
    * groups' iterators side-by-side per key. Exact Spark analogue is
    * KeyValueGroupedDataset.cogroup. Per nation: customer and
    * supplier counts + summed balances, including nations present on
    * only one side (coGroup's outer semantics).
    *
    * Scale: cogroup shuffles both inputs once on the key — same
    * exchange count as the equivalent full-outer join of pre-aggs.
    */
  def q16CoGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_acctbal")).as[NationCust]
      .groupByKey(_.c_nationkey)
    val supp = Tables.supplier(spark, dir)
      .select(col("s_nationkey"), col("s_acctbal")).as[NationSupp]
      .groupByKey(_.s_nationkey)
    cust.cogroup(supp) { (key, cs, ss) =>
      var nc = 0L; var cbal = 0.0
      cs.foreach { c => nc += 1; cbal += c.c_acctbal }
      var ns = 0L; var sbal = 0.0
      ss.foreach { s => ns += 1; sbal += s.s_acctbal }
      Iterator((key, nc, math.rint(cbal * 100) / 100, ns, math.rint(sbal * 100) / 100))
    }.toDF("nationkey", "n_cust", "cust_bal", "n_supp", "supp_bal")
      .orderBy(col("nationkey"))
  }

  // round HALF_EVEN on both sides: math.rint in the cogroup lambda,
  // and DuckDB round() is also banker's at .5 on doubles — but sums
  // rarely sit exactly on .005; 2-decimal inputs keep cents exact.
  val q16Sql: String =
    """SELECT coalesce(c.k, s.k) AS nationkey,
      |  coalesce(c.n_cust, 0)    AS n_cust,
      |  coalesce(c.cust_bal, 0.0) AS cust_bal,
      |  coalesce(s.n_supp, 0)    AS n_supp,
      |  coalesce(s.supp_bal, 0.0) AS supp_bal
      |FROM (SELECT c_nationkey AS k, count(*) AS n_cust,
      |             round(sum(c_acctbal), 2) AS cust_bal
      |      FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS k, count(*) AS n_supp,
      |                  round(sum(s_acctbal), 2) AS supp_bal
      |           FROM supplier GROUP BY 1) s ON c.k = s.k
      |ORDER BY nationkey""".stripMargin

  /** groupReduce (reference DataSet.java:499 reduceGroup +
    * IoT.java:124-153 outlier detection |v−μ|>2σ): the full-group
    * iterator form via flatMapGroups. Two passes over the buffered
    * group: stats, then emit outliers.
    *
    * Scale caveat (documented): flatMapGroups buffers one group per
    * task; for unbounded per-key cardinality prefer the declarative
    * two-phase form in [[Windows.q21OutliersJoin]] — same oracle.
    */
  def q17GroupReduceOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val xs = it.toArray
        val n = xs.length
        val mean = xs.map(_.value).sum / n
        val varS = if (n < 2) 0.0 else xs.map(e => (e.value - mean) * (e.value - mean)).sum / (n - 1)
        val sigma = math.sqrt(varS)
        xs.iterator
          .filter(e => math.abs(e.value - mean) > 2 * sigma)
          .map(e => (e.event_id, uid, e.value))
      }
      .toDF("event_id", "user_id", "value")
      .orderBy(col("event_id"))
  }

  val q17Sql: String =
    """SELECT event_id, user_id, value FROM (
      |  SELECT event_id, user_id, value,
      |    avg(value)         OVER (PARTITION BY user_id) AS mu,
      |    stddev_samp(value) OVER (PARTITION BY user_id) AS sigma,
      |    count(*)           OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |WHERE abs(value - mu) > 2 * coalesce(CASE WHEN n < 2 THEN 0.0 ELSE sigma END, 0.0)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q105
  /** Delta-trigger fire sequence as a BATCH groupReduce — runs
    * [[graft.streaming.WindowSpi.DeltaTrigger]] (reference
    * DeltaTrigger.java), the trigger of the streaming delta window
    * `WindowSpi.globalWindow(_, DeltaTrigger(t), CountEvictor(size))`:
    * walking each user's events in event_id order, the first value
    * seeds a reference point and a fire is emitted whenever
    * |value − ref| > [[Q105Threshold]], the reference advancing only
    * on fire. Sequential-by-construction, so the oracle is a DuckDB
    * RECURSIVE CTE walking row_number order — an independent engine
    * re-deriving the same state machine. The comparison operands are
    * raw column values (ref is always a previously SEEN value, never
    * an accumulation), so cross-engine bit-identity needs no rounding
    * anywhere. Scoped to user_id < [[Q105Users]]: 12 bounded sequences
    * (≤ ~81 events at every SF) keep the oracle's recursion depth
    * fixed while the Spark side stays the ordinary flatMapGroups shape
    * that runs at any scale.
    */
  val Q105Threshold = 50.0
  val Q105Users = 12

  def q105DeltaFires(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trigger = DeltaTrigger(Q105Threshold)
    Tables.events(spark, dir)
      .filter(col("user_id") < Q105Users)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ts_ms"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (uid, it) =>
        val elems = it.toSeq.sortBy(_._2).map(e => WinElem(e._2, e._3, e._4))
        val verdicts = elems.scanLeft((TriggerResult.Continue, TriggerRegs())) {
          case ((_, regs), e) => trigger.onElement(e, regs)
        }.tail
        elems.zip(verdicts).collect { case (e, (res, _)) if res.fire => e }
          .zipWithIndex.map { case (e, i) => (uid, i.toLong, e.event_id, e.value) }
      }
      .toDF("user_id", "fire_idx", "event_id", "trigger_v")
      .orderBy(col("user_id"), col("fire_idx"))
  }

  val q105Sql: String =
    s"""WITH RECURSIVE s AS (
       |  SELECT event_id, user_id, value,
       |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
       |  FROM events WHERE user_id < $Q105Users),
       |walk(user_id, rn, ref, fired, fire, event_id, value) AS (
       |  SELECT user_id, rn, value, CAST(0 AS BIGINT), false, event_id, value
       |  FROM s WHERE rn = 1
       |  UNION ALL
       |  SELECT s.user_id, s.rn,
       |    CASE WHEN abs(s.value - w.ref) > $Q105Threshold THEN s.value ELSE w.ref END,
       |    w.fired + CASE WHEN abs(s.value - w.ref) > $Q105Threshold THEN 1 ELSE 0 END,
       |    abs(s.value - w.ref) > $Q105Threshold,
       |    s.event_id, s.value
       |  FROM walk w JOIN s ON s.user_id = w.user_id AND s.rn = w.rn + 1)
       |SELECT user_id, fired - 1 AS fire_idx, event_id, value AS trigger_v
       |FROM walk WHERE fire
       |ORDER BY user_id, fire_idx""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q15_wordcount" -> (q15WordCount _),
    "q16_cogroup" -> (q16CoGroup _),
    "q17_groupreduce_outliers" -> (q17GroupReduceOutliers _),
    "q105_delta_fires" -> (q105DeltaFires _))

  def oracles: Map[String, String] = Map(
    "q15_wordcount" -> q15Sql,
    "q16_cogroup" -> q16Sql,
    "q17_groupreduce_outliers" -> q17Sql,
    "q105_delta_fires" -> q105Sql)
}
