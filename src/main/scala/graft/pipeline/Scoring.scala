package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Iterate
import graft.functions.Portable._
import graft.sources.Tables

/** Model-informed corpus scoring and data-mixing operators — the
  * selection layer of an LLM training-data pipeline, between cleaning
  * (TextAnalysis/Curation) and dedup (Dedup): hashed-n-gram importance
  * weighting (DSIR), corpus-level duplicate-n-gram fraction, linear
  * quality-classifier inference, temperature-based source mixing,
  * TF-IDF keyword extraction, and bigram-LM perplexity scoring
  * (the CCNet-style LM quality filter).
  *
  * These extend the reference's surface (its closest relatives are the
  * grouped aggregates of flink-java DataSet.java and the WordCount
  * example) with the corpus-statistics passes a 100 TB pipeline runs:
  * every operator is one or two well-keyed shuffles over short hashes
  * or tokens — model statistics collapse to tiny relations (feature
  * buckets, per-source counts, vocabularies) that broadcast back, so
  * no pass is ever quadratic in corpus size.
  *
  * All hashes are md5-derived integers ([[graft.functions.Portable]])
  * so the DuckDB oracles reproduce them bit-for-bit.
  */
object Scoring {

  // ---------------------------------------------------------------- q84
  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each doc
    * by how much its hashed unigram features look like a target
    * domain (here lang='en') relative to the whole corpus.
    *
    * Two passes, both scan-shaped: (1) count feature-bucket hits for
    * corpus and target in ONE agg (64 bucket keys, map-side partials
    * collapse each task to ≤64 rows); (2) broadcast the 64-row
    * log-ratio table back and sum per doc (doc_id-keyed shuffle).
    * At 100 TB the model is still 64 rows — the broadcast never grows
    * with the corpus.
    */
  val DsirBuckets = 64

  private def docTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")

  def q84ImportanceWeight(spark: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(spark, dir)
      .select(col("doc_id"), col("lang"), (h60(col("t")) % DsirBuckets).as("b"))
    val stats = toks.groupBy(col("b")).agg(
      count(lit(1)).as("sc"),
      count(when(col("lang") === "en", 1)).as("tc"))
    val tot = stats.agg(sum(col("sc")).as("s_tot"), sum(col("tc")).as("t_tot"))
    // Laplace-smoothed log-likelihood ratio per bucket; integer counts
    // make the doubles bit-identical to the oracle's
    val lr = stats.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("tc") + 1.0) / (col("t_tot") + lit(DsirBuckets.toDouble))) -
          log((col("sc") + 1.0) / (col("s_tot") + lit(DsirBuckets.toDouble)))).as("lr"))
    toks.join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      // + 0.0 folds IEEE -0.0 (a tiny negative sum rounded) to +0.0 —
      // DuckDB prints the sign bit, the comparator sees two values
      .agg((round(sum(col("lr")), 2) + 0.0).as("dsir_weight"))
  }

  val q84Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, ${h60Sql("t")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, unnest(str_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |stats AS (
       |  SELECT b, count(*) AS sc,
       |         count(*) FILTER (WHERE lang = 'en') AS tc
       |  FROM tok GROUP BY b),
       |tot AS (SELECT sum(sc) AS s_tot, sum(tc) AS t_tot FROM stats),
       |lr AS (
       |  SELECT b, ln((tc + 1.0) / (t_tot + $DsirBuckets.0))
       |           - ln((sc + 1.0) / (s_tot + $DsirBuckets.0)) AS lr
       |  FROM stats CROSS JOIN tot)
       |SELECT doc_id, round(sum(lr), 2) + 0.0 AS dsir_weight
       |FROM tok JOIN lr USING (b)
       |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Corpus-level duplicate-n-gram fraction: for each document, the
    * share of its distinct 5-grams that also appear in at least one
    * OTHER document (df ≥ 2 over the per-doc-distinct posting list).
    * The inter-document twin of q68's intra-doc repetition signal and
    * the doc-level scoring view of the q32 inverted index.
    *
    * Scale shape: df is a COUNT WINDOW over the gram-hash partition
    * of the single distinct posting relation — one lineage, one scan;
    * the separate-count-relation + join-back form reads the corpus
    * (and pays the shingle md5s) twice because the pruned subtrees
    * defeat exchange reuse. Shuffle keys are the 8-byte gram hash —
    * never text, never pairwise: O(corpus grams), no Σ df² term.
    */
  def q85DupNgramFraction(spark: SparkSession, dir: String): DataFrame = {
    val grams = graft.engine.Cpu.explodeComputed(
        Tables.documents(spark, dir), Seq(col("doc_id")),
        shingles(col("text"), 5), "g")
      .select(col("doc_id"), h60(col("g")).as("gh"))
      .distinct()
    grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") >= 2, 1)).as("n_dup"))
      // single long/long division — bit-identical, never round it
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup") / col("n_grams")).as("dup_frac"))
  }

  val q85Sql: String =
    s"""WITH g AS (
       |  SELECT DISTINCT doc_id, ${h60Sql("s")} AS gh
       |  FROM (SELECT doc_id, unnest(${shinglesSql("text", 5)}) AS s FROM documents)),
       |d AS (SELECT gh, count(*) AS df FROM g GROUP BY gh)
       |SELECT doc_id, count(*) AS n_grams,
       |  count(*) FILTER (WHERE df >= 2) AS n_dup,
       |  count(*) FILTER (WHERE df >= 2) / count(*) AS dup_frac
       |FROM g JOIN d USING (gh)
       |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Linear quality-classifier inference (the fasttext-style filter
    * pass): hash each token into [[ClfBuckets]] feature buckets, look
    * up a fixed per-bucket weight, and squash the mean activation
    * through a sigmoid. The "pretrained model" is a deterministic
    * integer-arithmetic weight table (no model files in the sandbox)
    * — the SHAPE is the real thing: inference over a frozen linear
    * model is a narrow projection + one doc-keyed agg, scan-speed at
    * any corpus size, the weight table never leaves the closure.
    */
  val ClfBuckets = 1024

  /** The classifier as ONE narrow Column expression — score a text
    * column per row with a fold over its token array (no explode, no
    * shuffle, no state). This is the form that lifts unchanged onto a
    * readStream in append mode (an ingest-time quality gate);
    * ScoringSpec asserts bit-parity with q86's batch plan and
    * batch/stream equivalence. The BATCH-graded q86 keeps the
    * explode + hash-agg plan instead: higher-order lambdas evaluate
    * interpreted, fine for a per-row stream gate, wrong for a
    * whole-corpus scan.
    */
  def classifyText(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = filter(split(text, " "), t => t =!= "")
    val sw = aggregate(toks, lit(0.0),
      (acc, t) => acc + ((h60(t) % ClfBuckets) * 2654435761L % 1000003L % 2001L - 1000L) / lit(1000.0))
    round(lit(1.0) / (lit(1.0) + exp(sw / size(toks) * lit(-8.0))), 4)
  }

  def q86QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(spark, dir)
      .select(col("doc_id"), (h60(col("t")) % ClfBuckets).as("b"))
    // w(b) ∈ [-1, 1]: pure 64-bit integer arithmetic, then one divide
    val per = toks
      .withColumn("w", ((col("b") * 2654435761L) % 1000003L % 2001L - 1000L) / lit(1000.0))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("sw"))
    per.select(col("doc_id"), col("n_tok"),
        round(lit(1.0) / (lit(1.0) + exp(col("sw") / col("n_tok") * lit(-8.0))), 4)
          .as("quality_prob"))
      .withColumn("keep", (col("quality_prob") > 0.5).cast("int"))
  }

  val q86Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${h60Sql("t")} % $ClfBuckets AS b
       |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |per AS (
       |  SELECT doc_id, count(*) AS n_tok,
       |         sum(((b * 2654435761) % 1000003 % 2001 - 1000) / 1000.0) AS sw
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id, n_tok,
       |  round(1.0 / (1.0 + exp(sw / n_tok * -8.0)), 4) AS quality_prob,
       |  (round(1.0 / (1.0 + exp(sw / n_tok * -8.0)), 4) > 0.5)::INT AS keep
       |FROM per""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Temperature-based mixture sampling: re-balance the per-source
    * mix with α = 0.5 weighting (share_s ∝ n_s^α — the multilingual /
    * multi-corpus sampling rule), turn shares into integer per-source
    * quotas over a [[MixBudget]]-doc budget, and take each source's
    * quota deterministically by hash rank.
    *
    * Scale shape: per-source counts are a 20-row agg; quotas broadcast
    * back; selection is one rank-per-source window whose partial
    * TopK is bounded by the quota (WindowGroupLimit pushes the
    * rk <= quota cap below the shuffle — same guard as q77).
    * floor(x + 0.5) is the tie-free cross-engine rounding.
    */
  val MixBudget = 200

  def q87MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // the aggregated sqrt-sum is rounded on BOTH engines before the
    // floor quantization: engine-dependent summation order could
    // otherwise flip a quota at a floor boundary by one ulp
    val tot = counts.agg(round(sum(sqrt(col("n_docs"))), 6).as("wsum"))
    val quota = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        floor(sqrt(col("n_docs")) / col("wsum") * MixBudget + 0.5).cast("long").as("quota"))
    val ranked = docs
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(h60(col("doc_id").cast("string")), col("doc_id"))))
    ranked.join(broadcast(quota), "source")
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk"), col("quota"))
  }

  val q87Sql: String =
    s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |t AS (SELECT round(sum(sqrt(n_docs)), 6) AS wsum FROM c),
       |q AS (SELECT source, n_docs,
       |        CAST(floor(sqrt(n_docs) / wsum * $MixBudget + 0.5) AS BIGINT) AS quota
       |      FROM c CROSS JOIN t),
       |r AS (SELECT doc_id, source,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY ${h60Sql("doc_id::VARCHAR")}, doc_id) AS rk
       |      FROM documents)
       |SELECT doc_id, source, rk, quota
       |FROM r JOIN q USING (source)
       |WHERE rk <= quota""".stripMargin

  // ---------------------------------------------------------------- q89
  /** TF-IDF keyword extraction: top-3 terms per document by
    * tf · ln(N/df), ties broken lexically. The per-doc profile used
    * for topic bucketing and mixture audits.
    *
    * Scale shape: tf is a (doc, term)-keyed agg; df is a COUNT
    * WINDOW over tf's term partition (tf is already one row per
    * doc-term) — one lineage, one scan, where a separate df relation
    * plus term-keyed join would recompute tf twice; top-3 per doc
    * runs under WindowGroupLimit so only ≤3 rows per doc survive the
    * final shuffle. Ranking uses the raw score (identical-fold
    * comparisons are safe cross-engine), but the EMITTED score is
    * rounded to 6 decimals: ln() is a transcendental with no
    * bit-identity guarantee between JVM Math.log and DuckDB's libm,
    * so the raw double is not a stable compare target.
    */
  def q89TfIdfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docTokens(spark, dir)
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("t"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("t"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("t").as("token"),
        round(col("score"), 6).as("score"))
  }

  val q89Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok WHERE t <> '' GROUP BY doc_id, t),
      |d AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (SELECT tf.doc_id, tf.t, tf.tf * ln(n_docs::DOUBLE / df) AS score
      |      FROM tf JOIN d USING (t) CROSS JOIN n),
      |r AS (SELECT doc_id, t, score,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, t) AS rk
      |      FROM s)
      |SELECT doc_id, rk, t AS token, round(score, 6) AS score
      |FROM r WHERE rk <= 3""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Bigram-LM perplexity scoring — the CCNet-style quality filter:
    * train an add-1-smoothed bigram language model ON the corpus
    * (bigram + unigram count relations, vocab size V), then score
    * each document by its mean negative log-likelihood
    * avg(-ln((c2+1)/(c1+V))). Low = fluent/common phrasing,
    * high = rare or garbled.
    *
    * Scale shape: all shuffle keys are 8-byte portable hashes of the
    * bigram/unigram (never the strings — the q28 invariant). The
    * bigram counts ride a count window over the bigram relation's own
    * hash partition (one lineage — train and inference share the
    * scan); the unigram model is a separate count relation because it
    * aggregates a DIFFERENT relation (tokens, not bigrams), joined on
    * the first-word hash. Model relations are vocabulary-sized, so at
    * 100 TB they shrink relative to the data; V falls out of c1's row
    * count (no extra distinct pass) and broadcasts as 1 row.
    */
  def q90BigramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val c1 = docTokens(spark, dir)
      .select(h60(col("t")).as("w1h"))
      .groupBy(col("w1h")).agg(count(lit(1)).as("c1"))
    val vocab = c1.agg(count(lit(1)).as("n_vocab"))
    val bg = graft.engine.Cpu.explodeComputed(
        Tables.documents(spark, dir), Seq(col("doc_id")),
        shingles(col("text"), 2), "bg")
      .select(col("doc_id"), h60(col("bg")).as("bgh"),
        h60(split(col("bg"), " ").getItem(0)).as("w1h"))
    // bigram model count as a WINDOW over the bigram-hash partition —
    // one lineage for train + inference (a separate c2 relation joined
    // back re-scans documents and re-pays every md5)
    bg.withColumn("c2", count(lit(1)).over(Window.partitionBy(col("bgh"))))
      .join(c1, "w1h")
      .crossJoin(broadcast(vocab))
      .withColumn("nll", -log((col("c2") + 1.0) / (col("c1") + col("n_vocab"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 2).as("avg_nll"))
  }

  val q90Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${h60Sql("t")} AS w1h
       |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |c1 AS (SELECT w1h, count(*) AS c1 FROM tok GROUP BY w1h),
       |vt AS (SELECT count(*) AS n_vocab FROM c1),
       |bg AS (
       |  SELECT doc_id, ${h60Sql("bg")} AS bgh,
       |         ${h60Sql("str_split(bg, ' ')[1]")} AS w1h
       |  FROM (SELECT doc_id, unnest(${shinglesSql("text", 2)}) AS bg FROM documents)),
       |c2 AS (SELECT bgh, count(*) AS c2 FROM bg GROUP BY bgh)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(avg(-ln((c2 + 1.0) / (c1 + n_vocab))), 2) AS avg_nll
       |FROM bg JOIN c2 USING (bgh) JOIN c1 USING (w1h) CROSS JOIN vt
       |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Curriculum bucketing — assign each document a length-difficulty
    * quartile WITHOUT a global sort: the naive form is
    * `ntile(4) OVER (ORDER BY tok)`, a single-partition window that
    * dies at corpus scale; the scale-first rewrite computes the three
    * quartile cut points as a 1-row aggregate, broadcasts them, and
    * assigns buckets with a narrow CASE — scan-shaped, one tiny
    * exchange for the cuts, one 4-group agg for the report. Cut
    * points use exact interpolated percentiles for oracle parity
    * (q49 precedent); at 100 TB swap in `percentile_approx`
    * (t-digest, mergeable) — assignment plan unchanged. Integer
    * token counts make bucket-boundary ties exact on both engines;
    * avg_tok is an exact-integer sum over one division, bit-identical
    * unrounded.
    */
  def q95CurriculumBuckets(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("tok"))
    val cuts = toks.agg(
      percentile(col("tok"), lit(0.25)).as("c1"),
      percentile(col("tok"), lit(0.5)).as("c2"),
      percentile(col("tok"), lit(0.75)).as("c3"))
    toks.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("tok") <= col("c1"), 1)
          .when(col("tok") <= col("c2"), 2)
          .when(col("tok") <= col("c3"), 3)
          .otherwise(4))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("tok")).as("min_tok"),
        max(col("tok")).as("max_tok"),
        (sum(col("tok")) / count(lit(1))).as("avg_tok"))
      .orderBy(col("bucket"))
  }

  val q95Sql: String =
    """WITH t AS (SELECT doc_id, len(str_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT quantile_cont(tok, 0.25) AS c1, quantile_cont(tok, 0.5) AS c2,
      |             quantile_cont(tok, 0.75) AS c3 FROM t)
      |SELECT CASE WHEN tok <= c1 THEN 1 WHEN tok <= c2 THEN 2
      |            WHEN tok <= c3 THEN 3 ELSE 4 END AS bucket,
      |  count(*) AS n_docs, min(tok) AS min_tok, max(tok) AS max_tok,
      |  sum(tok) / count(*) AS avg_tok
      |FROM t CROSS JOIN c
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q181
  /** Per-source token-distribution drift: KL(P_source ‖ P_corpus)
    * over [[DsirBuckets]] hashed unigram buckets with Laplace
    * smoothing — the mixture-monitoring pass a training pipeline runs
    * to catch a source whose content shifted (crawl drift, template
    * takeover, pipeline bug upstream) before it skews the mix.
    * Cousin of q84 (same bucketed model) at the opposite altitude:
    * DSIR scores each DOC against a target domain; this scores each
    * SOURCE against the corpus.
    *
    * Scale shape: ONE token-keyed shuffle with map-side combine
    * collapses the corpus to (sources × 64) count rows; everything
    * after — the dense grid (zero-count buckets still carry their
    * smoothed mass; a missing row would silently drop its KL term),
    * the three marginals, the per-source fold — is window algebra
    * over that tiny relation. The model never grows with the corpus.
    * ln output → rounded 6 decimals on BOTH engines (libm rule).
    */
  def q181SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.engine.Cpu.explodeComputed(
        Tables.documents(spark, dir), Seq(col("source")),
        split(col("text"), " "), "t")
      .filter(col("t") =!= "")
      .select(col("source"), (h60(col("t")) % DsirBuckets).as("b"))
    val cnt = toks.groupBy(col("source"), col("b")).agg(count(lit(1)).as("c_sb"))
    val grid = cnt.select(col("source")).distinct()
      .crossJoin(spark.range(DsirBuckets).select(col("id").as("b")))
    val dense = grid.join(cnt, Seq("source", "b"), "left_outer")
      .select(col("source"), col("b"), coalesce(col("c_sb"), lit(0L)).as("c_sb"))
      .withColumn("c_b", sum(col("c_sb")).over(Window.partitionBy(col("b"))))
      .withColumn("n_s", sum(col("c_sb")).over(Window.partitionBy(col("source"))))
      .withColumn("n", sum(col("c_sb")).over(Window.partitionBy()))
    val k = lit(DsirBuckets.toDouble)
    val p = (col("c_sb") + 1.0) / (col("n_s") + k)
    val q = (col("c_b") + 1.0) / (col("n") + k)
    dense.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        round(sum(p * log(p / q)), 6).as("kl"))
      .orderBy(col("source"))
  }

  val q181Sql: String =
    s"""WITH tok AS (
       |  SELECT source, ${h60Sql("t")} % $DsirBuckets AS b
       |  FROM (SELECT source, unnest(str_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |cnt AS (SELECT source, b, count(*) AS c_sb FROM tok GROUP BY 1, 2),
       |grid AS (SELECT s.source, r.range AS b
       |  FROM (SELECT DISTINCT source FROM tok) s CROSS JOIN range($DsirBuckets) r),
       |dense AS (
       |  SELECT g.source, g.b, coalesce(c.c_sb, 0) AS c_sb
       |  FROM grid g LEFT JOIN cnt c ON g.source = c.source AND g.b = c.b),
       |enr AS (
       |  SELECT source, c_sb,
       |    sum(c_sb) OVER (PARTITION BY b) AS c_b,
       |    sum(c_sb) OVER (PARTITION BY source) AS n_s,
       |    sum(c_sb) OVER () AS n
       |  FROM dense)
       |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
       |  round(sum(((c_sb + 1.0) / (n_s + $DsirBuckets.0))
       |    * ln(((c_sb + 1.0) / (n_s + $DsirBuckets.0))
       |        / ((c_b + 1.0) / (n + $DsirBuckets.0)))), 6) AS kl
       |FROM enr GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- streaming drift gate
  /** Frozen reference distribution for the streaming drift monitor:
    * the corpus' Laplace-smoothed bucket probabilities — exactly the
    * Q side of [[q181SourceDrift]]'s KL, collected once
    * ([[DsirBuckets]] doubles: bounded model state, the broadcast
    * posture of every index this engine serves streams against). */
  def buildDriftRef(docs: DataFrame): Array[Double] = {
    val cnt = graft.engine.Cpu.explodeComputed(docs, Seq.empty,
        split(col("text"), " "), "t")
      .filter(col("t") =!= "")
      .groupBy((h60(col("t")) % DsirBuckets).as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val n = cnt.values.sum
    Array.tabulate(DsirBuckets)(b =>
      (cnt.getOrElse(b, 0L) + 1.0) / (n + DsirBuckets.toDouble))
  }

  /** One drift verdict for an arbitrary `(… text …)` batch against a
    * frozen reference: smoothed batch distribution, KL(batch ‖ ref),
    * one output row `(n_tokens, kl)`. The per-trigger cost is one
    * map-side-combined 64-key agg over the batch — ingest-rate-bound;
    * the reference never rescans. ScoringSpec pins streaming ≡
    * one-shot across micro-batch boundaries and that a
    * planted-drift batch scores strictly higher than an
    * in-distribution one. */
  def driftAgainst(ref: Array[Double], batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val cnt = graft.engine.Cpu.explodeComputed(batch, Seq.empty,
        split(col("text"), " "), "t")
      .filter(col("t") =!= "")
      .groupBy((h60(col("t")) % DsirBuckets).as("b"))
      .agg(count(lit(1)).as("c"))
    val dense = spark.range(DsirBuckets).select(col("id").as("b"))
      .join(cnt, Seq("b"), "left_outer")
      .select(col("b"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val k = lit(DsirBuckets.toDouble)
    val p = (col("c") + 1.0) / (col("n") + k)
    val q = element_at(typedLit(ref.toSeq), col("b").cast("int") + 1)
    dense.agg(max(col("n")).as("n_tokens"),
      round(sum(p * log(p / q)), 6).as("kl"))
  }

  // --------------------------------------------------------------- q182
  /** Vocabulary-growth (novelty) curve: treating `doc_id % 10` as the
    * ingest order, the count of NEVER-SEEN-BEFORE distinct tokens
    * each batch contributes, plus the cumulative vocabulary — the
    * Heaps-law saturation measure that tells a collection pipeline
    * when more of the same source stops adding new content (and,
    * inverted, flags a batch whose novelty SPIKES — format break or
    * contamination).
    *
    * Scale shape: one token-hash-keyed shuffle (map-side combined
    * min) collapses the corpus to one row per distinct token; the
    * per-batch rollup and the 10-row cumulative window are free.
    * All-integer output — exact on both engines.
    */
  def q182VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    // word BIGRAMS as the vocabulary unit: the synthetic corpus'
    // unigram vocabulary is ~40 words (saturates in the first batch —
    // a 1-row curve); bigrams give the combinatorial vocabulary a
    // real tokenizer-training run sees
    val toks = graft.engine.Cpu.explodeComputed(
        Tables.documents(spark, dir), Seq(col("doc_id")),
        shingles(col("text"), 2), "t")
      .select((col("doc_id") % 10).as("d"), h60(col("t")).as("th"))
    toks.groupBy(col("th")).agg(min(col("d")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_new"))
      // global window over ≤ 10 rows (d = doc_id % 10) — bounded at
      // any corpus size, the WindowExec warning is benign
      .withColumn("cum_vocab", sum(col("n_new")).over(
        Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("d"))
  }

  val q182Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id % 10 AS d, ${h60Sql("t")} AS th
       |  FROM (SELECT doc_id, unnest(${shinglesSql("text", 2)}) AS t FROM documents)),
       |f AS (SELECT th, min(d) AS d FROM tok GROUP BY th)
       |SELECT d, count(*) AS n_new,
       |  CAST(sum(count(*)) OVER (ORDER BY d) AS BIGINT) AS cum_vocab
       |FROM f GROUP BY d ORDER BY d""".stripMargin

  // --------------------------------------------------------------- q185
  /** The streaming drift monitor graded END-TO-END: the reference
    * distribution is frozen from the corpus split (`doc_id % 10 < 8`,
    * [[buildDriftRef]] — 64 doubles of broadcast model state), then
    * the ingest split is driven through an actual
    * [[graft.streaming.Streams.streamingDriftMonitor]] StreamingQuery
    * from a FILE source (the production posture: parquet drops into a
    * watched directory) in two deliberate triggers — docs ending in 8,
    * then in 9 — and each trigger's `(n_tokens, kl)` verdict is graded
    * against a DuckDB replay of the same two batches. Unlike q184,
    * the output here is batch-DEPENDENT (one KL per trigger), so this
    * row grades the trigger protocol itself, not just the probe.
    *
    * Driver-side pieces are grading harness: the two writes feed the
    * watched directory deterministically, and the sink accumulates
    * one bounded verdict row per trigger (batch ordinal = arrival
    * order; empty no-op triggers emit nothing). The per-trigger work
    * — one 64-key map-side-combined agg — runs distributed. */
  def q185StreamingDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val ref = buildDriftRef(docs.filter(col("doc_id") % 10 < 8))
    val ingest = docs.filter(col("doc_id") % 10 >= 8)
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    // batch_id = arrival ordinal of TOKEN-BEARING verdicts: the
    // monitor already suppresses rowless triggers, and a rows-but-
    // zero-tokens batch (all-whitespace texts) is additionally
    // skipped here because it contributes nothing to the token
    // stream — the oracle's dense_rank over token-bearing ingest
    // slices assigns ordinals by exactly the same rule, so the two
    // sides agree even on degenerate corpora (round-11 review
    // finding: an n_tokens=0 verdict row has no oracle twin and
    // would shift every later ordinal)
    graft.streaming.FileDrip.drive(Seq(
      ingest.filter(col("doc_id") % 10 === 8),
      ingest.filter(col("doc_id") % 10 === 9))) { stream =>
      graft.streaming.Streams.streamingDriftMonitor(
        stream, ref, "q185_streaming_drift") { (_, verdict) =>
        verdict.collect().foreach { r =>
          if (r.getLong(0) > 0L)
            acc.add(Row(acc.size.toLong, r.getLong(0), r.getDouble(1)))
        }
      }
    }
    val schema = StructType(Seq(
      StructField("batch_id", LongType),
      StructField("n_tokens", LongType),
      StructField("kl", DoubleType)))
    spark.createDataFrame(
        java.util.Arrays.asList(acc.toArray(Array.empty[Row]): _*), schema)
      .orderBy(col("batch_id"))
  }

  val q185Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id % 10 AS d, ${h60Sql("t")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |refc AS (SELECT b, count(*) AS c FROM tok WHERE d < 8 GROUP BY b),
       |ref AS (SELECT r.range AS b,
       |    (coalesce(c.c, 0) + 1.0)
       |      / ((SELECT count(*) FROM tok WHERE d < 8) + $DsirBuckets.0) AS q
       |  FROM range($DsirBuckets) r LEFT JOIN refc c ON r.range = c.b),
       |bat AS (SELECT dense_rank() OVER (ORDER BY d) - 1 AS batch_id, b
       |  FROM tok WHERE d >= 8),
       |bcnt AS (SELECT batch_id, b, count(*) AS c FROM bat GROUP BY 1, 2),
       |grid AS (SELECT g.batch_id, r.range AS b
       |  FROM (SELECT DISTINCT batch_id FROM bat) g CROSS JOIN range($DsirBuckets) r),
       |dense AS (SELECT g.batch_id, g.b, coalesce(c.c, 0) AS c
       |  FROM grid g LEFT JOIN bcnt c ON g.batch_id = c.batch_id AND g.b = c.b),
       |enr AS (SELECT batch_id, b, c,
       |    sum(c) OVER (PARTITION BY batch_id) AS n
       |  FROM dense)
       |SELECT e.batch_id::BIGINT AS batch_id, CAST(max(e.n) AS BIGINT) AS n_tokens,
       |  round(sum(((e.c + 1.0) / (e.n + $DsirBuckets.0))
       |    * ln(((e.c + 1.0) / (e.n + $DsirBuckets.0)) / r.q)), 6) AS kl
       |FROM enr e JOIN ref r ON e.b = r.b
       |GROUP BY e.batch_id ORDER BY e.batch_id""".stripMargin

  // --------------------------------------------------------------- q187
  /** BM25 retrieval scoring (Robertson-Sparck Jones; Lucene's +1 idf
    * variant so idf is always positive): the top-20 documents for a
    * fixed keyword query — the lexical-retrieval half every RAG /
    * eval-harness pipeline needs next to the embedding ANN family
    * (q34/q61/q173), and the query-side cousin of q89's corpus-side
    * TF-IDF keywords.
    *
    * Scale shape: ONE map-side-combined token shuffle builds the
    * compressed (doc, term, tf) relation — the inverted-index
    * posture — materialized once (it feeds both the corpus stats and
    * the candidate scoring; the twice-read rule). Document length
    * rides a window over that compressed relation, the query filter
    * cuts it to candidates-only before any join, and df/avgdl/N are
    * broadcast scalars. Nothing downstream of the first shuffle
    * touches the raw token stream again. Scores: ln output → rounded
    * 6 on both engines (libm rule), rank on the rounded value with
    * doc_id tie-break. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Query: Seq[String] = Seq("hash", "join", "filter")
  // declared BEFORE q188Sql: a val-initialized SQL string that reads a
  // LATER val interpolates its zero default (bit this round: LIMIT 0)
  val HybridCand = 50

  /** The compressed corpus posting relation (doc, term, tf), built
    * and checkpointed ONCE per query invocation — every BM25 surface
    * (q187 single-query, q194/q195 multi-query) derives from it, and
    * q195's relevance relation reads it instead of re-tokenizing the
    * corpus (r12 review #2). */
  private[graft] def corpusTfd(spark: SparkSession, dir: String): DataFrame =
    Iterate.measured(
      tfdOf(Tables.documents(spark, dir).select(col("doc_id"), col("text"))))

  /** Broadcast (qid, t) query→term relation — explicit schema, not
    * spark.implicits (the TypeTag product encoder breaks under the
    * driver's plain-java launch). */
  private def queryTermsDf(spark: SparkSession,
      sets: Seq[(Int, Seq[String])]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = sets.flatMap { case (q, ts) => ts.map(t => Row(q, t)) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("qid", IntegerType),
        StructField("t", StringType))))
  }

  /** ONE BM25 scoring chain for any query set (r12 review: the
    * single- and multi-query paths previously duplicated the whole
    * pipeline): rounded score per (qid, doc) over a prebuilt posting
    * relation, the query mapping a broadcast relation — added
    * queries cost zero extra corpus scans. */
  private def bm25From(tfd: DataFrame, terms: Seq[String],
      qterms: DataFrame): DataFrame = {
    val stats = tfd.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val qtf = tfd
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .filter(col("t").isin(terms: _*))
    val dfp = qtf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    qtf.join(broadcast(dfp), Seq("t")).crossJoin(broadcast(stats))
      .join(broadcast(qterms), Seq("t"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s", col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) /
        (col("tf") + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy(col("qid"), col("doc_id")).agg(round(sum(col("s")), 6).as("bm25"))
  }

  /** Every candidate's rounded BM25 for [[Bm25Query]] — the shared
    * relation behind graded q187 (top-20) and q188 (hybrid rerank).
    * The single query rides the multi-query chain as qid 0. */
  private[graft] def bm25Scores(spark: SparkSession, dir: String): DataFrame =
    bm25From(corpusTfd(spark, dir), Bm25Query,
        queryTermsDf(spark, Seq(0 -> Bm25Query)))
      .select(col("doc_id"), col("bm25"))

  def q187Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)

  /** ONE oracle-side BM25 CTE body for any (qid, t) VALUES list,
    * ending in `bmq(qid, doc_id, bm25)` — the formula lives in
    * exactly one string (r12 review: the single- and multi-query
    * oracles previously restated it). */
  private def bm25SqlCtesFor(mqVals: String): String =
    s"""tok AS (SELECT doc_id, t
       |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |tfd AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dls AS (SELECT doc_id, sum(tf) AS dl FROM tfd GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dls),
       |mq(qid, t) AS (VALUES $mqVals),
       |qtf AS (SELECT f.doc_id, f.t, f.tf, d.dl
       |  FROM tfd f JOIN (SELECT DISTINCT t FROM mq) u USING (t)
       |  JOIN dls d USING (doc_id)),
       |dfp AS (SELECT t, count(*) AS df FROM qtf GROUP BY t),
       |bmq AS (SELECT m.qid, c.doc_id, round(sum(
       |    ln((s.n_docs - p.df + 0.5) / (p.df + 0.5) + 1.0)
       |    * (c.tf * ${Bm25K1 + 1.0})
       |    / (c.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * c.dl / s.avgdl))), 6) AS bm25
       |  FROM qtf c JOIN dfp p USING (t) JOIN mq m USING (t) CROSS JOIN stats s
       |  GROUP BY m.qid, c.doc_id)""".stripMargin

  /** Shared CTE prefix for the single-query rows: `bm(doc_id, bm25)`. */
  private def bm25SqlCtes: String = {
    val vals = Bm25Query.map(t => s"(0, '$t')").mkString(", ")
    s"""WITH ${bm25SqlCtesFor(vals)},
       |bm AS (SELECT doc_id, bm25 FROM bmq)""".stripMargin
  }

  val q187Sql: String =
    s"""$bm25SqlCtes
       |SELECT doc_id, bm25 FROM bm
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // Shared retrieval CTE strings — the oracle-side mirror of the
  // Scala hybridFrom/rrfFrom seams, so each formula (blend weights,
  // RRF constant, rounding) lives in exactly ONE string and q188/
  // q189/q190 can never silently diverge (r12 review finding).

  /** `cand`: the top-[[HybridCand]] BM25 candidates (needs `bm`). */
  private def candCteSql: String =
    s"cand AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT $HybridCand)"

  /** `qv`: query vector 0 and its norm. */
  private def qvCteSql: String =
    """qv AS (SELECT embedding AS qe,
      |    sqrt(list_sum(list_transform(embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
      |  FROM embeddings WHERE vec_id = 0)""".stripMargin

  /** `hyb(doc_id, bm25, cosine, hybrid)`: the q188 rerank over
    * `cand` + `qv`. */
  private def hybCteSql: String = {
    val dim = graft.pipeline.Similarity.Dim
    s"""scored AS (SELECT c.doc_id, c.bm25,
       |    coalesce(round(list_sum(list_transform(range($dim), k ->
       |        CAST(e.embedding[k+1] AS DOUBLE) * CAST(v.qe[k+1] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(e.embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * v.qn), 6),
       |      0.0) AS cosine
       |  FROM cand c CROSS JOIN qv v
       |  LEFT JOIN embeddings e ON e.vec_id = c.doc_id),
       |hyb AS (SELECT doc_id, bm25, cosine,
       |    round(0.5 * bm25 / (SELECT max(bm25) FROM cand) + 0.5 * cosine, 6) AS hybrid
       |  FROM scored)""".stripMargin
  }

  /** `lexr/dns/rrfs`: integer rank lists over `cand` + `qv` and the
    * q189 RRF scores (nullable ranks — the final selects coalesce). */
  private def rrfCteSql: String = {
    val dim = graft.pipeline.Similarity.Dim
    s"""lexr AS (SELECT doc_id, lex_rank FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |    FROM cand) WHERE lex_rank <= $HybridCand),
       |dns AS (SELECT doc_id, dense_rank FROM (
       |    SELECT e.vec_id AS doc_id,
       |      row_number() OVER (ORDER BY
       |        round(list_sum(list_transform(range($dim), k ->
       |            CAST(e.embedding[k+1] AS DOUBLE) * CAST(v.qe[k+1] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(e.embedding,
       |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * v.qn), 6)
       |        DESC, e.vec_id) AS dense_rank
       |    FROM embeddings e CROSS JOIN qv v) WHERE dense_rank <= $HybridCand),
       |rrfs AS (SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
       |    l.lex_rank, d.dense_rank,
       |    round(coalesce(1.0 / (l.lex_rank + $RrfK), 0)
       |        + coalesce(1.0 / (d.dense_rank + $RrfK), 0), 6) AS rrf
       |  FROM lexr l FULL OUTER JOIN dns d ON l.doc_id = d.doc_id)""".stripMargin
  }

  val q188Sql: String =
    s"""$bm25SqlCtes,
       |$candCteSql,
       |$qvCteSql,
       |$hybCteSql
       |SELECT doc_id, bm25, cosine, hybrid
       |FROM hyb ORDER BY hybrid DESC, doc_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q188
  /** Hybrid retrieval: BM25 lexical candidates reranked by embedding
    * cosine to a query vector — the standard two-stage RAG serving
    * shape (cheap inverted-index recall, dense rerank on the short
    * list). The query vector is the corpus' own vec 0 (bounded model
    * state, collected once); candidates are the top-[[HybridCand]]
    * BM25 docs; the final score is
    * `0.5·bm25/max_bm25 + 0.5·cosine`, with docs OUTSIDE the
    * embedding coverage kept at their lexical score (cosine 0) —
    * vectors covering a subset of the corpus is the normal deployment
    * state (at sf0.1 only the first 500 of 5000 docs embed), and a
    * reranker that silently drops uncovered candidates is the same
    * inner-join bug class the outlier gate fixed this round.
    *
    * Scale shape: the rerank touches only [[HybridCand]] rows — one
    * broadcast-able candidate set joined to the embeddings table on
    * its key, one codegen'd `graft_cosine` per candidate. Rounding:
    * bm25 (rounded 6) and cosine (rounded 6) are both grading units;
    * the blend re-rounds, and every comparison is on rounded values
    * with doc_id tie-breaks. */
  def q188HybridRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qv: Seq[Float] = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    // materialized: cand feeds BOTH the max-normalizer and the rerank
    // join — the twice-read rule (an unmaterialized lineage would
    // re-derive the whole BM25 pipeline above the checkpoint twice)
    val cand = Iterate.measured(bm25Scores(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(HybridCand))
    hybridFrom(cand, emb, qv)
  }

  /** The q188 rerank from an already-materialized candidate relation
    * — shared with q190's eval harness so ONE BM25 pass feeds every
    * ranking it grades (three independent bm25Scores lineages inside
    * one query would re-run the token shuffle three times). */
  private def hybridFrom(cand: DataFrame, emb: DataFrame,
      qv: Seq[Float]): DataFrame = {
    val mx = cand.agg(max(col("bm25")).as("mx"))
    cand.join(emb.select(col("vec_id").as("doc_id"),
        col("embedding")), Seq("doc_id"), "left_outer")
      .withColumn("qv", typedLit(qv))
      .withColumn("cosine", coalesce(
        round(expr("graft_cosine(embedding, qv)"), 6), lit(0.0)))
      .crossJoin(broadcast(mx))
      .select(col("doc_id"), col("bm25"), col("cosine"),
        round(lit(0.5) * col("bm25") / col("mx") + lit(0.5) * col("cosine"), 6)
          .as("hybrid"))
      .orderBy(col("hybrid").desc, col("doc_id")).limit(10)
  }

  // --------------------------------------------------------------- q189
  /** Reciprocal-rank fusion (Cormack et al. 2009): the OTHER standard
    * way to combine lexical and dense retrieval — fuse by RANK
    * position (`Σ 1/(k + rank)`, k = 60) instead of q188's score
    * blend. Production systems often prefer RRF exactly because it
    * needs no score normalization; for the grading gate it has the
    * added property that ranks are INTEGERS (dense_rank over the
    * rounded per-system scores with doc_id tie-breaks), so the fused
    * score is a sum of exact rationals — rounded once at the end, no
    * cross-engine float-ordering hazard anywhere upstream.
    *
    * Scale shape: both rank lists are top-[[HybridCand]] candidate
    * sets (the BM25 relation is candidates-only by construction; the
    * cosine side ranks the embedding table against the broadcast
    * query vector — one scan, TakeOrdered). The fusion is a
    * full-outer join of two ≤50-row lists: driver-trivial, and the
    * absent-from-one-list doc simply contributes one term — RRF's
    * standard missing-rank semantics, no silent drops. */
  val RrfK = 60

  def q189RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qv: Seq[Float] = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    rrfFrom(bm25Scores(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(HybridCand), emb, qv)
  }

  /** The q189 fusion from an already-built top-[[HybridCand]] BM25
    * candidate relation — shared with q190 (same reason as
    * [[hybridFrom]]). */
  private def rrfFrom(cand: DataFrame, emb: DataFrame,
      qv: Seq[Float]): DataFrame = {
    // TakeOrdered top-K FIRST, then rank the tiny result — a global
    // row_number window over the unlimited relation would funnel the
    // whole table through one partition at scale
    val lexRank = cand
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val denseRank = emb
      .withColumn("qv", typedLit(qv))
      .select(col("vec_id").as("doc_id"),
        round(expr("graft_cosine(embedding, qv)"), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(HybridCand)
      .withColumn("dense_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("dense_rank"))
    lexRank.join(denseRank, Seq("doc_id"), "full_outer")
      // rrf computed BEFORE the ranks are re-aliased to their
      // coalesced display forms: a sibling expression in one select
      // can lateral-bind to the NEW alias (never null) and silently
      // award missing ranks 1/(0+k) — the q55 alias-shadowing bug
      // class. null rank + k stays null; coalesce supplies the
      // missing-list 0 term, RRF's standard semantics.
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("lex_rank") + lit(RrfK)), lit(0.0)) +
        coalesce(lit(1.0) / (col("dense_rank") + lit(RrfK)), lit(0.0)), 6))
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).cast("int").as("dense_rank"),
        col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
  }

  val q189Sql: String =
    s"""$bm25SqlCtes,
       |$candCteSql,
       |$qvCteSql,
       |$rrfCteSql
       |SELECT doc_id,
       |  CAST(coalesce(lex_rank, 0) AS INT) AS lex_rank,
       |  CAST(coalesce(dense_rank, 0) AS INT) AS dense_rank,
       |  rrf
       |FROM rrfs ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q190
  /** Retrieval evaluation metrics — nDCG@k, recall@k, precision@k of
    * the three retrieval rankings (q187 BM25, q188 hybrid rerank,
    * q189 RRF fusion) against a deterministic relevance rule: a
    * document's grade is the number of DISTINCT [[Bm25Query]] terms
    * it contains (0-3) — the token-overlap relevance any eval harness
    * can compute without human labels, and what a RAG pipeline
    * reports next to its rankings.
    *
    * Grading-stable by construction: relevance grades and ranks are
    * INTEGERS, gains are exact ((1 << rel) − 1 ∈ {0,1,3,7}), each
    * DCG term is rounded to 6 before summing (the ln-based log2
    * denominator is the only float input, computed identically from
    * integer ranks on both engines — the libm rule), and every final
    * metric re-rounds once. Scale shape: ONE materialized BM25
    * candidate relation feeds all three rankings (the shared
    * [[hybridFrom]]/[[rrfFrom]] seams); the relevance relation
    * filters to query terms BEFORE its one tiny shuffle; every list
    * is ≤k rows before any window. */
  val EvalK = 10

  def q190RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qv: Seq[Float] = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    // one tokenize pass for the WHOLE eval (r18): the checkpointed
    // posting relation feeds the BM25 chain AND the relevance
    // relation below — the q195 posture; q190 previously re-tokenized
    // the corpus a second time just to count query terms per doc.
    val tfd = corpusTfd(spark, dir)
    // one BM25 pass; the checkpoint feeds the lex list, the hybrid
    // rerank, and the RRF lex leg
    val cand = Iterate.measured(
      bm25From(tfd, Bm25Query, queryTermsDf(spark, Seq(0 -> Bm25Query)))
        .select(col("doc_id"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(HybridCand))
    // global windows here rank ≤ EvalK-row limited relations (TakeOrdered
    // first, then rank the tiny result) — bounded at any scale, the
    // WindowExec warnings are benign
    def top10(df: DataFrame, score: Column): DataFrame =
      df.orderBy(score.desc, col("doc_id")).limit(EvalK)
        .withColumn("rn", row_number().over(
          Window.orderBy(score.desc, col("doc_id"))))
        .select(col("doc_id"), col("rn"))
    val lists = Seq(
      "bm25" -> top10(cand, col("bm25")),
      "hybrid" -> top10(hybridFrom(cand, emb, qv), col("hybrid")),
      "rrf" -> top10(rrfFrom(cand, emb, qv), col("rrf")))
    // relevance: distinct query terms per doc, read off the posting
    // relation (tfd rows are already distinct per (doc, t), so a
    // filtered count(*) IS the distinct-term count — the q195
    // comment, now applied here too). Materialized once: it feeds
    // the ideal ranking, the total-relevant scalar, and all three
    // per-list joins.
    val rel = Iterate.measured(tfd.filter(col("t").isin(Bm25Query: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("rel")))
    // gain (1 << rel) − 1 ∈ {0,1,3,7}: the DataFrame shiftleft only
    // takes a literal shift, so the column-shift goes through expr
    val gain = expr("shiftleft(1, rel)") - lit(1)
    def dcgTerm(rnCol: Column): Column =
      round(gain.cast("double") / (log(rnCol + lit(1)) / log(lit(2.0))), 6)
    val idcgRow = rel
      .orderBy(col("rel").desc, col("doc_id")).limit(EvalK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rel").desc, col("doc_id"))))
      .agg(sum(dcgTerm(col("rn"))).as("idcg"))
    val totRow = rel.agg(count(lit(1)).cast("double").as("totrel"))
    val evals = lists.map { case (sys, lst) =>
      lst.join(rel, Seq("doc_id"), "left_outer")
        .na.fill(0, Seq("rel"))
        .agg(sum(dcgTerm(col("rn"))).as("dcg"),
          sum(when(col("rel") > 0, 1).otherwise(0)).cast("double").as("nrel"))
        .crossJoin(broadcast(idcgRow)).crossJoin(broadcast(totRow))
        .select(lit(sys).as("system"),
          when(col("idcg") > 0, round(col("dcg") / col("idcg"), 6))
            .otherwise(lit(0.0)).as("ndcg10"),
          when(col("totrel") > 0, round(col("nrel") / col("totrel"), 6))
            .otherwise(lit(0.0)).as("recall10"),
          round(col("nrel") / lit(EvalK.toDouble), 6).as("precision10"))
    }
    evals.reduce(_.unionByName(_)).orderBy(col("system"))
  }

  val q190Sql: String = {
    s"""$bm25SqlCtes,
       |$candCteSql,
       |$qvCteSql,
       |$hybCteSql,
       |$rrfCteSql,
       |lexl AS (SELECT doc_id, rn FROM (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn FROM cand)
       |  WHERE rn <= $EvalK),
       |hybl AS (SELECT doc_id, rn FROM (SELECT doc_id,
       |    row_number() OVER (ORDER BY hybrid DESC, doc_id) AS rn FROM hyb)
       |  WHERE rn <= $EvalK),
       |rrfl AS (SELECT doc_id, rn FROM (SELECT doc_id,
       |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM rrfs)
       |  WHERE rn <= $EvalK),
       |rel AS (SELECT doc_id, CAST(count(DISTINCT t) AS INT) AS rel
       |  FROM qtf GROUP BY doc_id),
       |idcg AS (SELECT sum(round(CAST((1 << rel) - 1 AS DOUBLE)
       |      / (ln(rn + 1) / ln(2)), 6)) AS idcg
       |  FROM (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rn
       |        FROM rel) WHERE rn <= $EvalK),
       |tot AS (SELECT CAST(count(*) AS DOUBLE) AS totrel FROM rel),
       |lists AS (
       |  SELECT 'bm25' AS system, doc_id, rn FROM lexl
       |  UNION ALL SELECT 'hybrid', doc_id, rn FROM hybl
       |  UNION ALL SELECT 'rrf', doc_id, rn FROM rrfl),
       |ev AS (SELECT l.system,
       |    sum(round(CAST((1 << coalesce(r.rel, 0)) - 1 AS DOUBLE)
       |      / (ln(l.rn + 1) / ln(2)), 6)) AS dcg,
       |    CAST(sum(CASE WHEN coalesce(r.rel, 0) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nrel
       |  FROM lists l LEFT JOIN rel r ON l.doc_id = r.doc_id
       |  GROUP BY l.system)
       |SELECT e.system,
       |  CASE WHEN i.idcg > 0 THEN round(e.dcg / i.idcg, 6) ELSE 0.0 END AS ndcg10,
       |  CASE WHEN t.totrel > 0 THEN round(e.nrel / t.totrel, 6) ELSE 0.0 END AS recall10,
       |  round(e.nrel / $EvalK.0, 6) AS precision10
       |FROM ev e CROSS JOIN idcg i CROSS JOIN tot t
       |ORDER BY e.system""".stripMargin
  }

  // --------------------------------------------------------- q194/q195
  /** Multi-query BM25 batch scoring — the actual retrieval-serving
    * shape: a SET of keyword queries scored against the corpus from
    * ONE shared inverted-index pass. The full-token (doc, term, tf)
    * relation is built and checkpointed once (exactly q187's
    * posture); the query→term mapping is a broadcast relation, so
    * adding queries adds ZERO corpus scans — per-query cost is a
    * broadcast join plus one (qid, doc) hash-agg over the
    * candidates-only relation. q194 grades the top-5 per query
    * (rank-window capped below the shuffle, the q89 WindowGroupLimit
    * pattern); q195 grades nDCG@10 / MRR@10 / AP@10 per query
    * against the q190 token-overlap relevance rule — MRR and AP are
    * pure rationals (ranks and cumulative-relevant counts), nDCG
    * uses the q190 rounded-term fold. */
  val EvalQuerySets: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join", "filter"),
    2 -> Seq("sort", "merge", "window"),
    3 -> Seq("scan", "table", "column"))

  /** Every (qid, doc, rounded bm25) for [[EvalQuerySets]] over a
    * prebuilt posting relation. */
  private[graft] def bm25MultiScores(spark: SparkSession,
      tfd: DataFrame): DataFrame =
    bm25From(tfd, EvalQuerySets.flatMap(_._2).distinct,
      queryTermsDf(spark, EvalQuerySets))

  val MultiTopK = 5

  def q194Bm25Multi(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("bm25").desc, col("doc_id"))
    bm25MultiScores(spark, corpusTfd(spark, dir))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MultiTopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("bm25"))
      .orderBy(col("qid"), col("rank"))
  }

  def q195MultiqueryEval(spark: SparkSession, dir: String): DataFrame = {
    val tfd = corpusTfd(spark, dir)
    val union = EvalQuerySets.flatMap(_._2).distinct
    val qterms = queryTermsDf(spark, EvalQuerySets)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("bm25").desc, col("doc_id"))
    val top = bm25MultiScores(spark, tfd)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= EvalK)
      .select(col("qid"), col("doc_id"), col("rn"))
    // relevance from the SAME posting relation (tfd rows are already
    // distinct per (doc, t) — no second corpus tokenize pass); read
    // three times (ideal ranking, totals, per-list join)
    val rel = Iterate.measured(tfd.filter(col("t").isin(union: _*))
      .join(broadcast(qterms), Seq("t"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).cast("int").as("rel")))
    val gain = expr("shiftleft(1, rel)") - lit(1)
    def dcgTerm(rn: Column): Column =
      round(gain.cast("double") / (log(rn + lit(1)) / log(lit(2.0))), 6)
    val widcg = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("doc_id"))
    val idcg = rel.withColumn("rn", row_number().over(widcg))
      .filter(col("rn") <= EvalK)
      .groupBy(col("qid")).agg(sum(dcgTerm(col("rn"))).as("idcg"))
    val tot = rel.groupBy(col("qid"))
      .agg(count(lit(1)).cast("double").as("totrel"))
    val j = top.join(rel, Seq("qid", "doc_id"), "left_outer")
      .na.fill(0, Seq("rel"))
    val wcum = Window.partitionBy(col("qid")).orderBy(col("rn"))
    val jc = j.withColumn("cumrel",
      sum(when(col("rel") > 0, 1).otherwise(0)).over(wcum))
    val ev = jc.groupBy(col("qid")).agg(
      sum(dcgTerm(col("rn"))).as("dcg"),
      max(when(col("rel") > 0, lit(1.0) / col("rn")).otherwise(lit(0.0)))
        .as("mrrraw"),
      sum(when(col("rel") > 0, col("cumrel").cast("double") / col("rn"))
        .otherwise(lit(0.0))).as("apnum"))
    // qid SPINE: a query whose terms match no document must REPORT
    // zero metrics, not vanish from the eval output (r12 review —
    // NULLs from the left joins fall through when()'s non-true
    // branch to the 0.0 default)
    val spine = qterms.select(col("qid")).distinct()
    spine.join(ev, Seq("qid"), "left_outer")
      .join(idcg, Seq("qid"), "left_outer")
      .join(tot, Seq("qid"), "left_outer")
      .select(col("qid"),
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 6))
          .otherwise(lit(0.0)).as("ndcg10"),
        coalesce(round(col("mrrraw"), 6), lit(0.0)).as("mrr10"),
        // guard on coalesce(totrel, 0): a qid whose terms match no
        // document has totrel NULL after the spine left join, and
        // least() IGNORES NULLs — least(NULL, 10) = 10 would pass the
        // guard and emit ap10 = NULL instead of the documented 0.0
        // (r12 advice)
        when(coalesce(col("totrel"), lit(0.0)) > 0,
          round(col("apnum") / least(col("totrel"), lit(EvalK.toDouble)), 6))
          .otherwise(lit(0.0)).as("ap10"))
      .orderBy(col("qid"))
  }

  /** Multi-query CTE chain ending in `bmq(qid, doc_id, bm25)` — same
    * single-sourced body as [[bm25SqlCtes]]. */
  private def bm25MultiSqlCtes: String = {
    val mqVals = EvalQuerySets
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    "WITH " + bm25SqlCtesFor(mqVals)
  }

  val q194Sql: String =
    s"""$bm25MultiSqlCtes
       |SELECT qid, rank, doc_id, bm25 FROM (
       |  SELECT qid, doc_id, bm25,
       |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
       |  FROM bmq)
       |WHERE rank <= $MultiTopK ORDER BY qid, rank""".stripMargin

  val q195Sql: String =
    s"""$bm25MultiSqlCtes,
       |rel AS (SELECT m.qid, q.doc_id, CAST(count(*) AS INT) AS rel
       |  FROM qtf q JOIN mq m USING (t) GROUP BY m.qid, q.doc_id),
       |top AS (SELECT qid, doc_id, rn FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rn
       |    FROM bmq) WHERE rn <= $EvalK),
       |idcg AS (SELECT qid, sum(round(CAST((1 << rel) - 1 AS DOUBLE)
       |      / (ln(rn + 1) / ln(2)), 6)) AS idcg
       |  FROM (SELECT qid, rel,
       |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS rn
       |    FROM rel) WHERE rn <= $EvalK GROUP BY qid),
       |tot AS (SELECT qid, CAST(count(*) AS DOUBLE) AS totrel FROM rel GROUP BY qid),
       |j AS (SELECT t.qid, t.rn, coalesce(r.rel, 0) AS rel
       |  FROM top t LEFT JOIN rel r ON t.qid = r.qid AND t.doc_id = r.doc_id),
       |jc AS (SELECT qid, rn, rel,
       |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY qid ORDER BY rn) AS cumrel
       |  FROM j),
       |ev AS (SELECT qid,
       |    sum(round(CAST((1 << rel) - 1 AS DOUBLE) / (ln(rn + 1) / ln(2)), 6)) AS dcg,
       |    max(CASE WHEN rel > 0 THEN 1.0 / rn ELSE 0.0 END) AS mrrraw,
       |    sum(CASE WHEN rel > 0 THEN CAST(cumrel AS DOUBLE) / rn ELSE 0.0 END) AS apnum
       |  FROM jc GROUP BY qid)
       |SELECT q.qid,
       |  CASE WHEN i.idcg > 0 THEN round(e.dcg / i.idcg, 6) ELSE 0.0 END AS ndcg10,
       |  coalesce(round(e.mrrraw, 6), 0.0) AS mrr10,
       |  CASE WHEN coalesce(t.totrel, 0.0) > 0
       |    THEN round(e.apnum / least(t.totrel, ${EvalK}.0), 6) ELSE 0.0 END AS ap10
       |FROM (SELECT DISTINCT qid FROM mq) q
       |LEFT JOIN ev e USING (qid)
       |LEFT JOIN idcg i USING (qid)
       |LEFT JOIN tot t USING (qid)
       |ORDER BY q.qid""".stripMargin

  // --------------------------------------------------------------- q197
  /** Streaming INVERTED-INDEX MAINTENANCE, graded end-to-end — the
    * missing half of the retrieval family: q187/q194 score against a
    * built index, this row keeps the index CURRENT as documents
    * arrive. The stored state is the compressed (doc, term, tf)
    * relation (exactly what bm25Scores materializes), held in a
    * DURABLE [[graft.streaming.DurableIndex]] parquet log (r14): each
    * FileDrip trigger tokenizes ONLY its batch and appends one
    * batchId-named log entry — idempotent under checkpoint replay,
    * recoverable after a driver restart (DurableIndexSpec's
    * kill-and-resume drill), with the replace-by-key anti-join
    * replayed at read time instead of per trigger. The graded
    * output is the per-term (df, total_tf) summary of the FINAL
    * index, and the oracle builds the same index FROM SCRATCH over
    * the full corpus — so the gate proves maintained ≡ rebuilt, the
    * invariant every incremental indexer must keep. Per-trigger cost
    * tracks ingest size; the corpus postings are never rescanned
    * (the upsert anti-join is batch-ids × indexed state). */
  private[graft] def tfdOf(docs: DataFrame): DataFrame =
    graft.engine.Cpu.explodeComputed(docs, Seq(col("doc_id")),
        split(col("text"), " "), "t")
      .filter(col("t") =!= "")
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))

  /** One index upsert: a re-ingested doc_id REPLACES its old postings
    * (anti-join), append-only batches reduce to a union. The
    * anti-join keys come from the RAW batch ids, NOT the tokenized
    * postings (r12 review #1: a re-ingested doc whose new text has
    * zero tokens yields no posting rows, and keying on postings
    * would leave its STALE postings alive — breaking the
    * maintained-equals-rebuilt invariant the graded row proves).
    * ScoringSpec pins both replacement cases; the graded corpus has
    * unique ids, so the gate alone never exercises the anti-join. */
  private[graft] def upsertPostings(index: DataFrame,
      batchIds: DataFrame, batchTfd: DataFrame): DataFrame =
    upsertByKey(index, batchIds, batchTfd, "doc_id")

  /** The generic replace-by-key index upsert both maintainers share
    * (q197 lexical postings on doc_id, q199 dense IVF assignments on
    * vec_id): anti-join the batch's RAW keys out of the stored state,
    * then union the batch's derived rows. Keying on raw ids — never
    * on the derived rows — is what keeps a re-ingested unit whose
    * derivation is EMPTY (zero-token doc) from leaving stale state
    * alive. */
  private[graft] def upsertByKey(index: DataFrame, batchKeys: DataFrame,
      batchRows: DataFrame, key: String): DataFrame =
    index.join(batchKeys.select(col(key)).distinct(), Seq(key), "left_anti")
      .unionByName(batchRows)

  // --------------------------------------------------------------- q202
  /** HARD-NEGATIVE MINING for contrastive retrieval training (the
    * DPR/E5 recipe, Karpukhin et al. 2020 §3.2: negatives that are
    * dense-SIMILAR to the query but lexically IRRELEVANT are the
    * ones that teach the embedding model anything): for each eval
    * query, take the [[DenseCand]] nearest doc vectors to the
    * query's embedding (the q188/q189 doc↔vec_id convention; query
    * vector = the qid's own catalog vector), anti-join out every
    * FULL-overlap positive — a doc matching ALL the query's terms,
    * the top grade of the q190/q195 relevance rule, computed from
    * the same `qtf × mq` relation so "positive" can't drift between
    * the eval and mining surfaces — and keep the [[HardK]] hardest
    * survivors per query (highest cosine = hardest negative).
    * Partial-overlap docs deliberately STAY eligible: on this corpus
    * ~97% of docs share at least one term with any query, and the
    * weakly-related-but-dense-similar band is precisely the hard-
    * negative zone the recipe exists to mine (an any-overlap
    * disqualifier empties the pool — measured at sf0.01).
    * Plan shape: the relevance side is one filtered token pass (the
    * posting relation filtered to query terms BEFORE its shuffle);
    * the dense side is one catalog pass against the broadcast query
    * block with a per-query rank window — the brute probe at graded
    * SF, with q61/q200's IVF routing as the documented scale path.
    * The mined output is exactly what a training-pair writer ships:
    * (qid, rank, doc_id, cosine). */
  val DenseCand = 20
  val HardK = 5

  /** The FULL-overlap positives relation (qid, doc_id) both miners
    * share — q202's exact form and q206's ANN-routed form anti-join
    * the SAME rows, so "positive" can never drift between the two
    * surfaces (the property the q190/q195 eval family already pins
    * for relevance). Only a doc matching ALL the query's terms
    * disqualifies; the posting relation is filtered to query terms
    * BEFORE its shuffle. */
  private[graft] def fullOverlapPositives(spark: SparkSession,
      dir: String): DataFrame = {
    val tfd = corpusTfd(spark, dir)
    val union = EvalQuerySets.flatMap(_._2).distinct
    val qterms = queryTermsDf(spark, EvalQuerySets)
    // Explicit-schema createDataFrame, NOT spark.implicits.toDF: the
    // TypeTag product encoder breaks under the driver's plain-java
    // launch — the same hazard queryTermsDf documents (r13 review)
    val qsizes = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      spark.createDataFrame(java.util.Arrays.asList(EvalQuerySets
          .map { case (q, ts) => Row(q, ts.distinct.size) }: _*),
        StructType(Seq(StructField("qid", IntegerType),
          StructField("nterms", IntegerType))))
    }
    tfd.filter(col("t").isin(union: _*))
      .join(broadcast(qterms), Seq("t"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("nmatch"))
      .join(broadcast(qsizes), Seq("qid"))
      .filter(col("nmatch") === col("nterms"))
      .select(col("qid"), col("doc_id"))
  }

  def q202HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    // only a FULL-overlap positive (every query term present)
    // disqualifies a doc from being a negative
    val rel = fullOverlapPositives(spark, dir)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val qids = EvalQuerySets.map(_._1.toLong)
    val qvecs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").cast("int").as("qid"), col("embedding").as("qe"))
    val scored = emb
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(qvecs))
      .filter(col("doc_id") =!= col("qid").cast("long"))
      .select(col("qid"), col("doc_id"),
        round(expr("graft_cosine(embedding, qe)"), 6).as("cosine"))
    // ONE window spec ranks both the candidate cut and the final
    // negatives — the tie-break can never drift between them
    val byCos = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("doc_id"))
    val cand = scored.withColumn("drank", row_number().over(byCos))
      .filter(col("drank") <= DenseCand)
    val negs = cand.join(rel, Seq("qid", "doc_id"), "left_anti")
    negs.withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= HardK)
      .select(col("qid"), col("rank"), col("doc_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The rel (full-overlap positives) CTE chain both miner oracles
    * share — the SQL twin of [[fullOverlapPositives]]. */
  private def relSqlCtes: String = {
    val sizeVals = EvalQuerySets
      .map { case (q, ts) => s"($q, ${ts.distinct.size})" }.mkString(", ")
    s"""$bm25MultiSqlCtes,
       |qsz AS (SELECT * FROM (VALUES $sizeVals) AS v(qid, nterms)),
       |rel AS (SELECT m.qid, q.doc_id FROM qtf q JOIN mq m USING (t)
       |  JOIN qsz ON qsz.qid = m.qid
       |  GROUP BY m.qid, q.doc_id, qsz.nterms
       |  HAVING count(*) = qsz.nterms)""".stripMargin
  }

  val q202Sql: String = {
    val qidList = EvalQuerySets.map(_._1).mkString(", ")
    s"""$relSqlCtes,
       |ev AS (SELECT vec_id AS doc_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |qv AS (SELECT CAST(doc_id AS INT) AS qid, embedding AS qe, nrm AS qn
       |  FROM ev WHERE doc_id IN ($qidList)),
       |scored AS (
       |  SELECT q.qid, e.doc_id,
       |    round(list_sum(list_transform(range(${graft.pipeline.Similarity.Dim}),
       |      k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(q.qe[k+1] AS DOUBLE)))
       |      / (e.nrm * q.qn), 6) AS cosine
       |  FROM ev e CROSS JOIN qv q WHERE e.doc_id <> q.qid),
       |cand AS (SELECT qid, doc_id, cosine FROM (
       |    SELECT qid, doc_id, cosine,
       |      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS drank
       |    FROM scored) WHERE drank <= $DenseCand),
       |negs AS (SELECT c.* FROM cand c LEFT JOIN rel r
       |    ON r.qid = c.qid AND r.doc_id = c.doc_id
       |  WHERE r.doc_id IS NULL)
       |SELECT qid, rank, doc_id, cosine FROM (
       |  SELECT qid, doc_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS rank
       |  FROM negs)
       |WHERE rank <= $HardK ORDER BY qid, rank""".stripMargin
  }

  // --------------------------------------------------------------- q206
  /** ANN-ROUTED hard-negative mining — the production form of q202
    * (r13 verdict #6): the DPR recipe mines negatives THROUGH the ANN
    * index, because at catalog scale the exact broadcast scan q202
    * grades is the oracle, not the deployment. The dense candidate
    * pass routes through the q61/q200 IVF machinery
    * ([[graft.pipeline.Similarity.routedCandidates]]): same frozen
    * centroids, same argmax/probe tie-breaks, candidate volume
    * NProbe/NCells of the catalog per query instead of all of it.
    * Positives come from the SHARED [[fullOverlapPositives]]
    * relation, so "positive" is bit-identical between the exact and
    * routed miners — the only thing routing can change is which
    * negatives are reachable, which is exactly what ScoringSpec's
    * recall-floor pin measures against q202. One window spec ranks
    * both the candidate cut and the final negatives (the q202
    * anti-drift rule). Oracle: q202's SQL with the dense CTEs
    * replaced by the q61-convention assigned/probe routing. */
  def q206HardNegativesRouted(spark: SparkSession, dir: String): DataFrame = {
    val rel = fullOverlapPositives(spark, dir)
    val qids = EvalQuerySets.map(_._1.toLong)
    val cand = graft.pipeline.Similarity
      .routedCandidates(spark, dir, qids, DenseCand)
      .select(col("qid").cast("int").as("qid"),
        col("vec_id").as("doc_id"), col("cosine"))
    val byCos = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("doc_id"))
    cand.join(rel, Seq("qid", "doc_id"), "left_anti")
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= HardK)
      .select(col("qid"), col("rank"), col("doc_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val q206Sql: String = {
    val qidList = EvalQuerySets.map(_._1).mkString(", ")
    val NCells = graft.pipeline.Similarity.NCells
    val NProbe = graft.pipeline.Similarity.NProbe
    s"""$relSqlCtes,
       |ev AS (SELECT vec_id AS doc_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |cents AS (SELECT doc_id AS cell, embedding AS ce, nrm AS cn
       |  FROM ev WHERE doc_id < $NCells),
       |cellscore AS (
       |  SELECT e.doc_id, c.cell,
       |    row_number() OVER (PARTITION BY e.doc_id ORDER BY
       |      list_sum(list_transform(range(${graft.pipeline.Similarity.Dim}),
       |        k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(c.ce[k+1] AS DOUBLE)))
       |        / (e.nrm * c.cn) DESC, c.cell) AS rk
       |  FROM ev e CROSS JOIN cents c),
       |assigned AS (SELECT doc_id, cell FROM cellscore WHERE rk = 1),
       |qprobe AS (SELECT CAST(doc_id AS INT) AS qid, cell FROM cellscore
       |  WHERE doc_id IN ($qidList) AND rk <= $NProbe),
       |scored AS (
       |  SELECT p.qid, e.doc_id,
       |    round(list_sum(list_transform(range(${graft.pipeline.Similarity.Dim}),
       |      k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(q.embedding[k+1] AS DOUBLE)))
       |      / (e.nrm * q.nrm), 4) AS cosine
       |  FROM ev e
       |  JOIN assigned a ON a.doc_id = e.doc_id
       |  JOIN qprobe p ON p.cell = a.cell
       |  JOIN ev q ON q.doc_id = p.qid
       |  WHERE e.doc_id <> p.qid),
       |cand AS (SELECT qid, doc_id, cosine FROM (
       |    SELECT qid, doc_id, cosine,
       |      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS drank
       |    FROM scored) WHERE drank <= $DenseCand),
       |negs AS (SELECT c.* FROM cand c LEFT JOIN rel r
       |    ON r.qid = c.qid AND r.doc_id = c.doc_id
       |  WHERE r.doc_id IS NULL)
       |SELECT qid, rank, doc_id, cosine FROM (
       |  SELECT qid, doc_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS rank
       |  FROM negs)
       |WHERE rank <= $HardK ORDER BY qid, rank""".stripMargin
  }

  def q197StreamingIndexMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the stored index lives in a DURABLE parquet log, not a driver
    // var (r13 verdict #1): each trigger appends one batchId-named
    // entry — idempotent under checkpoint replay, and a driver
    // restart resumes from the log instead of rebuilding
    // (DurableIndexSpec's kill-and-resume drill proves it)
    val state = graft.streaming.DurableIndex.temp(spark, "q197", "doc_id")
    state.seed(tfdOf(docs.filter(col("doc_id") % 10 < 8)))
    val ingest = docs.filter(col("doc_id") % 10 >= 8)
    graft.streaming.FileDrip.drive(Seq(
      ingest.filter(col("doc_id") % 10 === 8),
      ingest.filter(col("doc_id") % 10 === 9))) { stream =>
      graft.streaming.Streams.toForeachBatch(stream,
          "q197_index_maintenance") { (batch, batchId) =>
        // per-trigger cost is ONE O(batch) write — the replace-by-key
        // anti-join moved to read-time replay inside the log
        state.append(batchId, batch.select(col("doc_id")), tfdOf(batch))
      }
    }
    val out = state.current().groupBy(col("t"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("t"))
    graft.engine.Localize(out)(state.delete())
  }

  val q197Sql: String =
    """WITH tfd AS (SELECT doc_id, t, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
      |  WHERE t <> '' GROUP BY 1, 2)
      |SELECT t, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
      |FROM tfd GROUP BY t ORDER BY t""".stripMargin

  // --------------------------------------------------------------- q209
  /** MID-STREAM LOG COMPACTION, graded end-to-end — the operational
    * move every log-structured store performs and the one
    * DurableIndexSpec could only pin locally: q197's maintainer with
    * a `compact()` folded in BETWEEN triggers (the drip harness
    * quiesces after every drain, exactly the cadence a deployment's
    * size-threshold compaction fires at). The log goes
    * seed → trigger 1 append → COMPACT (folds both entries into one
    * base; the trigger-2 entry then lands on a compacted log) →
    * trigger 2 append → read. The graded output and oracle are
    * q197's — maintained-compacted-maintained ≡ rebuilt from scratch
    * — so compaction correctness rides the same gate as the
    * maintenance itself instead of only a spec. Scale: compact cost
    * is one read-replay + one clustered write of the CURRENT index
    * (not the log history), amortized across however many triggers
    * the threshold spans; everything between compactions stays
    * O(batch). */
  def q209CompactedMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val state = graft.streaming.DurableIndex.temp(spark, "q209", "doc_id")
    state.seed(tfdOf(docs.filter(col("doc_id") % 10 < 8)))
    val ingest = docs.filter(col("doc_id") % 10 >= 8)
    val batches = Seq(
      ingest.filter(col("doc_id") % 10 === 8),
      ingest.filter(col("doc_id") % 10 === 9))
    graft.streaming.FileDrip.drive(batches.take(1)) { stream =>
      graft.streaming.Streams.toForeachBatch(stream,
          "q209_compacted_maintenance") { (batch, batchId) =>
        state.append(batchId, batch.select(col("doc_id")), tfdOf(batch))
      }
    }
    // the quiesce point: trigger 1 drained, stream stopped
    state.compact()
    // the fresh stream's batchIds restart at 0; offset past whatever
    // the log actually holds (r14 advice: derived from the committed
    // seqs, never a hardcoded +1 — a multi-micro-batch first drive
    // would otherwise collide seqs and overwrite-replace an entry)
    val resumeAt = state.committedSeqs().max + 1
    graft.streaming.FileDrip.drive(batches.drop(1)) { stream =>
      graft.streaming.Streams.toForeachBatch(stream,
          "q209_compacted_maintenance_2") { (batch, batchId) =>
        state.append(resumeAt + batchId,
          batch.select(col("doc_id")), tfdOf(batch))
      }
    }
    val out = state.current().groupBy(col("t"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("t"))
    graft.engine.Localize(out)(state.delete())
  }

  val q209Sql: String = q197Sql

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q181_source_drift" -> (q181SourceDrift _),
    "q185_streaming_drift" -> (q185StreamingDrift _),
    "q187_bm25" -> (q187Bm25 _),
    "q188_hybrid_rerank" -> (q188HybridRerank _),
    "q189_rrf_fusion" -> (q189RrfFusion _),
    "q190_retrieval_eval" -> (q190RetrievalEval _),
    "q194_bm25_multiquery" -> (q194Bm25Multi _),
    "q195_multiquery_eval" -> (q195MultiqueryEval _),
    "q197_index_maintenance" -> (q197StreamingIndexMaintenance _),
    "q209_compacted_maintenance" -> (q209CompactedMaintenance _),
    "q202_hard_negatives" -> (q202HardNegatives _),
    "q206_hard_negatives_routed" -> (q206HardNegativesRouted _),
    "q182_vocab_growth" -> (q182VocabGrowth _),
    "q84_importance_weight" -> (q84ImportanceWeight _),
    "q85_dup_ngram_frac" -> (q85DupNgramFraction _),
    "q86_quality_classifier" -> (q86QualityClassifier _),
    "q87_mixture_sample" -> (q87MixtureSample _),
    "q89_tfidf_keywords" -> (q89TfIdfKeywords _),
    "q90_bigram_perplexity" -> (q90BigramPerplexity _),
    "q95_curriculum_buckets" -> (q95CurriculumBuckets _))

  def oracles: Map[String, String] = Map(
    "q181_source_drift" -> q181Sql,
    "q185_streaming_drift" -> q185Sql,
    "q187_bm25" -> q187Sql,
    "q188_hybrid_rerank" -> q188Sql,
    "q189_rrf_fusion" -> q189Sql,
    "q190_retrieval_eval" -> q190Sql,
    "q194_bm25_multiquery" -> q194Sql,
    "q195_multiquery_eval" -> q195Sql,
    // maintained index ≡ index rebuilt from scratch — the oracle IS
    // the from-scratch build
    "q197_index_maintenance" -> q197Sql,
    "q202_hard_negatives" -> q202Sql,
    "q206_hard_negatives_routed" -> q206Sql,
    "q209_compacted_maintenance" -> q209Sql,
    "q182_vocab_growth" -> q182Sql,
    "q84_importance_weight" -> q84Sql,
    "q85_dup_ngram_frac" -> q85Sql,
    "q86_quality_classifier" -> q86Sql,
    "q87_mixture_sample" -> q87Sql,
    "q89_tfidf_keywords" -> q89Sql,
    "q90_bigram_perplexity" -> q90Sql,
    "q95_curriculum_buckets" -> q95Sql)
}
