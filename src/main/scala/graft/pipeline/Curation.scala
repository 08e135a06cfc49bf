package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Iterate
import graft.functions.Portable._
import graft.sources.Tables

/** Corpus-curation operators beyond cleaning/dedup: PII redaction,
  * deterministic training-shuffle sharding, train/val/test splits,
  * vocabulary construction, BPE pair statistics, and embedding norm
  * checks. These are the steps between "filtered corpus" and "tensors
  * on a trainer" in an LLM data pipeline, each expressed as a narrow
  * scan or a single well-keyed shuffle so the same plan runs at
  * 100 TB.
  */
object Curation {

  // ---------------------------------------------------------------- q69
  /** PII redaction — scrub emails and phone numbers, reporting how
    * many of each were removed per document (the audit trail a
    * compliance pass needs). Pure narrow projection: regex scan +
    * replace per row, no shuffle, scan-speed at any corpus size.
    *
    * The synthetic corpus contains no PII, so the query first INJECTS
    * deterministic fixture PII (append a contact line keyed off
    * doc_id for ~1/3 of docs, a phone line for ~1/5) and then grades
    * the redaction of exactly that text; the oracle performs the
    * identical injection. Patterns avoid constructs that differ
    * between Java regex (Spark) and RE2 (DuckDB): no backrefs, no
    * lookaround.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\d{3}-\\d{4}"

  /** The redaction itself, as plain Column functions — pure narrow
    * expressions, so the identical op applies to a batch DataFrame or
    * a readStream without change (CurationSpec asserts stream/batch
    * equivalence). */
  def redactPii(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(t, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
  def piiEmails(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(regexp_extract_all(t, lit(EmailRe), lit(0)))
  def piiPhones(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(regexp_extract_all(t, lit(PhoneRe), lit(0)))

  /** q69's deterministic PII injection (an email on doc_id % 3 == 0,
    * a phone on % 5 == 0) as a reusable expression over (doc_id,
    * text) — the synthetic corpus carries no natural PII, so graded
    * redaction surfaces (q69, q193's streaming ingest) inject it
    * identically on both engines. [[injectPiiSql]] is the DuckDB
    * twin. */
  def injectPii(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    text,
    when(docId % 3 === 0,
      concat(lit(" contact user"), docId.cast("string"), lit("@example.com for details")))
      .otherwise(lit("")),
    when(docId % 5 === 0,
      concat(lit(" call 555-"), lpad((docId % 10000).cast("string"), 4, "0"), lit(" now")))
      .otherwise(lit("")))

  /** SQL expression over columns `doc_id` and `text`, mirror of
    * [[injectPii]]. ONE line on purpose: embedding sites run their
    * own .stripMargin, which would eat the first `|` of a
    * line-leading `||` operator (bit q193 on first run). */
  val injectPiiSql: String =
    "text || (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||" +
      " '@example.com for details' ELSE '' END)" +
      " || (CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||" +
      " lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' now' ELSE '' END)"

  def q69PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), injectPii(col("doc_id"), col("text")).as("t"))
      .select(col("doc_id"),
        piiEmails(col("t")).as("n_emails"),
        piiPhones(col("t")).as("n_phones"),
        redactPii(col("t")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val q69Sql: String =
    s"""WITH inj AS (
       |  SELECT doc_id,
       |    $injectPiiSql
       |      AS t
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(t, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(t, '$PhoneRe')) AS n_phones,
       |  regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g') AS clean_text
       |FROM inj ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Deterministic global training shuffle + sharding — the step that
    * turns a curated corpus into data-loader shards: order documents
    * by a seeded content-independent hash (so the permutation is
    * reproducible and uncorrelated with ingest order), assign each to
    * one of [[NumShards]] shards, and number its position within the
    * shard.
    *
    * Scale: shard assignment is a pure projection; the only shuffle
    * is the repartition-by-shard that a per-shard sort implies —
    * exactly the write pattern of the shard files themselves, and
    * each shard sorts independently (no global sort, no single-
    * partition window). At 1000 executors each shard's build is an
    * independent task chain.
    */
  val NumShards = 8
  val ShuffleSeed = "shuf1:"

  def q70ShuffleShard(spark: SparkSession, dir: String): DataFrame = {
    val hv = h60(concat(lit(ShuffleSeed), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("hv"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), hv.as("hv"), pmod(hv, lit(NumShards)).cast("long").as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  val q70Sql: String =
    s"""SELECT doc_id, shard,
       |  row_number() OVER (PARTITION BY shard ORDER BY hv, doc_id) AS pos
       |FROM (SELECT doc_id, ${h60Sql(s"'$ShuffleSeed' || doc_id")} AS hv,
       |        ${h60Sql(s"'$ShuffleSeed' || doc_id")} % $NumShards AS shard
       |      FROM documents)
       |ORDER BY shard, pos""".stripMargin

  /** Materialize the q70 assignment as the data-loader shard files
    * themselves: `out/shard=N/` holds that shard's documents in
    * shuffle order (pos ascending inside every parquet file). One
    * repartition keyed by shard, per-shard sort, one write — at 1000
    * executors every shard is an independent write task; readers get
    * the reproducible global permutation by scanning shard dirs in
    * order. */
  def writeShards(spark: SparkSession, dir: String, out: String): Unit = {
    val assigned = q70ShuffleShard(spark, dir)
    Tables.documents(spark, dir)
      .join(assigned, "doc_id")
      .repartition(NumShards, col("shard"))
      // sort by (shard, pos), not pos alone: the partitioned write
      // requires task rows clustered by the partition column and will
      // insert its OWN sort by `shard` (destroying pos order) unless
      // the incoming ordering already starts with it
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
  }

  // ---------------------------------------------------------------- q71
  /** Hash-based train/val/test split — membership is a pure function
    * of doc identity and a named salt, so the split is reproducible,
    * stable under corpus growth (existing docs never migrate when new
    * ones arrive), and needs no coordination: the canonical
    * alternative to random-number splits at scale. 80/10/10 by hash
    * bucket. Narrow projection, zero shuffle.
    */
  val SplitSeed = "split1:"

  def q71SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(h60(concat(lit(SplitSeed), col("doc_id").cast("string"))), lit(100))
    Tables.documents(spark, dir)
      .select(col("doc_id"), bucket.cast("long").as("bucket"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  val q71Sql: String =
    s"""SELECT doc_id, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, ${h60Sql(s"'$SplitSeed' || doc_id")} % 100 AS bucket
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Vocabulary construction — global token frequencies, top
    * [[VocabSize]] by (count desc, token asc), with rank and the
    * running cumulative count (all-integer, so coverage ratios are
    * exact). The plan is the vocabulary-builder shape that matters at
    * 100 TB: explode → map-side partial count → one shuffle keyed by
    * token → TakeOrdered for the global top-k (never a global sort of
    * the full vocabulary); the final 50-row window cumsum is
    * driver-scale by construction.
    */
  val VocabSize = 50

  def q72VocabTopK(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(VocabSize)
    // global window over a ≤ VocabSize-row relation (the limit above)
    // — bounded at any corpus size, the WindowExec warning is benign
    val w = Window.orderBy(col("cnt").desc, col("token"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_cnt", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("token"), col("cnt"), col("cum_cnt"))
      .orderBy(col("rank"))
  }

  val q72Sql: String =
    s"""WITH c AS (
       |  SELECT token, count(*) AS cnt
       |  FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
       |  WHERE token <> '' GROUP BY token
       |  ORDER BY cnt DESC, token LIMIT $VocabSize)
       |SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rank, token, cnt,
       |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
       |FROM c ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q73
  /** BPE pair statistics — the inner loop of byte-pair-encoding
    * tokenizer training: count adjacent symbol pairs (here: character
    * bigrams inside whitespace tokens, the first merge iteration) and
    * rank the merge candidates. Same scale shape as q72: explode →
    * partial agg → one token-pair-keyed shuffle → TakeOrdered; corpus
    * size only widens the map side.
    */
  val TopPairs = 40

  def q73BpePairs(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      // sequence(1, n) DESCENDS when n < 1 — a 1-char token must not
      // reach it (verify-skill gotcha), hence the length guard
      .filter(length(col("tok")) >= 2)
      .select(explode(expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(TopPairs)
    counts
      // global window over ≤ TopPairs rows (the limit above) — bounded
      // at any corpus size, the WindowExec warning is benign
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .select(col("rank"), col("pair"), col("cnt"))
      .orderBy(col("rank"))
  }

  val q73Sql: String =
    s"""WITH p AS (
       |  SELECT substr(tok, i, 2) AS pair
       |  FROM (SELECT tok, unnest(range(1, length(tok))) AS i
       |        FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
       |        WHERE length(tok) >= 2)),
       |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair
       |      ORDER BY cnt DESC, pair LIMIT $TopPairs)
       |SELECT row_number() OVER (ORDER BY cnt DESC, pair) AS rank, pair, cnt
       |FROM c ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Embedding L2 norms — the sanity gate before any cosine machinery
    * (unnormalized vectors silently break dot-product ≈ cosine
    * shortcuts): per-vector L2 norm and dimensionality. The fold
    * casts each float to double BEFORE squaring and accumulates
    * left-to-right in both engines; the norm is rounded (2dp) because
    * it is an aggregated FP sum (verify-skill rule). Narrow
    * projection, zero shuffle.
    */
  def q74EmbedNorms(spark: SparkSession, dir: String): DataFrame = {
    val sq = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(sq), 2).as("l2_norm"))
      .orderBy(col("vec_id"))
  }

  val q74Sql: String =
    """SELECT vec_id, label::BIGINT AS label, len(embedding)::BIGINT AS dim,
      |  round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 2)
      |    AS l2_norm
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Sequence packing, content step — q50 assigns documents to fixed
    * token-budget bins; this emits the packed training sequences
    * themselves: per bin, the documents concatenated in doc_id order
    * with an `<eos>` separator, plus doc/token/char totals. The
    * deterministic concat is array_sort over (doc_id, text) structs →
    * field projection → join, so no collect_list ordering is ever
    * trusted. Scale: one shuffle keyed by bin; a bin holds ~budget
    * tokens by construction, so per-group state is bounded by the
    * context length, not the corpus.
    */
  val EosSep = " <eos> "

  def q75PackedSequences(spark: SparkSession, dir: String): DataFrame = {
    val bins = TextAnalysis.q50SequencePacking(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    bins.join(docs, "doc_id")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("total_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            s => s.getField("text")),
          EosSep).as("packed_text"))
      .select(col("bin"), col("n_docs"), col("total_tokens"),
        length(col("packed_text")).cast("long").as("n_chars"), col("packed_text"))
      .orderBy(col("bin"))
  }

  val q75Sql: String =
    s"""WITH b AS (${TextAnalysis.q50Sql}),
       |p AS (SELECT b.bin, count(*) AS n_docs, sum(b.tokens)::BIGINT AS total_tokens,
       |        string_agg(d.text, '$EosSep' ORDER BY b.doc_id) AS packed_text
       |      FROM b JOIN documents d ON b.doc_id = d.doc_id
       |      GROUP BY b.bin)
       |SELECT bin, n_docs, total_tokens,
       |  length(packed_text)::BIGINT AS n_chars, packed_text
       |FROM p ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Per-source corpus report — the dashboard a data-curation team
    * reads per ingest: documents, token volume, mean quality score,
    * and exact-duplicate counts, broken down by (source, lang).
    * Duplicate detection reuses the q28 canonical-min rule as a
    * window min over the content hash. Scale: one shuffle keyed by
    * content hash (the dedup window), one keyed by (source, lang) —
    * both well-distributed; output cardinality is sources × langs.
    */
  def q76SourceReport(spark: SparkSession, dir: String): DataFrame = {
    val wDup = Window.partitionBy(md5(col("text")))
    val quality = TextAnalysis.q37Quality(spark, dir)
      .select(col("doc_id").as("q_id"), col("quality"))
    Tables.documents(spark, dir)
      .withColumn("keep", min(col("doc_id")).over(wDup))
      .join(quality, col("doc_id") === col("q_id"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("total_tokens"),
        round(avg(col("quality")), 2).as("avg_quality"),
        sum((col("doc_id") > col("keep")).cast("long")).as("n_dups"))
      .orderBy(col("source"), col("lang"))
  }

  val q76Sql: String =
    s"""WITH q AS (${TextAnalysis.q37Sql}),
       |d AS (SELECT doc_id, text, source, lang,
       |        min(doc_id) OVER (PARTITION BY md5(text)) AS keep
       |      FROM documents)
       |SELECT d.source, d.lang, count(*) AS n_docs,
       |  sum(len(str_split(d.text, ' ')))::BIGINT AS total_tokens,
       |  round(avg(q.quality), 2) AS avg_quality,
       |  sum(CASE WHEN d.doc_id > d.keep THEN 1 ELSE 0 END)::BIGINT AS n_dups
       |FROM d JOIN q ON d.doc_id = q.doc_id
       |GROUP BY d.source, d.lang
       |ORDER BY d.source, d.lang""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Exact-k-per-group sampling — "take [[SamplePerGroup]] examples
    * per class", the balanced-subset op behind eval-set construction
    * and few-shot pools. Rows are ranked per group by a seeded
    * portable hash (content-independent, reproducible, no RNG state)
    * and the top k kept — a deterministic stand-in for per-group
    * reservoir sampling. Plan: one shuffle keyed by group for the
    * window rank; with heavy groups the rank is cut by
    * WindowGroupLimit before full sort materialization (same shape as
    * q12/q46). Contrast q51: rate-based (keeps a fraction), this is
    * count-based (keeps exactly k).
    */
  val SamplePerGroup = 10
  val GroupSampleSeed = "gsamp1:"

  def q77GroupSample(spark: SparkSession, dir: String): DataFrame = {
    val hv = h60(concat(lit(GroupSampleSeed), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang")).orderBy(col("hv"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), hv.as("hv"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= SamplePerGroup)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  val q77Sql: String =
    s"""SELECT lang, rk, doc_id FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ${h60Sql(s"'$GroupSampleSeed' || doc_id")}, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $SamplePerGroup
       |ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Fixed-width overlapping document chunking — the RAG/pretraining
    * primitive between raw documents and an embedding or packing
    * stage (the inverse of q50's packing): windows of `ChunkW` chars
    * every `ChunkW - ChunkV` (stride), each chunk sharing `ChunkV`
    * chars with its predecessor so no boundary context is lost. A
    * start position is emitted iff it is the first OR it still adds
    * content past the previous chunk's overlap (`start + V <= len`) —
    * a pure arithmetic rule both engines state identically, no
    * tokenizer dependence. Plan: one scan, a per-row bounded
    * `sequence` explode (≤ len/stride elements — generated, never
    * shuffled), zero exchanges before the output sort. At 100 TB
    * chunking is embarrassingly parallel; output is ~len/stride ×
    * input rows, the expected blow-up a downstream embedder consumes
    * partition-local. */
  val ChunkW = 200
  val ChunkV = 50

  def q118DocChunks(spark: SparkSession, dir: String): DataFrame = {
    val stride = ChunkW - ChunkV
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .select(col("doc_id"), col("text"), col("n"),
        explode(sequence(lit(1), greatest(col("n"), lit(1)), lit(stride))).as("start"))
      .filter(col("start") === 1 || col("start") + ChunkV <= col("n"))
      .select(col("doc_id"),
        (((col("start") - 1) / stride).cast("long")).as("chunk_idx"),
        col("start").cast("long").as("start"),
        expr(s"substring(text, start, $ChunkW)").as("chunk"))
      .withColumn("chunk_n", length(col("chunk")).cast("long"))
      .orderBy(col("doc_id"), col("start"))
  }

  val q118Sql: String = {
    val stride = ChunkW - ChunkV
    s"""SELECT doc_id, (start - 1) // $stride AS chunk_idx, start,
       |  substr(text, CAST(start AS INT), $ChunkW) AS chunk,
       |  length(substr(text, CAST(start AS INT), $ChunkW)) AS chunk_n
       |FROM (SELECT doc_id, text, length(text) AS n,
       |        unnest(generate_series(1, greatest(length(text), 1), $stride)) AS start
       |      FROM documents)
       |WHERE start = 1 OR start + $ChunkV <= n
       |ORDER BY doc_id, start""".stripMargin
  }

  // ---------------------------------------------------------------- q123
  /** Per-item WEIGHTED sampling by priority sampling (Duffield, Lund,
    * Thorup, JACM 2007): priority = w / u with u a deterministic
    * uniform from the content hash, take the k largest per group.
    * Complements q77 (uniform exact-k per group) and q87 (source-
    * LEVEL temperature mixture): here each ITEM's inclusion odds
    * scale with its own weight (chars as token proxy), the standard
    * budget-aware curation sampler. The priority is two IEEE ops
    * (one multiply, one divide) on integer-derived doubles — NO
    * transcendental, so both engines rank bit-identical keys (the
    * A-Res u^(1/w) key would put cross-engine `ln`/`pow` in the
    * ranking). Plan: one scan, one group-keyed window rank — the
    * sample never leaves the executors until the final k×groups rows. */
  val PriorityK = 20
  private val HashCard = 1152921504606846977.0 // 2^60 + 1: u = (h60+1)/this in (0,1)

  def q123PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        greatest(col("n_chars"), lit(1L)).cast("double").as("weight"),
        (h60(col("text")) + lit(1L)).cast("double").as("hu"))
      .withColumn("priority", col("weight") * lit(HashCard) / col("hu"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PriorityK)
      .select(col("source"), col("doc_id"), col("weight").cast("long").as("weight"))
      .orderBy(col("source"), col("doc_id"))
  }

  val q123Sql: String =
    s"""WITH pr AS (
       |  SELECT source, doc_id, greatest(n_chars, 1) AS weight,
       |    greatest(n_chars, 1) * $HashCard /
       |      ((${graft.functions.Portable.h60Sql("text")}) + 1) AS priority
       |  FROM documents),
       |rk AS (
       |  SELECT source, doc_id, weight,
       |    row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rk
       |  FROM pr)
       |SELECT source, CAST(doc_id AS BIGINT) AS doc_id, CAST(weight AS BIGINT) AS weight
       |FROM rk WHERE rk <= $PriorityK
       |ORDER BY source, doc_id""".stripMargin

  // --------------------------------------------------------------- q198
  /** Z-ORDER (Morton) layout clustering — the multi-dimension
    * locality layout a 100 TB lake applies so files are prunable on
    * BOTH of two co-queried columns (Delta/Iceberg's OPTIMIZE ZORDER
    * pattern; public algorithm: bit interleaving of quantized
    * dimensions): each dimension reduced to [[ZBits]] bits, bits
    * interleaved into one z-value, data range-partitioned and sorted
    * on it. A min/max-pruned scan filtered on EITHER dimension then
    * touches only the files whose z-range intersects — the property
    * a single-column sort gives one dimension at the other's expense.
    *
    * Graded surface: the z-value arithmetic itself (pure integer bit
    * ops, hash-stable on both engines) summarized per top-6-bit
    * z-bucket — each bucket fixes the top 3 bits of BOTH dimensions,
    * which is the pruning guarantee; CurationSpec pins
    * interleave/deinterleave round-trip and the per-bucket
    * both-dimension locality property. [[zorderLayout]] applies the
    * layout (repartitionByRange + sortWithinPartitions — the exact
    * write shape); the graded query audits the values, not the
    * physical write, which specs assert instead. */
  val ZBits = 16

  /** Morton interleave of two [[ZBits]]-bit dimensions (x even bits,
    * y odd bits) — one codegen'd integer expression, no UDF. */
  def zValue(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Apply the z-order layout: range-partition on the z-value and
    * sort within partitions — each output file then covers one tight
    * z-range, i.e. a bounded box in BOTH dimensions. */
  def zorderLayout(df: DataFrame, x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, partitions: Int): DataFrame =
    df.withColumn("zval", zValue(x, y))
      .repartitionByRange(partitions, col("zval"))
      .sortWithinPartitions(col("zval"))

  def q198ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    // order-PRESERVING 16-bit quantization (a modulo would wrap and
    // destroy the nearby-values-nearby-z property pruning relies on):
    // price halved and clamped into [0, 65535], quantity (1-50)
    // stretched across the full range — integer arithmetic, exact on
    // both engines at every sf
    // Column `/` is DOUBLE division: floor() recovers the integer
    // quotient (operands ≤ 2^22, exact in double; DuckDB's // is
    // floor for non-negative operands)
    val li = Tables.lineitem(spark, dir).select(
      least(floor(floor(col("l_extendedprice")) / 2), lit(65535L))
        .cast("long").as("x"),
      floor((col("l_quantity").cast("long") - 1) * 65535 / 49)
        .cast("long").as("y"))
    li.select(zValue(col("x"), col("y")).as("zval"))
      .withColumn("zbucket", shiftright(col("zval"), 2 * ZBits - 6))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("zval")).as("zmin"), max(col("zval")).as("zmax"))
      .orderBy(col("zbucket"))
  }

  val q198Sql: String = {
    val inter = (0 until ZBits).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH d AS (SELECT
       |    least(CAST(floor(l_extendedprice) AS BIGINT) // 2, 65535) AS x,
       |    (CAST(l_quantity AS BIGINT) - 1) * 65535 // 49 AS y
       |  FROM lineitem),
       |z AS (SELECT $inter AS zval FROM d)
       |SELECT zval >> ${2 * ZBits - 6} AS zbucket,
       |  count(*) AS n, min(zval) AS zmin, max(zval) AS zmax
       |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin
  }

  // --------------------------------------------------------------- q204
  /** SNAPSHOT DIFF — the crawl-delta audit every recurring ingest
    * runs before reprocessing: given two snapshots of the corpus,
    * report per source how many documents were ADDED, REMOVED,
    * CHANGED (same id, different content) and UNCHANGED. The two
    * snapshots are derived deterministically from the one graded
    * corpus (old drops the trailing id decile, new drops the
    * leading one, and every `id % 7 == 3` doc is "re-crawled" with
    * upper-cased text), so both engines diff identical inputs.
    *
    * Plan shape is the 100 TB one: each snapshot projects to
    * (doc_id, source, md5(text)) BEFORE the shuffle — content never
    * rides the exchange, only a 32-char digest — then ONE full-outer
    * join on doc_id and a partial-aggregated count per source. At
    * scale both sides are partition-pruned parquet reads of two
    * snapshot dates; the join is the only shuffle and AQE splits
    * skewed sources. md5 is the engine-portable digest the h60
    * convention already relies on. NULL text hashes to a sentinel
    * (md5(NULL) is NULL, and a NULL digest would misclassify a
    * present-on-both-sides doc as `added` — r13 advice); the
    * sentinel is U+0001 (DuckDB `chr(1)`), unreachable from the
    * printable corpus, so NULL and empty-string documents stay
    * distinguishable. */
  private[pipeline] val NullTextSentinel = "\u0001"

  def q204SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val olds = docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), col("source"),
        md5(coalesce(col("text"), lit(NullTextSentinel))).as("h")).as("o")
    val news = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("source"),
        md5(coalesce(when(col("doc_id") % 7 === 3, upper(col("text")))
          .otherwise(col("text")), lit(NullTextSentinel))).as("h")).as("n")
    olds.join(news, Seq("doc_id"), "full_outer")
      .groupBy(coalesce(col("o.source"), col("n.source")).as("source"))
      .agg(
        sum(when(col("o.h").isNull, 1).otherwise(0)).as("added"),
        sum(when(col("n.h").isNull, 1).otherwise(0)).as("removed"),
        sum(when(col("o.h").isNotNull && col("n.h").isNotNull &&
          col("o.h") =!= col("n.h"), 1).otherwise(0)).as("changed"),
        sum(when(col("o.h") === col("n.h"), 1).otherwise(0)).as("unchanged"))
      .orderBy(col("source"))
  }

  val q204Sql: String =
    """WITH olds AS (SELECT doc_id, source, md5(coalesce(text, chr(1))) AS h
      |  FROM documents WHERE doc_id % 10 <> 9),
      |news AS (SELECT doc_id, source,
      |    md5(coalesce(CASE WHEN doc_id % 7 = 3 THEN upper(text) ELSE text END,
      |                 chr(1))) AS h
      |  FROM documents WHERE doc_id % 10 <> 0)
      |SELECT coalesce(o.source, n.source) AS source,
      |  CAST(sum(CASE WHEN o.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
      |  CAST(sum(CASE WHEN n.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
      |  CAST(sum(CASE WHEN o.h IS NOT NULL AND n.h IS NOT NULL AND o.h <> n.h
      |    THEN 1 ELSE 0 END) AS BIGINT) AS changed,
      |  CAST(sum(CASE WHEN o.h = n.h THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
      |FROM olds o FULL OUTER JOIN news n USING (doc_id)
      |GROUP BY 1 ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q205
  /** STREAMING snapshot diff — q204's CDC twin, graded end-to-end:
    * the NEW snapshot arrives in micro-batches and every document is
    * classified ON ARRIVAL against the stored old-snapshot digest
    * index (`added` if its id is unknown, `changed` if the digest
    * moved, `unchanged` otherwise) — the per-trigger join touches
    * only the batch's ids, never rescans either snapshot. `removed`
    * is the one verdict that NEEDS end-of-stream (absence can't be
    * observed per trigger): after the last batch the old index is
    * anti-joined against the accumulated seen-ids. Per-doc verdicts
    * depend only on (old index, that doc), so the streamed
    * classification is batch-boundary independent and the oracle is
    * the per-doc form of q204's diff computed from scratch — the
    * gate proves streamed ≡ batch, the q191/q197/q199 invariant
    * applied to CDC. Same deterministic snapshot derivation as q204
    * (trailing/leading deciles dropped, `id % 7 == 3` re-crawled
    * upper-cased). The grading sink holds one verdict row per new
    * doc (FileDrip contract); a production sink writes a table. */
  def q205StreamingSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val olds = Iterate.measured(docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(NullTextSentinel))).as("h")))
    val news = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3, upper(col("text")))
          .otherwise(col("text")).as("text"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("verdict", StringType)))
    // seen-ids accumulate across triggers in a DURABLE parquet log
    // (r13 verdict #1): batchId-named entries are idempotent under
    // checkpoint replay, and the end-of-stream `removed` derivation
    // survives a driver restart instead of silently dropping the
    // pre-restart triggers' ids
    val seen = graft.streaming.DurableIndex.temp(spark, "q205", "doc_id")
    // repartition(1): a zero-partition empty frame would write no
    // part file, leaving the base unreadable (no schema to infer)
    seen.seed(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("doc_id", LongType)))).repartition(1))
    val streamed = graft.streaming.FileDrip.driveAndCollect(Seq(
        news.filter(col("doc_id") % 2 === 0),
        news.filter(col("doc_id") % 2 === 1)),
        schema, Nil) { (stream, emit) =>
      graft.streaming.Streams.toForeachBatch(stream,
          "q205_streaming_diff") { (batch, batchId) =>
        val bh = Iterate.measured(batch.select(col("doc_id"),
            md5(coalesce(col("text"), lit(NullTextSentinel))).as("nh")))
        val verdicts = bh.join(olds.withColumnRenamed("h", "oh"),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            when(col("oh").isNull, "added")
              .when(col("oh") =!= col("nh"), "changed")
              .otherwise("unchanged").as("verdict"))
        verdicts.collect().foreach(emit)
        val ids = bh.select(col("doc_id"))
        seen.append(batchId, ids, ids)
      }
    }
    val removed = olds.join(seen.current(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("removed").as("verdict")).collect()
    seen.delete()
    // both row sets are on the driver: sort them there, with no job
    graft.engine.Localize.local(spark, streamed.collect().toSeq ++ removed,
      schema, Seq("doc_id"))
  }

  val q205Sql: String =
    """WITH olds AS (SELECT doc_id, md5(coalesce(text, chr(1))) AS h
      |  FROM documents WHERE doc_id % 10 <> 9),
      |news AS (SELECT doc_id,
      |    md5(coalesce(CASE WHEN doc_id % 7 = 3 THEN upper(text) ELSE text END,
      |                 chr(1))) AS h
      |  FROM documents WHERE doc_id % 10 <> 0)
      |SELECT doc_id,
      |  CASE WHEN o.h IS NULL THEN 'added'
      |       WHEN n.h IS NULL THEN 'removed'
      |       WHEN o.h <> n.h THEN 'changed'
      |       ELSE 'unchanged' END AS verdict
      |FROM olds o FULL OUTER JOIN news n USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q208
  /** CDC with EXPLICIT TOMBSTONES — q205's per-trigger-complete twin
    * (r13 stretch #8). q205 must wait for end-of-stream to derive
    * `removed` (absence is unobservable per trigger); here deletions
    * arrive as tombstone EVENTS in the feed (`op = 'd'`, the
    * Debezium/CDC wire shape), so EVERY verdict — including removed —
    * emits on arrival. The classifier is STATELESS per trigger:
    * verdict = f(old digest index, one event), one broadcast-ready
    * join of the batch against the stored digests, no seen-set, no
    * end-of-stream pass — which makes batch-boundary independence
    * STRUCTURAL (CurationSpec re-drives the identical feed at 1/2/3
    * -batch splits and pins equal verdicts). The graded feed carries
    * the new snapshot as upserts plus one tombstone per snapshot
    * deletion, so the oracle is exactly q205's from-scratch diff.
    * A tombstone for an id absent from the index still emits
    * `removed` (idempotent delete — the production rule a replayed
    * CDC log needs). */
  private[pipeline] def cdcClassify(batch: DataFrame, olds: DataFrame)
      : DataFrame =
    batch
      .withColumn("nh", when(col("op") === "u",
        md5(coalesce(col("text"), lit(NullTextSentinel)))))
      .join(olds.withColumnRenamed("h", "oh"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("op") === "d", "removed")
          .when(col("oh").isNull, "added")
          .when(col("oh") =!= col("nh"), "changed")
          .otherwise("unchanged").as("verdict"))

  /** The tombstone CDC feed: the q204/q205 new snapshot as upserts,
    * plus a delete event per old-snapshot doc absent from it. */
  private[pipeline] def cdcEvents(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val upserts = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), lit("u").as("op"),
        when(col("doc_id") % 7 === 3, upper(col("text")))
          .otherwise(col("text")).as("text"))
    // deletions: in olds (% 10 <> 9) but not in news (% 10 <> 0)
    val tombstones = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("d").as("op"),
        lit(null).cast("string").as("text"))
    upserts.unionByName(tombstones)
  }

  private[graft] def q208WithSplits(spark: SparkSession, dir: String,
      splits: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val olds = Iterate.measured(docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(NullTextSentinel))).as("h")))
    // one materialization of the two-branch feed union; each drip
    // batch write then slices the cache instead of re-scanning
    val events = Iterate.measured(cdcEvents(spark, dir))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("verdict", StringType)))
    graft.streaming.FileDrip.driveAndCollect(
        (0 until splits).map(s => events.filter(col("doc_id") % splits === s)),
        schema, Seq("doc_id")) { (stream, emit) =>
      graft.streaming.Streams.toForeachBatch(stream,
          "q208_cdc_tombstones") { (batch, _) =>
        cdcClassify(batch, olds).collect().foreach(emit)
      }
    }
  }

  def q208CdcTombstones(spark: SparkSession, dir: String): DataFrame =
    q208WithSplits(spark, dir, 2)

  /** Every verdict class including `removed` is classified on
    * arrival, so the from-scratch snapshot diff is the oracle
    * verbatim (the tombstone feed IS the snapshot delta). */
  val q208Sql: String = q205Sql

  // --------------------------------------------------------------- q212
  /** SCD2 (type-2 slowly-changing-dimension) HISTORY maintained from
    * the CDC feed (r14 verdict #6) — the canonical downstream
    * consumer of the q204/q205/q208 classifiers: a dimension table
    * with one row per document VERSION (`h`, `valid_from`,
    * `valid_to`, `is_current`), where each arriving event closes the
    * document's open row at its timestamp and each upsert opens a
    * new one; a tombstone closes without opening (the delete keeps
    * no current row). The feed is deterministic and TIMESTAMPED
    * ([[scd2Events]]): the old snapshot lands at ts 10, re-crawls
    * and late adds at ts 20, tombstones at ts 30 — so documents
    * carry 1-3 versions and the delete-after-recrawl path is
    * exercised.
    *
    * Maintenance runs per trigger on the [[graft.streaming
    * .DurableIndex]] log, keyed by doc_id with replace-by-key
    * masking doing the UPDATE: each trigger rewrites ONLY the
    * touched documents' histories and appends them as one idempotent
    * entry. The rewrite is ONE window pass: the touched docs' prior
    * rows, recast as upserts at `valid_from` that carry their own
    * `valid_to`, are unioned with the batch's events, and one
    * `lead(ts)` per doc (ordered by ts, prior before batch) gives
    * `valid_to = coalesce(own valid_to, lead)`. A closed row keeps
    * its own `valid_to`, the open row closes at the doc's first batch
    * event, and each batch upsert closes at the next batch event.
    * That relies on the arrival contract: batches arrive in
    * event-time order (a CDC log's), so no batch event precedes a
    * prior row; q216 is the maintainer for feeds that break it. The
    * prior-history lookup is a semi-join of the log on the batch's
    * doc ids, and the rewrite lands with the batch's masking keys as
    * ONE entry write (one commit) per trigger. The log is not
    * hive-partitioned: a graded trigger carries thousands of doc ids,
    * so a key-bucket layout would keep every bucket and only add
    * files and a rebalance shuffle.
    * CurationSpec re-drives the identical feed at 1/2/3
    * time-contiguous splits and pins identical history — per-doc
    * results depend only on the doc's own event sequence, so
    * boundary placement cannot matter — and checks random feeds at
    * random splits against a driver-side lead fold.
    *
    * Oracle: the from-scratch window form over the full feed — each
    * upsert's `valid_to` is the `lead(ts)` of the doc's next event,
    * `is_current` = no later event. */
  private[graft] def scd2Events(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def h(t: org.apache.spark.sql.Column) =
      md5(coalesce(t, lit(NullTextSentinel)))
    val olds = docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), lit(10L).as("ts"), lit("u").as("op"),
        h(col("text")).as("h"))
    val recrawls = docs.filter(col("doc_id") % 7 === 3 &&
        col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), lit(20L).as("ts"), lit("u").as("op"),
        h(upper(col("text"))).as("h"))
    val adds = docs.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), lit(20L).as("ts"), lit("u").as("op"),
        h(when(col("doc_id") % 7 === 3, upper(col("text")))
          .otherwise(col("text"))).as("h"))
    val tombstones = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit(30L).as("ts"), lit("d").as("op"),
        lit(null).cast("string").as("h"))
    olds.unionByName(recrawls).unionByName(adds).unionByName(tombstones)
  }

  /** The per-trigger prior-state read shared by both SCD2 maintainers
    * (q212 history rows, q216 event sets): an explicit-schema empty
    * frame on the first trigger, else the durable log semi-joined to
    * the batch's doc ids (duplicates allowed: a semi-join only tests
    * existence). One log listing decides both branches. One
    * implementation so the read posture cannot drift between the
    * maintainers. No broadcast hint on ids (r16 advice/stretch #7):
    * the batch id set is unbounded — a deployment backfill of
    * millions of ids would pin an oversized broadcast on every
    * executor — so the planner sizes the join from the batch's own
    * statistics. */
  private def prunedPrior(state: graft.streaming.DurableIndex, ids: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    state.currentOption() match {
      case Some(cur) => cur.join(ids, Seq("doc_id"), "left_semi")
      case None =>
        ids.sparkSession.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    }

  /** One trigger's history rewrite: the touched docs' `prior` history
    * rows, recast as upserts at `valid_from` that carry their own
    * `valid_to`, plus the batch's events `ev`, through ONE lead window
    * per doc: `valid_to = coalesce(own valid_to, lead(ts))`, upserts
    * only. Ties on ts order closed prior rows, then the open prior
    * row, then the batch, so the open row closes at the doc's first
    * batch event even when a version opened and closed at that ts —
    * whatever order the prior rows are read in. */
  private[graft] def scd2Rewrite(prior: DataFrame, ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ts"), col("__ord"))
    prior
      .select(col("doc_id"), col("valid_from").as("ts"), lit("u").as("op"),
        col("h"), col("valid_to").as("__to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("__ord"))
      .unionByName(ev.select(col("doc_id"), col("ts"), col("op"), col("h"),
        lit(null).cast("long").as("__to"), lit(2).as("__ord")))
      .withColumn("valid_to", coalesce(col("__to"), lead(col("ts"), 1).over(w)))
      .filter(col("op") === "u")
      .select(col("doc_id"), col("h"), col("ts").as("valid_from"),
        col("valid_to"))
  }

  /** Drive the q212 SCD2 maintenance over `batches` and return the
    * owning durable log — factored so q217 can SERVE point-in-time
    * probes from the maintained table (the q210 precedent: producer
    * and consumer ride the gate as a pair). Caller deletes. */
  private[graft] def maintainScd2(spark: SparkSession,
      batches: Seq[DataFrame], tag: String)
      : graft.streaming.DurableIndex = {
    import org.apache.spark.sql.types._
    val state = graft.streaming.DurableIndex.temp(spark, tag, "doc_id")
    val histSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("h", StringType), StructField("valid_from", LongType),
      StructField("valid_to", LongType)))
    graft.streaming.FileDrip.drive(batches) { stream =>
      graft.streaming.Streams.toForeachBatch(stream,
          "q212_scd2_history") { (batch, batchId) =>
        val prior = prunedPrior(state, batch.select(col("doc_id")), histSchema)
        state.append(batchId, batch, scd2Rewrite(prior, batch))
      }
    }
    state
  }

  /** The feed's three phases split into `splits` time-contiguous
    * batches — q212's arrival contract. */
  private[graft] def scd2Batches(spark: SparkSession, dir: String,
      splits: Int): Seq[DataFrame] = {
    // materialize the feed once (r17 optimization): scd2Events is a
    // FOUR-branch union, each branch its own documents scan + md5 —
    // and every drip batch write re-executes its slice's lineage, so
    // a 2-split drive paid 8 corpus scans. One materialization makes
    // each batch write a cheap cache slice.
    val events = Iterate.measured(scd2Events(spark, dir))
    val phases = Seq(10L, 20L, 30L)
    // time-contiguous batches: phase i goes to batch i*splits/3
    phases.groupBy(p => phases.indexOf(p) * splits / 3)
      .toSeq.sortBy(_._1)
      .map { case (_, ps) => events.filter(col("ts").isin(ps: _*)) }
  }

  private[graft] def q212WithSplits(spark: SparkSession, dir: String,
      splits: Int): DataFrame = {
    val state = maintainScd2(spark, scd2Batches(spark, dir, splits), "q212")
    val out = state.current()
      .select(col("doc_id"), col("h"), col("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast("int").as("is_current"))
    graft.engine.Localize(out, "doc_id", "valid_from")(state.delete())
  }

  def q212Scd2History(spark: SparkSession, dir: String): DataFrame =
    q212WithSplits(spark, dir, 2)

  /** `ev → v → hist`: the timestamped CDC feed and its from-scratch
    * SCD2 window form as DuckDB CTEs — shared by q212's history
    * oracle and q213's point-in-time join oracle. */
  private val scd2HistCtes: String =
    """ev AS (
      |  SELECT doc_id, 10::BIGINT AS ts, 'u' AS op,
      |         md5(coalesce(text, chr(1))) AS h
      |  FROM documents WHERE doc_id % 10 <> 9
      |  UNION ALL
      |  SELECT doc_id, 20, 'u', md5(coalesce(upper(text), chr(1)))
      |  FROM documents WHERE doc_id % 7 = 3 AND doc_id % 10 <> 9
      |  UNION ALL
      |  SELECT doc_id, 20, 'u',
      |         md5(coalesce(CASE WHEN doc_id % 7 = 3 THEN upper(text)
      |                           ELSE text END, chr(1)))
      |  FROM documents WHERE doc_id % 10 = 9
      |  UNION ALL
      |  SELECT doc_id, 30, 'd', NULL
      |  FROM documents WHERE doc_id % 10 = 0),
      |v AS (SELECT doc_id, op, h, ts AS valid_from,
      |        lead(ts) OVER (PARTITION BY doc_id ORDER BY ts) AS valid_to
      |      FROM ev),
      |hist AS (SELECT doc_id, h, valid_from, valid_to
      |         FROM v WHERE op = 'u')""".stripMargin

  val q212Sql: String =
    s"""WITH $scd2HistCtes
       |SELECT doc_id, h, valid_from, valid_to,
       |  CAST(valid_to IS NULL AS INT) AS is_current
       |FROM hist
       |ORDER BY doc_id, valid_from""".stripMargin

  // --------------------------------------------------------------- q213
  /** POINT-IN-TIME dimension join — the canonical consumer of the
    * q212 SCD2 table: each fact row (doc_id, ts) joins the ONE
    * version row valid at its timestamp
    * (`valid_from <= ts < coalesce(valid_to, ∞)`). The probe grid
    * hits ts 15/25/35 — between the feed's phases — so each probe
    * resolves version 1, version 2, or (post-tombstone) NOTHING.
    *
    * Plan shape is the 100 TB one: routed through
    * [[graft.operators.AsOfJoin]] backward (ONE shuffle: union +
    * per-key ordered window), not an interval theta-join — an SCD2
    * document's versions are disjoint contiguous intervals, so
    * "latest valid_from ≤ ts, then check valid_to" IS the interval
    * match, and the as-of machinery already does latest-≤ in one
    * pass. Absent versions (probe before insert, probe after
    * delete) drop out exactly like the oracle's inner interval
    * join. */
  def q213PointInTime(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ts"))
    val hist = scd2Events(spark, dir)
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .filter(col("op") === "u")
      .select(col("doc_id"), col("h"), col("ts"), col("valid_to"))
    val probes = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("ts", explode(array(lit(15L), lit(25L), lit(35L))))
    graft.operators.AsOfJoin.asOf(probes, hist, "doc_id", "ts",
        Seq("h", "valid_to"), "backward")
      .filter(col("asof_h").isNotNull &&
        (col("asof_valid_to").isNull || col("ts") < col("asof_valid_to")))
      .select(col("doc_id"), col("ts"), col("asof_h").as("h"))
      .orderBy(col("doc_id"), col("ts"))
  }

  val q213Sql: String =
    s"""WITH $scd2HistCtes,
       |probes AS (SELECT doc_id, p.ts FROM documents
       |           CROSS JOIN (SELECT unnest([15::BIGINT, 25, 35]) AS ts) p)
       |SELECT pr.doc_id, pr.ts, h.h
       |FROM probes pr JOIN hist h ON pr.doc_id = h.doc_id
       |  AND h.valid_from <= pr.ts
       |  AND (h.valid_to IS NULL OR pr.ts < h.valid_to)
       |ORDER BY pr.doc_id, pr.ts""".stripMargin

  // --------------------------------------------------------------- q216
  /** OUT-OF-ORDER-tolerant SCD2 maintenance (r15 verdict #2) — q212's
    * arrival contract is event-time order, which a real CDC feed
    * breaks the moment a partition is replayed or backfilled: a late
    * event hitting q212's close-the-open-row logic would silently
    * corrupt valid_to chains. Chosen posture: CORRECT MERGE, not
    * reject-to-audit (the q107 LateAudit alternative) — a dimension
    * whose history stays wrong because a backfill was dropped is
    * worse than one that repairs itself, and the merge costs nothing
    * extra per trigger. The durable log stores each touched
    * document's FULL accumulated EVENT set instead of derived history
    * rows: per trigger, prior events for the batch's docs are read
    * through a semi-join on the batch's doc ids (q212's read posture),
    * unioned with the batch, DEDUPLICATED (so an at-least-once feed
    * cannot double-insert either), and re-appended with the batch's
    * masking keys as one idempotent replace-by-key entry (one write). History (the
    * lead window) is derived at serve time from the complete per-doc
    * event set — the state after ANY arrival permutation is the same
    * event SET, so a late event slots into its correct interval
    * position structurally, not by special-casing. The graded feed
    * delivers the ts-20 phase AFTER the ts-30 tombstones — every
    * recrawl arrives older than an already-closed version — and the
    * oracle is q212's from-scratch window form (history is a function
    * of the event set alone). CurationSpec re-drives shuffled arrival
    * orders and a redelivered batch and pins identical history. */
  private[graft] def q216WithArrival(spark: SparkSession, dir: String,
      arrival: Seq[Seq[Long]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    // one materialization, cheap per-batch slices (scd2Batches note)
    val events = Iterate.measured(scd2Events(spark, dir))
    val batches = arrival.map(ps => events.filter(col("ts").isin(ps: _*)))
    val state = graft.streaming.DurableIndex.temp(spark, "q216", "doc_id")
    val evSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("op", StringType),
      StructField("h", StringType)))
    val evCols = evSchema.fieldNames.toSeq.map(col)
    graft.streaming.FileDrip.drive(batches) { stream =>
      graft.streaming.Streams.toForeachBatch(stream,
          "q216_scd2_outoforder") { (batch, batchId) =>
        val merged = prunedPrior(state, batch.select(col("doc_id")), evSchema)
          .select(evCols: _*)
          .unionByName(batch.select(evCols: _*))
          .distinct()
        state.append(batchId, batch, merged)
      }
    }
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ts"))
    val out = state.current()
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .filter(col("op") === "u")
      .select(col("doc_id"), col("h"), col("ts").as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.cast("int").as("is_current"))
    graft.engine.Localize(out, "doc_id", "valid_from")(state.delete())
  }

  /** Graded arrival: the middle phase (recrawls + late adds, ts 20)
    * arrives LAST — after the tombstones have closed histories. */
  def q216Scd2OutOfOrder(spark: SparkSession, dir: String): DataFrame =
    q216WithArrival(spark, dir, Seq(Seq(10L, 30L), Seq(20L)))

  /** Arrival order cannot matter, so the in-order q212 oracle is the
    * oracle here too. */
  val q216Sql: String = q212Sql

  // --------------------------------------------------------------- q217
  /** Point-in-time serving from the MAINTAINED dimension (r15 verdict
    * #6) — q213 grades the as-of plan against a from-scratch history
    * recompute; here the SAME probes resolve against the q212-
    * maintained durable-log table, so the producer (per-trigger
    * history rewrite) and consumer (one-shuffle as-of join) ride the
    * gate END-TO-END as a pair — the q210 persisted-index precedent.
    * The serving read is the maintained table's pruned parquet scan;
    * the join is ONE union+window shuffle (never an interval
    * theta-join — SCD2 intervals are disjoint-contiguous, q213's
    * argument). Oracle: q213's from-scratch SQL verbatim. */
  def q217PointInTimeMaintained(spark: SparkSession, dir: String): DataFrame = {
    val state = maintainScd2(spark, scd2Batches(spark, dir, 2), "q217")
    val hist = state.current()
      .select(col("doc_id"), col("h"), col("valid_from").as("ts"),
        col("valid_to"))
    val probes = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("ts", explode(array(lit(15L), lit(25L), lit(35L))))
    val out = graft.operators.AsOfJoin.asOf(probes, hist, "doc_id", "ts",
        Seq("h", "valid_to"), "backward")
      .filter(col("asof_h").isNotNull &&
        (col("asof_valid_to").isNull || col("ts") < col("asof_valid_to")))
      .select(col("doc_id"), col("ts"), col("asof_h").as("h"))
    graft.engine.Localize(out, "doc_id", "ts")(state.delete())
  }

  val q217Sql: String = q213Sql

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q204_snapshot_diff" -> (q204SnapshotDiff _),
    "q205_streaming_diff" -> (q205StreamingSnapshotDiff _),
    "q208_cdc_tombstones" -> (q208CdcTombstones _),
    "q212_scd2_history" -> (q212Scd2History _),
    "q213_pointintime_join" -> (q213PointInTime _),
    "q216_scd2_outoforder" -> (q216Scd2OutOfOrder _),
    "q217_pointintime_maintained" -> (q217PointInTimeMaintained _),
    "q198_zorder_layout" -> (q198ZorderLayout _),
    "q123_priority_sample" -> (q123PrioritySample _),
    "q118_doc_chunks" -> (q118DocChunks _),
    "q69_pii_redact" -> (q69PiiRedact _),
    "q70_shuffle_shard" -> (q70ShuffleShard _),
    "q71_split_assign" -> (q71SplitAssign _),
    "q72_vocab_topk" -> (q72VocabTopK _),
    "q73_bpe_pairs" -> (q73BpePairs _),
    "q74_embed_norms" -> (q74EmbedNorms _),
    "q75_packed_sequences" -> (q75PackedSequences _),
    "q76_source_report" -> (q76SourceReport _),
    "q77_group_sample" -> (q77GroupSample _))

  def oracles: Map[String, String] = Map(
    "q204_snapshot_diff" -> q204Sql,
    // streamed ≡ batch: the per-trigger classification must equal the
    // from-scratch per-doc diff
    "q205_streaming_diff" -> q205Sql,
    "q208_cdc_tombstones" -> q208Sql,
    "q212_scd2_history" -> q212Sql,
    "q213_pointintime_join" -> q213Sql,
    "q216_scd2_outoforder" -> q216Sql,
    "q217_pointintime_maintained" -> q217Sql,
    "q198_zorder_layout" -> q198Sql,
    "q123_priority_sample" -> q123Sql,
    "q118_doc_chunks" -> q118Sql,
    "q69_pii_redact" -> q69Sql,
    "q70_shuffle_shard" -> q70Sql,
    "q71_split_assign" -> q71Sql,
    "q72_vocab_topk" -> q72Sql,
    "q73_bpe_pairs" -> q73Sql,
    "q74_embed_norms" -> q74Sql,
    "q75_packed_sequences" -> q75Sql,
    "q76_source_report" -> q76Sql,
    "q77_group_sample" -> q77Sql)
}
