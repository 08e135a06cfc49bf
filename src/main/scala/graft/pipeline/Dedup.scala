package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Iterate
import graft.functions.Portable._
import graft.sources.Tables

/** Deduplication operator suite for large-scale training-data
  * pipelines, over the `documents` and `embeddings` tables: exact
  * (hash-groupBy), MinHash+LSH, SimHash, exact n-gram Jaccard
  * (inverted index), and embedding-cosine near-dup.
  *
  * These extend the reference's operator surface (its closest
  * relative is `distinct`, `/root/reference` flink-java
  * DataSet.java:631) with the sketch-based forms a 100 TB corpus
  * needs: every operator here avoids the quadratic cross-join — the
  * shuffle key is a short hash (16-byte md5, a band signature, an LSH
  * bucket), never the document text, and candidate generation is
  * bucket-local.
  *
  * All hashes are md5-derived integers ([[graft.functions.Portable]])
  * so the DuckDB oracles reproduce them bit-for-bit.
  */
object Dedup {

  // ---------------------------------------------------------------- q28
  /** Exact dedup: group by content hash, keep the smallest doc_id as
    * canonical. Shuffles 8-byte hashes + ids only, never text; partial
    * (map-side) agg collapses per-partition copies first. At 100 TB
    * this is THE first pass of every corpus pipeline.
    */
  def q28ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  val q28Sql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin

  // ------------------------------------------------------------- shared
  /** (doc_id, hp): distinct 3-word-shingle hashes per document,
    * reduced mod P. The base relation for minhash and Jaccard —
    * persisted because each consumer reads it 2-4× (signature agg,
    * sizes, both sides of the posting-list self-join) and the
    * interpreted shingle lambda is the dominant cost of recomputing.
    */
  // EAGER materialization (r17 optimization, guide §1.2): a lazily
  // persisted shared relation is materialized by its first ACTION —
  // and AQE submits that action's independent map stages CONCURRENTLY,
  // so every consuming leg races its own full recompute of the
  // lineage before any cache block lands (measured: q62's first action
  // ran 5 simultaneous copies of the corpus shingle explode). One
  // count() right after persist serializes the build: one computation,
  // every leg a cache hit.
  private val shingleCache = new graft.engine.SessionCache((spark, dir) => {
    val df = shingleHashesOf(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  })

  private def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    shingleCache.get(spark, dir)

  private def shingleHashesSqlFrom(rel: String): String =
    s"""SELECT doc_id, ${h60Sql("sh")} % $P AS hp
       |FROM (SELECT doc_id, unnest(list_distinct(${shinglesSql("text")})) AS sh
       |      FROM $rel)""".stripMargin

  private def shingleHashesSql: String = shingleHashesSqlFrom("documents")

  // ---------------------------------------------------------------- q29
  /** MinHash + LSH near-dup pairs: 16 minhashes per doc (one shuffle:
    * groupBy doc_id with 16 min() partials), banded 4×4; docs sharing
    * any band bucket become candidates (self-join on the 8-byte band
    * key — bucket-local, never all-pairs); candidates are verified
    * with exact Jaccard ≥ 0.8 over shingle sets.
    *
    * Scale: for s ≥ 0.8, P[share a band] = 1−(1−s⁴)⁴ ≥ 0.93; the
    * shuffle volume is O(docs × 4 band keys). Verification joins only
    * candidate pairs. Skewed buckets (boilerplate docs) are the known
    * hazard — AQE skew-join handles moderate skew, and pathological
    * buckets are dropped outright by the applied [[MaxBucket]] cap.
    */
  val MinhashK = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Shingle hashes of an arbitrary `(doc_id, text)` relation — the
    * df-parameterized core shared by the corpus-cached path and the
    * incremental/streaming batch path. */
  private[graft] def shingleHashesOf(docs: DataFrame): DataFrame =
    // Cpu.explodeComputed: spread + outer explode so the interpreted
    // shingle lambda is built once per doc at core parallelism, never
    // re-inferred into the scan as a size()>0 filter
    graft.engine.Cpu.explodeComputed(docs, Seq(col("doc_id")),
        array_distinct(shingles(col("text"))), "sh")
      .select(col("doc_id"), (h60(col("sh")) % P).as("hp"))

  /** MinHash signature (m0..m{K-1}) + shingle-set size, one hash-agg. */
  private[graft] def minhashSigOf(sh: DataFrame): DataFrame = {
    val minCols = (0 until MinhashK).map(i =>
      min((lit(hashA(i)) * col("hp") + lit(hashB(i))) % P).as(s"m$i")) :+
      count(lit(1)).as("sz")
    sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** Banded LSH keys of a signature relation: (doc_id, band, key). */
  private[graft] def bandKeysOf(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}")): _*).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Bucket cap for the LSH pair expansions (q29/q31): a (band,key)
    * bucket with more members than this is boilerplate, not
    * similarity signal, and is dropped BEFORE `collect_list` ever
    * sees it — one pathological bucket at 100 TB would otherwise
    * materialize its whole membership in a single aggregation buffer
    * (task OOM) and emit |bucket|² candidate pairs. Same escape hatch
    * as [[MaxDf]]: the census is a map-side-combined count over the
    * small band keys, so the hot set is tiny and the cap is a
    * broadcast anti join. The default sits far above any test-corpus
    * bucket, so graded results are unchanged (DedupSpec asserts
    * neutrality on testdata and pruning on a forced hot bucket). */
  val MaxBucket = 1000

  private[pipeline] def capBuckets(bands: DataFrame, maxBucket: Int): DataFrame = {
    val hot = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxBucket)
      .select(col("band"), col("key"))
    bands.join(broadcast(hot), Seq("band", "key"), "left_anti")
  }

  /** Bucket-local candidate pair expansion over capped (band,key)
    * buckets — one shuffle groups each bucket, pairs expand inside it
    * (a self-join would compute the signature aggregation twice —
    * seen in the physical plan; PlanBudgetSpec pins q29's census). */
  private[graft] def bucketCandidates(bands: DataFrame, maxBucket: Int): DataFrame =
    capBuckets(bands, maxBucket)
      .groupBy(col("band"), col("key"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()

  def q29MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    q29MinhashLsh(spark, dir, MaxBucket)

  def q29MinhashLsh(spark: SparkSession, dir: String, maxBucket: Int): DataFrame = {
    val sh = shingleHashes(spark, dir)
    // one hash-agg pass yields both the 16 minhashes and the set size
    val sig = minhashSigOf(sh)
    val cands = bucketCandidates(bandKeysOf(sig), maxBucket)
    val sizes = sig.select(col("doc_id"), col("sz"))
    verifyJaccard(cands, sh, sizes).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact-Jaccard verification of a `(doc_a, doc_b)` candidate
    * relation against the shingle-hash relation: intersection via the
    * hp equi-join, union from the per-doc set sizes, keep ≥ 0.8.
    * Shared by q29's all-pairs listing and q203's star edges — the
    * threshold and rounding live in exactly one place. */
  private def verifyJaccard(cands: DataFrame, sh: DataFrame,
      sizes: DataFrame): DataFrame = {
    val inter = cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.hp") === col("sb.hp"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("za.sz") + col("zb.sz") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the
    * verified near-dup pairs; shared by the q29 listing and q62's
    * cluster resolution. */
  /** CTE chain `sh → sig → bands → sizes` — every doc's shingle
    * hashes, minhash signature, LSH band keys, and shingle-set size.
    * Shared by [[pairsCteSql]] (which adds the MaxBucket cap) and
    * q191's index-probe oracle (which, like [[dedupAgainst]], probes
    * uncapped). */
  private def minhashCteSqlFrom(rel: String): String = {
    val mins = (0 until MinhashK)
      .map(i => s"min((${hashA(i)}*hp + ${hashB(i)}) % $P) AS m$i").mkString(",\n  ")
    val bandRows = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"m${b * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $key) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""sh AS (${shingleHashesSqlFrom(rel)}),
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)""".stripMargin
  }

  private def minhashCteSql: String = minhashCteSqlFrom("documents")

  /** `inter` + `pairs` CTEs: exact-Jaccard verification of whatever
    * `cands(doc_a, doc_b)` CTE precedes them — the SQL twin of
    * [[verifyJaccard]], shared by the all-pairs (q29/q62) and star
    * (q203) chains. */
  private def verifySqlFromCands: String =
    s"""inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
       |          FROM cands c
       |          JOIN sh sa ON c.doc_a = sa.doc_id
       |          JOIN sh sb ON c.doc_b = sb.doc_id AND sa.hp = sb.hp
       |          GROUP BY c.doc_a, c.doc_b),
       |pairs AS (SELECT doc_a, doc_b,
       |    round(inter / CAST(za.sz + zb.sz - inter AS DOUBLE), 4) AS jaccard
       |  FROM inter
       |  JOIN sizes za ON doc_a = za.doc_id
       |  JOIN sizes zb ON doc_b = zb.doc_id
       |  WHERE round(inter / CAST(za.sz + zb.sz - inter AS DOUBLE), 4) >= 0.8)""".stripMargin

  private def pairsCteSql: String = {
    s"""$minhashCteSql,
       |okb AS (SELECT band, key FROM bands GROUP BY band, key
       |        HAVING count(*) <= $MaxBucket),
       |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM bands x
       |          JOIN okb ON x.band = okb.band AND x.key = okb.key
       |          JOIN bands y
       |            ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |$verifySqlFromCands""".stripMargin
  }

  /** Uncapped star-edge chain: bucket min → spanning candidates →
    * the shared verification CTEs. */
  private def starPairsCteSql: String =
    s"""$minhashCteSql,
       |bmin AS (SELECT band, key, min(doc_id) AS doc_a
       |         FROM bands GROUP BY band, key),
       |cands AS (SELECT DISTINCT b.doc_a, y.doc_id AS doc_b
       |          FROM bmin b
       |          JOIN bands y ON b.band = y.band AND b.key = y.key
       |          WHERE y.doc_id <> b.doc_a),
       |$verifySqlFromCands""".stripMargin

  val q29Sql: String =
    s"""WITH $pairsCteSql
       |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q30
  /** SimHash fingerprints: 48-bit signature per document. Per word
    * occurrence, each of the 48 hash bits votes ±1; signature bit j is
    * 1 iff the vote sum is positive. One explode + one hash-agg with
    * 48 packed sum() partials — a single shuffle of 48 ints per
    * (partition, doc).
    */
  val SimhashBits = 48

  def q30SimHash(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), h60(col("w")).as("hw"))
    val voteCols = (0 until SimhashBits).map(j =>
      sum(when(shiftright(col("hw"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j"))
    val votes = words.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    val packed = (0 until SimhashBits)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), packed.as("simhash")).orderBy(col("doc_id"))
  }

  private def simhashCteSql: String = {
    val sums = (0 until SimhashBits)
      .map(j => s"sum(CASE WHEN (hw >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n  ")
    val pack = (0 until SimhashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""words AS (SELECT doc_id, ${h60Sql("w")} AS hw
       |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> ''),
       |votes AS (SELECT doc_id, $sums FROM words GROUP BY doc_id),
       |sig AS (SELECT doc_id, $pack AS simhash FROM votes)""".stripMargin
  }

  val q30Sql: String =
    s"""WITH $simhashCteSql
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q31
  /** SimHash near-dup pairs via bit-banding: the 48-bit signature
    * splits into 6 bytes; docs sharing any byte-band join as
    * candidates; pairs with Hamming distance ≤ 5 are emitted. By
    * pigeonhole, d ≤ 5 over 6 bands forces ≥ 1 equal band, so the
    * banded join finds EXACTLY the pairs a quadratic scan would —
    * with shuffle volume O(docs × 6 bytes).
    */
  val HammingMax = 5

  def q31SimHashPairs(spark: SparkSession, dir: String): DataFrame =
    q31SimHashPairs(spark, dir, MaxBucket)

  /** STAR form of the 48-bit Hamming band join — the q203
    * listing-free move applied to the signature families, adapted to
    * what Hamming banding can actually support. A bucket-hub star
    * (q203's exact shape) is UNSOUND here: band keys are only 8 bits,
    * so buckets are mostly hash collisions, the bucket-min hub
    * rarely verifies against anyone, and whole clusters vanish
    * gate-green (caught by DedupSpec's union-find pin when this
    * operator was built — both engines computed the same wrong star).
    * The sound linearization is EXACT-SIGNATURE COLLAPSE: all docs
    * with an identical signature hang off one rep (min doc id) via
    * Hamming-0 star edges — linear in duplication mass, which is
    * where re-encode farms put their n² — and the banded
    * [[bandedHammingPairs]] listing then runs over DISTINCT
    * signatures only. Components are EXACTLY the all-pairs graph's:
    * every rep edge is a real verified pair (reps share their
    * group's bands), and any verified pair (a,b) routes
    * a–rep(a)–rep(b)–b, so paths stretch ≤ 3× — [[SigStarSteps]]
    * sizes the unroll for it. */
  private[pipeline] def sigCollapsePairs(sig: DataFrame, hashCol: String,
      maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one shuffle keys the collapse: window-min per signature value,
    // no join back through the signature lineage
    val w = Window.partitionBy(col(hashCol))
    val withRep = sig.withColumn("rep", min(col("doc_id")).over(w))
    val exactEdges = withRep.filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val reps = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col(hashCol))
    exactEdges.unionByName(
      bandedHammingPairs(reps, hashCol, maxBucket)
        .select(col("doc_a"), col("doc_b")))
  }


  def q31SimHashPairs(spark: SparkSession, dir: String, maxBucket: Int): DataFrame =
    bandedHammingPairs(q30SimHash(spark, dir), "simhash", maxBucket)

  /** The 6×8-bit band join + Hamming verify every 48-bit signature
    * family shares (q31 text SimHash, q207 media dHash — one
    * implementation, so a banding change can never desynchronize the
    * near-dup surfaces): explode 6 byte-bands, cap hot buckets
    * ([[capBuckets]], the MaxBucket governor), bucket-local pair
    * expansion, verify `bit_count(xor) <= HammingMax`. By pigeonhole
    * d ≤ 5 over 6 bands forces ≥ 1 equal band, so the banded join
    * finds EXACTLY the pairs a quadratic scan would — with shuffle
    * volume O(docs × 6 bytes). */
  private[pipeline] def bandedHammingPairs(sig: DataFrame, hashCol: String,
      maxBucket: Int): DataFrame = {
    val bands = sig.select(col("doc_id"), col(hashCol).as("sig"),
        explode(sequence(lit(0), lit(5))).as("band"))
      .withColumn("key", expr("shiftright(sig, 8 * band) & 255"))
    // bucket-local pair expansion, same shape as q29's candidates;
    // same MaxBucket cap before the membership ever collects
    val pairs = capBuckets(bands, maxBucket).groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(col("members")).as("x"), col("members"))
      .select(col("x"), explode(col("members")).as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("ha"), col("y.sig").as("hb"))
      .distinct()
    pairs
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q31Sql: String =
    s"""WITH $simhashCteSql,
       |bands AS (SELECT doc_id, simhash, band, (simhash >> (8*band)) & 255 AS key
       |          FROM sig CROSS JOIN (SELECT unnest(range(6)) AS band)),
       |okb AS (SELECT band, key FROM bands GROUP BY band, key
       |        HAVING count(*) <= $MaxBucket),
       |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |                 x.simhash AS ha, y.simhash AS hb
       |          FROM bands x
       |          JOIN okb ON x.band = okb.band AND x.key = okb.key
       |          JOIN bands y
       |            ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
       |FROM pairs WHERE bit_count(xor(ha, hb)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Exact n-gram Jaccard via inverted index: explode distinct
    * shingles, self-join on the shingle hash (posting-list join),
    * count intersections per pair, filter ≥ 0.8. No sketch error, but
    * cost is Σ df(shingle)² — so the standard df-cap is APPLIED:
    * shingles appearing in more than `maxDf` documents are dropped
    * from the shingle universe before the self-join (they only ever
    * connect boilerplate, and one hot shingle at 100 TB would alone
    * produce df² ≈ 10¹² join rows). Sizes are computed over the same
    * capped universe, so the result is exact Jaccard over the
    * non-boilerplate shingle set — and the ORACLE applies the
    * identical cap, so the pruned semantics is what is graded, not a
    * silently-neutral knob. The graded default (5) is deliberately
    * NON-neutral: it prunes real postings at every test sf (measured
    * max df: 9 / 7 / 25 at sf0.001/0.01/0.1) and pins Σdf² ≈ 50k
    * across all three scales (vs 2.8M uncapped at sf0.1 — the
    * round-5 rehearsal measured the uncapped quadratic at 183× cost
    * for 10× data; under this cap the posting join is linear in the
    * kept postings). On these corpora the dropped df>5 shingles do
    * not change the ≥ 0.8 pair set at sf0.001/0.01 (DedupSpec pins
    * that); at larger sf the graded answer is the capped one by
    * design, on both engines. */
  val MaxDf = 5

  def q32NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    q32NgramJaccard(spark, dir, MaxDf)

  def q32NgramJaccard(spark: SparkSession, dir: String, maxDf: Int): DataFrame = {
    val all = shingleHashes(spark, dir)
    // df-cap: one hash-agg over the postings finds the HOT shingles
    // (df > cap) — by construction a tiny relation, so the cap is a
    // broadcast anti join, not a shuffle of the full posting list
    val hot = all.groupBy(col("hp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("hp"))
    val sh = all.join(broadcast(hot), Seq("hp"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    sh.as("a").join(sh.as("b"),
        col("a.hp") === col("b.hp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("za.sz") + col("zb.sz") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q32Sql: String =
    s"""WITH sh0 AS ($shingleHashesSql),
       |hot AS (SELECT hp FROM sh0 GROUP BY hp HAVING count(*) > $MaxDf),
       |sh AS (SELECT sh0.* FROM sh0 ANTI JOIN hot USING (hp)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.hp = b.hp AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b,
       |  round(inter / CAST(za.sz + zb.sz - inter AS DOUBLE), 4) AS jaccard
       |FROM inter
       |JOIN sizes za ON doc_a = za.doc_id
       |JOIN sizes zb ON doc_b = zb.doc_id
       |WHERE round(inter / CAST(za.sz + zb.sz - inter AS DOUBLE), 4) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Embedding-cosine near-dup pairs, exact: all-pairs cosine as a
    * BLOCKED nested loop ([[Similarity.blockedAllPairsCosine]]) — an
    * outer driver loop broadcasts one bounded id-range block at a
    * time and streams the table against it with a primitive JVM
    * kernel (same fold order as the oracle's list_sum, so
    * bit-identical). The graded block size (256) forces ≥ 2 blocks
    * at every test SF, so the graded plan is the one that survives
    * catalogs larger than a single broadcast; no single broadcast
    * ever exceeds blockSize vectors. The 100 TB shortcut remains the
    * LSH-bucketed variant in [[Similarity.q35AnnLsh]], which bounds
    * candidates per bucket instead of scanning passes. Threshold
    * 0.45 reflects this corpus (random vectors, max cosine ≈ 0.51).
    */
  val CosineThreshold = 0.45

  /** Floor of the scale-adaptive block size (r17,
    * [[Similarity.adaptiveCosineBlock]]): keeps ≥ 2 blocks at every
    * test SF — the graded multi-block plan is unchanged — while a
    * larger catalog gets half-span blocks up to the broadcast bound
    * instead of a linearly growing count of fixed-256 broadcast+scan
    * rounds (the sf1 rehearsal measured that fixed overhead at ~90%
    * of q33's wall). */
  val CosineBlockSize = 256

  def q33EmbeddingCosine(spark: SparkSession, dir: String): DataFrame =
    Similarity.blockedAllPairsCosine(spark, dir, CosineThreshold,
      span => Similarity.adaptiveCosineBlock(span, CosineBlockSize))

  val q33Sql: String =
    s"""WITH ev AS (SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(list_sum(list_transform(range(64),
       |    k -> CAST(a.embedding[k+1] AS DOUBLE) * CAST(b.embedding[k+1] AS DOUBLE)))
       |    / (a.nrm * b.nrm), 4) AS cosine
       |FROM ev a JOIN ev b ON a.vec_id < b.vec_id
       |WHERE list_sum(list_transform(range(64),
       |    k -> CAST(a.embedding[k+1] AS DOUBLE) * CAST(b.embedding[k+1] AS DOUBLE)))
       |    / (a.nrm * b.nrm) >= $CosineThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Near-dup CLUSTER resolution — the decision step after pair
    * generation: near-dup pairs (q29's verified MinHash output) form
    * a graph; connected components via min-label propagation pick ONE
    * canonical doc per cluster (the smallest id), and every other
    * member is marked a casualty. Without this step, pairwise dedup
    * of a 3-chain {a~b, b~c} wrongly keeps both endpoints.
    *
    * Fixed [[ClusterSteps]] supersteps of integer min-propagation
    * (the q42 union-fold shape — one join + one hash-agg per step,
    * oracle-matchable because both engines unroll identically).
    * OUTPUT CONTRACT: a fixed unroll resolves clusters of graph
    * diameter ≤ [[ClusterSteps]]; a longer chain would split into
    * several "canonical" docs. Propagation is idempotent once
    * converged, so the constant is set above any diameter the
    * near-dup generator produces (DedupSpec asserts one extra step
    * is a no-op on test data — the convergence witness). Scale: the
    * pair graph is sparse (near-dup clusters, not the corpus), label
    * state is ids only; shuffles carry 16 bytes per node, so extra
    * safety steps are cheap.
    */
  val ClusterSteps = 5

  def q62DedupClusters(spark: SparkSession, dir: String): DataFrame =
    q62DedupClusters(spark, dir, ClusterSteps)

  def q62DedupClusters(spark: SparkSession, dir: String, steps: Int): DataFrame = {
    // materialize the pair relation ONCE: it is tiny (near-dup pairs,
    // not the corpus) but its lineage is the whole MinHash pipeline,
    // which every superstep would otherwise recompute
    val pairs = Iterate.measured(
      q29MinhashLsh(spark, dir).select(col("doc_a"), col("doc_b")))
    resolveClusters(pairs, steps)
  }

  /** Min-label connected components over a MATERIALIZED verified-pair
    * relation → (doc_id, rep_id, keep). Shared by q62 (all-pairs
    * graph) and q203 (star graph) so the resolution semantics cannot
    * drift between them. */
  private[pipeline] def resolveClusters(pairs: DataFrame, steps: Int): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val init = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    // this step references `ls` TWICE (join leg + union leg) — the
    // q42 lesson — so it relies on loopDF truncating every step: an
    // uncheckpointed step's whole evaluation would run twice inside
    // the next step's materialization. The per-step plan shape stays
    // identical (LogicalRDD → join → union → agg), so the deep unrolls
    // (q203's 10, q211's 15 supersteps) hit the codegen cache from
    // step 2 on instead of recompiling nested plans.
    val labels = Iterate.loopDF(init, steps) { (ls, _) =>
      edges.join(ls, edges("src") === ls("node"))
        .select(col("dst").as("node2"), col("label"))
        .union(ls.select(col("node").as("node2"), col("label")))
        .groupBy(col("node2")).agg(min(col("label")).as("label2"))
        .select(col("node2").as("node"), col("label2").as("label"))
    }
    labels.select(col("node").as("doc_id"), col("label").as("rep_id"),
        (col("node") === col("label")).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q203
  /** STAR-expansion cluster resolution — the linear-output form of
    * q62 for corpora whose duplicate clusters are DEEP (SCALE.md
    * round-13: the sf10 rehearsal's replica corpus carries 100-member
    * clusters, and the all-pairs answer q62 inherits from q29 grows
    * as C(n,2) per cluster — 110× output for 10× input). Each LSH
    * bucket contributes only its (bucket-min, member) SPANNING edges
    * — O(n) per bucket instead of C(n,2) — each edge still
    * exact-Jaccard-verified, then the same min-label component
    * resolution as q62. Buckets run UNCAPPED: the two hazards the
    * q29 [[MaxBucket]] cap guards (a per-bucket `collect_list`
    * buffer; quadratic pair output) do not exist here — the bucket
    * min is a streaming window partial and the output is linear, so
    * boilerplate mega-buckets cost linear verification instead of
    * being dropped.
    *
    * SEMANTICS (pinned by the oracle, which builds the same star
    * graph in SQL): clusters are components of the VERIFIED star
    * graph. When near-dup similarity is not transitive inside a
    * bucket — the bucket-min fails verification against some member
    * that IS near-dup to a third — the star graph can split a
    * cluster the all-pairs graph joins. For duplicate-dominated
    * corpora (the regime this operator exists for) replicas verify
    * against each other symmetrically and the components coincide;
    * DedupSpec pins star edges ⊆ q29's verified pairs and the same
    * keep-invariants on test data.
    */
  private[graft] def starCandidates(bands: DataFrame): DataFrame = {
    // window-min, NOT a groupBy+self-join: the join-back form
    // recomputes the whole signature lineage twice (the q29
    // bucketCandidates lesson), and NOT collect_list: the star form's
    // point is that no bucket ever materializes its membership in one
    // aggregation buffer
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("key"))
    bands.withColumn("doc_a", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** q203's superstep count: 2 × [[ClusterSteps]]. A star graph
    * replaces each bucket clique with a hub — two members one hop
    * apart in q62's all-pairs graph sit two hops apart through the
    * bucket-min — so a chained-bucket cluster's diameter can DOUBLE,
    * and a fixed unroll sized for the clique graph would silently
    * under-merge exactly the deep clusters this operator targets
    * (both engines run the same unroll, so the gate would stay green
    * on wrong clusters — r13 review). Label state is ids only, so
    * the extra steps cost little. */
  val StarSteps = 2 * ClusterSteps

  /** q211's superstep count: 3 × [[ClusterSteps]]. The signature
    * collapse routes every original verified edge (a, b) through up
    * to two rep hops (a–rep(a)–rep(b)–b), so component diameter can
    * TRIPLE vs the all-pairs graph a fixed unroll was sized for —
    * the same failure q203's 2× guards against, one hop worse.
    * (Declared AFTER [[ClusterSteps]] on purpose: object vals
    * initialize in declaration order, and a forward reference here
    * silently reads 0.) */
  val SigStarSteps = 3 * ClusterSteps

  /** The verified star-edge relation (uncapped spanning candidates →
    * exact Jaccard ≥ 0.8) — the q203 pair graph, exposed to DedupSpec
    * so the star ⊆ q29-verified-pairs claim is PINNED, not asserted
    * in prose. */
  private[graft] def starVerifiedPairs(spark: SparkSession, dir: String)
      : DataFrame = {
    val sh = shingleHashes(spark, dir)
    val sig = minhashSigOf(sh)
    val cands = starCandidates(bandKeysOf(sig))
    val sizes = sig.select(col("doc_id"), col("sz"))
    verifyJaccard(cands, sh, sizes).select(col("doc_a"), col("doc_b"))
  }

  def q203ClusterStar(spark: SparkSession, dir: String): DataFrame =
    q203ClusterStar(spark, dir, StarSteps)

  def q203ClusterStar(spark: SparkSession, dir: String, steps: Int): DataFrame =
    resolveClusters(Iterate.measured(starVerifiedPairs(spark, dir)), steps)

  /** `e → l0 → … → lN` min-label CTE chain over a preceding `pairs`
    * CTE, plus the final projection — the SQL twin of
    * [[resolveClusters]], shared by q62 and q203. */
  private[pipeline] def clusterResolveSql(steps: Int): String = {
    // AS MATERIALIZED on e/l0/l$i: each step references its
    // predecessor TWICE (the neighbor-min join and the carry), so
    // DuckDB's default CTE inlining re-derives the whole upstream
    // tree 2^steps times — at q203's deeper unroll that re-opened
    // the source parquet past the fd limit (observed at 10 steps;
    // q62's 5 only survived by being 32 re-reads). Materializing
    // pins each label state to one evaluation, like the Spark side's
    // per-step materialization.
    val chain = (1 to steps).map { i =>
      s"""n$i AS (SELECT e.dst AS node, min(l.label) AS nl
         |  FROM e JOIN l${i - 1} l ON e.src = l.node GROUP BY e.dst),
         |l$i AS MATERIALIZED (SELECT l.node, least(l.label, coalesce(n.nl, l.label)) AS label
         |  FROM l${i - 1} l LEFT JOIN n$i n ON l.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
       |$chain
       |SELECT node AS doc_id, label AS rep_id,
       |  CAST(node = label AS INT) AS keep
       |FROM l$steps ORDER BY doc_id""".stripMargin
  }

  val q62Sql: String =
    s"""WITH $pairsCteSql,
       |${clusterResolveSql(ClusterSteps)}""".stripMargin

  val q203Sql: String =
    s"""WITH $starPairsCteSql,
       |${clusterResolveSql(StarSteps)}""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Train/test contamination check — the decontamination pass every
    * LLM data pipeline runs before training: find corpus documents
    * sharing ≥ [[MinSharedShingles]] distinct 3-gram shingles with
    * any document of a held-out benchmark set (here: doc_id <
    * [[BenchIdMax]] plays the benchmark).
    *
    * Plan: the benchmark's shingle set is SMALL by nature (eval sets
    * are thousands of docs, not billions) — broadcast it, so the
    * corpus-side shingle stream never shuffles for the probe; only
    * (corpus_doc, bench_doc) hit pairs enter the counting agg.
    * Output is all-integer (shared count + benchmark shingle size) —
    * contamination verdicts need no FP. Scale: corpus side is one
    * narrow pass over the cached shingle relation; the hit agg
    * shuffles only overlapping pairs, ~0 for a clean corpus.
    */
  val BenchIdMax = 20L
  val MinSharedShingles = 3

  def q63Contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(spark, dir)
    val bench = sh.filter(col("doc_id") < BenchIdMax)
      .select(col("doc_id").as("bench_id"), col("hp"))
    val bsz = bench.groupBy("bench_id").agg(count(lit(1)).as("bench_sz"))
    sh.filter(col("doc_id") >= BenchIdMax)
      .join(broadcast(bench), "hp")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinSharedShingles)
      .join(broadcast(bsz), "bench_id")
      .select(col("doc_id"), col("bench_id"), col("n_shared"), col("bench_sz"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  val q63Sql: String =
    s"""WITH sh AS ($shingleHashesSql),
       |bench AS (SELECT doc_id AS bench_id, hp FROM sh WHERE doc_id < $BenchIdMax),
       |bsz AS (SELECT bench_id, count(*) AS bench_sz FROM bench GROUP BY bench_id),
       |ov AS (SELECT c.doc_id, b.bench_id, count(*) AS n_shared
       |       FROM sh c JOIN bench b ON c.hp = b.hp
       |       WHERE c.doc_id >= $BenchIdMax
       |       GROUP BY c.doc_id, b.bench_id)
       |SELECT doc_id, bench_id, n_shared, bench_sz
       |FROM ov JOIN bsz USING (bench_id)
       |WHERE n_shared >= $MinSharedShingles
       |ORDER BY doc_id, bench_id""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Incremental dedup — the production shape none of q28-q62 cover:
    * a NEW ingest batch deduped against the EXISTING corpus, without
    * re-deduping the corpus against itself. Batch membership here is
    * `doc_id % 10 >= 8` (a deterministic ~20% slice, SF-independent);
    * a new doc is dropped when any near-dup pair (the verified q29
    * MinHash relation) links it to a corpus doc, and reports the
    * smallest matching corpus id as its `matched_old`.
    *
    * Scale: this graded form recomputes both sides' signatures so the
    * oracle can replay it; the incremental DEPLOYMENT stores corpus
    * band keys + shingle sets as a bucketed table (sources.Formats
    * bucketed layouts) and only the batch side is computed per run —
    * the band join is then batch-size × bucket, and the corpus never
    * rescans. Within-batch duplicates are q29/q62's job on the batch
    * alone, by design.
    */
  /** Precomputed corpus side of incremental dedup — what a deployment
    * stores (bucketed by band key / by hp) and reuses across ingest
    * batches: LSH band keys, shingle hashes, and set sizes. Persisted
    * so every batch probe reads memory, not lineage. */
  final case class DedupIndex(bands: DataFrame, shingles: DataFrame, sizes: DataFrame) {
    def unpersist(): Unit = {
      bands.unpersist(); shingles.unpersist(); sizes.unpersist()
    }
  }

  def buildIndex(corpus: DataFrame): DedupIndex = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = shingleHashesOf(corpus).persist(lvl)
    val sig = minhashSigOf(sh).persist(lvl)
    val bands = bandKeysOf(sig).persist(lvl)
    val sizes = sig.select(col("doc_id"), col("sz")).persist(lvl)
    // materialize in dependency order (r17 optimization): the first
    // probe action otherwise fans out and races CONCURRENT recomputes
    // of the corpus shingle explode, one per index leg (the q191
    // 12-42 s instability). bands.count() chains sh -> sig -> bands
    // serially; sizes then reads the sig cache; sig itself is only a
    // build-time intermediate and is released once both legs exist.
    try { bands.count(); sizes.count() }
    catch { case t: Throwable =>
      Seq(sh, sig, bands, sizes).foreach(_.unpersist(blocking = false))
      throw t
    } finally sig.unpersist(blocking = false)
    DedupIndex(bands, shingles = sh, sizes = sizes)
  }

  /** Dedup an arbitrary `(doc_id, text)` batch against a prebuilt
    * corpus index: per batch doc, the smallest near-dup-matching
    * corpus id (or −1) and a keep flag — q78's semantics with only
    * the batch side computed per call. The band probe is an equi-join
    * on (band, key); candidate verification touches only colliding
    * pairs' shingles. At scale the batch is small relative to the
    * corpus, so every join is batch-size-bounded against an indexed,
    * persisted right side. */
  def dedupAgainst(index: DedupIndex, batch: DataFrame): DataFrame = {
    val bsh = shingleHashesOf(batch)
    val bsig = minhashSigOf(bsh)
    val bbands = bandKeysOf(bsig)
    val cands = bbands.as("nb")
      .join(index.bands.as("ob"),
        col("nb.band") === col("ob.band") && col("nb.key") === col("ob.key"))
      .select(col("nb.doc_id").as("nid"), col("ob.doc_id").as("oid"))
      .distinct()
    val inter = cands
      .join(bsh.as("sa"), col("nid") === col("sa.doc_id"))
      .join(index.shingles.as("sb"),
        col("oid") === col("sb.doc_id") && col("sa.hp") === col("sb.hp"))
      .groupBy(col("nid"), col("oid")).agg(count(lit(1)).as("inter"))
    val verified = inter
      .join(bsig.select(col("doc_id"), col("sz")).as("za"), col("nid") === col("za.doc_id"))
      .join(index.sizes.as("zb"), col("oid") === col("zb.doc_id"))
      .filter(round(col("inter") / (col("za.sz") + col("zb.sz") - col("inter")).cast("double"), 4)
        >= 0.8)
      .groupBy(col("nid")).agg(min(col("oid")).as("matched_old"))
    batch.select(col("doc_id"))
      .join(verified, col("doc_id") === col("nid"), "left_outer")
      .select(col("doc_id"), coalesce(col("matched_old"), lit(-1L)).as("matched_old"),
        col("matched_old").isNull.cast("int").as("keep"))
  }

  def q78IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    def isNew(c: org.apache.spark.sql.Column) = c % 10 >= 8
    val pairs = q29MinhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val hits = pairs.filter(isNew(col("doc_a")) && !isNew(col("doc_b")))
      .select(col("doc_a").as("nid"), col("doc_b").as("oid"))
      .union(pairs.filter(isNew(col("doc_b")) && !isNew(col("doc_a")))
        .select(col("doc_b").as("nid"), col("doc_a").as("oid")))
    val matched = hits.groupBy(col("nid")).agg(min(col("oid")).as("matched_old"))
    graft.sources.Tables.documents(spark, dir)
      .filter(isNew(col("doc_id"))).select(col("doc_id"))
      .join(matched, col("doc_id") === col("nid"), "left_outer")
      .select(col("doc_id"), coalesce(col("matched_old"), lit(-1L)).as("matched_old"),
        col("matched_old").isNull.cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  val q78Sql: String =
    s"""WITH $pairsCteSql,
       |hits AS (
       |  SELECT doc_a AS nid, doc_b AS oid FROM pairs
       |  WHERE doc_a % 10 >= 8 AND doc_b % 10 < 8
       |  UNION ALL
       |  SELECT doc_b AS nid, doc_a AS oid FROM pairs
       |  WHERE doc_b % 10 >= 8 AND doc_a % 10 < 8),
       |matched AS (SELECT nid, min(oid) AS matched_old FROM hits GROUP BY nid)
       |SELECT d.doc_id, coalesce(m.matched_old, -1) AS matched_old,
       |  CAST(m.matched_old IS NULL AS INT) AS keep
       |FROM documents d LEFT JOIN matched m ON d.doc_id = m.nid
       |WHERE d.doc_id % 10 >= 8
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q111
  /** Exact duplicated-SPAN excision — the substring-level dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ExactSubstr): instead of dropping whole near-dup
    * documents, remove the duplicated PASSAGES (boilerplate headers,
    * license blocks, templated paragraphs) and keep the rest. A token
    * position starts a duplicated span when its [[Q111K]]-token gram
    * occurs ≥ 2 times ANYWHERE in the corpus (including elsewhere in
    * the same document); every token covered by a marked gram is
    * excised and the survivors re-joined.
    *
    * Scale shape: two linear relations — (doc, pos, gramhash) and
    * (doc, pos, token) — never a pairwise term. The gram df rides a
    * window over the gram-hash partition (the q85 single-lineage
    * pattern: a join-back to a count relation would defeat exchange
    * reuse and re-scan the corpus); marked starts then join the token
    * relation on (doc, pos) — 8-byte keys — and coverage is a rows
    * window over the preceding K−1 token slots. The rebuilt text is a
    * sort_array(collect_list) per doc: bounded by ONE document, the
    * same per-group contract as every flatMapGroups op here.
    */
  val Q111K = 5

  def q111DedupSpans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val marked = graft.engine.Cpu.spread(docs)
      // outer posexplode for the same reason Cpu.explodeComputed uses
      // it: no inferred size(shingles)>0 filter re-running the gram
      // build in the scan stage (empty-gram docs drop either way)
      .select(col("doc_id"), posexplode_outer(shingles(col("text"), Q111K)).as(Seq("p", "g")))
      .filter(col("p").isNotNull)
      .select(col("doc_id"), col("p"), h60(col("g")).as("gh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("df") >= 2)
      .select(col("doc_id"), col("p"))
    val tokens = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("t", "token")))
    val covered = tokens
      .join(marked.withColumn("m", lit(1)),
        tokens("doc_id") === marked("doc_id") && tokens("t") === marked("p"), "left_outer")
      .select(tokens("doc_id"), col("t"), col("token"), coalesce(col("m"), lit(0)).as("m"))
      .withColumn("cov", max(col("m")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("t")).rowsBetween(1 - Q111K, 0)))
    covered.groupBy(col("doc_id"))
      .agg(
        count(when(col("cov") === 1, 1)).as("n_removed"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("cov") === 0, struct(col("t"), col("token"))))),
          x => x.getField("token"))).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  val q111Sql: String =
    s"""WITH d AS (SELECT doc_id, str_split(text, ' ') AS wsarr FROM documents),
       |marked AS (
       |  SELECT doc_id, p FROM (
       |    SELECT doc_id, i AS p, count(*) OVER (PARTITION BY
       |        ('0x' || substr(md5(array_to_string(wsarr[i+1:i+${Q111K}], ' ')), 1, 15))::BIGINT
       |      ) AS df
       |    FROM d, LATERAL unnest(generate_series(0, len(wsarr) - ${Q111K})) AS s(i))
       |  WHERE df >= 2),
       |tok AS (
       |  SELECT doc_id, t, wsarr[t+1] AS token
       |  FROM d, LATERAL unnest(generate_series(0, len(wsarr) - 1)) AS s(t)),
       |cov AS (
       |  SELECT tok.doc_id, tok.t, tok.token,
       |    max(CASE WHEN m.p IS NULL THEN 0 ELSE 1 END) OVER (
       |      PARTITION BY tok.doc_id ORDER BY tok.t
       |      ROWS BETWEEN ${Q111K - 1} PRECEDING AND CURRENT ROW) AS c
       |  FROM tok LEFT JOIN marked m ON m.doc_id = tok.doc_id AND m.p = tok.t)
       |SELECT doc_id,
       |  count(*) FILTER (c = 1) AS n_removed,
       |  coalesce(string_agg(token, ' ' ORDER BY t) FILTER (c = 0), '') AS text_clean
       |FROM cov
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q176
  /** Blocked edit-distance self-join (entity resolution / fuzzy key
    * matching — the record-linkage half of dedup) in the ED-Join
    * shape [Xiao et al., VLDB'08 — public literature]: if
    * lev(a,b) ≤ K then a and b share at least one of the FIRST
    * q·K+1 q-grams under ANY global total order on grams, so the
    * candidate join keys on a short gram prefix instead of all
    * grams — and we order grams by (global document frequency ASC,
    * gram), putting the RAREST grams in the prefixes, which keeps the
    * per-gram posting lists (the join's fan-out) minimal. The gram
    * frequency table is bounded by the gram vocabulary (alphabet^q),
    * never the corpus, hence broadcast. The prefix guarantee requires
    * at least ONE side to carry ≥ q·K+1 DISTINCT grams (each edit
    * destroys at most q positional grams, hence at most q distinct
    * gram values; the prefix-filter theorem then needs
    * max(|A|,|B|) − q·K ≥ 1 shared values) — two short or highly
    * repetitive names can share zero grams despite lev ≤ K, so names
    * with ≤ q·K distinct grams are ALSO crossed within the length
    * band as a separate vocabulary-bounded block (strings that short
    * or that repetitive are combinatorially few after distinct()),
    * and the candidate sets union. Survivors pass a length-band
    * prefilter (|len diff| ≤ K ⟸ lev ≤ K) before the exact
    * levenshtein verify — the only per-pair work. Contract: inputs of
    * at least q chars (shorter strings have no q-grams; filtered
    * identically on both engines). Graded over the distinct part-name
    * vocabulary; DedupSpec proves blocked ≡ brute-force on random
    * mutated strings, including the short-name regime.
    */
  val FuzzyQ = 3
  val FuzzyK = 2

  def q176FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    fuzzyJoin(
      Tables.part(spark, dir).select(col("p_name").as("name")).distinct(),
      FuzzyQ, FuzzyK)
      .orderBy(col("name_a"), col("name_b"))
  }

  /** The reusable blocked edit-distance join over any single-column
    * `name` frame of distinct strings; see [[q176FuzzyJoin]]. */
  private[graft] def fuzzyJoin(names0: DataFrame, q: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val names = names0.filter(length(col("name")) >= q)
    val grams = names.select(col("name"),
      explode(array_distinct(expr(
        s"transform(sequence(1, length(name) - ${q - 1}), i -> substr(name, i, $q))"))).as("gram"))
    val gdf = grams.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
    val byName = Window.partitionBy(col("name"))
    val ranked = grams.join(broadcast(gdf), Seq("gram"))
      .withColumn("rn", row_number().over(byName.orderBy(col("gdf"), col("gram"))))
      .withColumn("ng", count(lit(1)).over(byName))
    val pre = ranked.filter(col("rn") <= q * k + 1).select(col("name"), col("gram"))
    val fromGrams = pre.as("a").join(pre.as("b"),
        col("a.gram") === col("b.gram") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    // the ≤ q·k-distinct-gram block: both-small pairs evade the gram
    // join entirely, so cross the (bounded, broadcast) small set in
    // its length band and union the candidates before one verify
    val small = ranked.filter(col("rn") === 1 && col("ng") <= q * k).select(col("name"))
    val fromSmall = small.as("a").join(broadcast(small.as("b")),
        col("a.name") < col("b.name") &&
          abs(length(col("a.name")) - length(col("b.name"))) <= k)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    fromGrams.unionByName(fromSmall)
      .distinct()
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= k)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= k)
  }

  val q176Sql: String =
    s"""WITH n AS (SELECT DISTINCT p_name AS name FROM part WHERE length(p_name) >= $FuzzyQ),
       |g AS (SELECT name, unnest(list_distinct([name[i:i+${FuzzyQ - 1}] for i in range(1, length(name) - ${FuzzyQ - 2})])) AS gram FROM n),
       |gdf AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
       |r AS (SELECT g.name, g.gram,
       |    row_number() OVER (PARTITION BY g.name ORDER BY gdf.gdf, g.gram) AS rn,
       |    count(*) OVER (PARTITION BY g.name) AS ng
       |  FROM g JOIN gdf USING (gram)),
       |pre AS (SELECT name, gram FROM r WHERE rn <= ${FuzzyQ * FuzzyK + 1}),
       |small AS (SELECT name FROM r WHERE rn = 1 AND ng <= ${FuzzyQ * FuzzyK}),
       |cand AS (SELECT a.name AS name_a, b.name AS name_b
       |         FROM pre a JOIN pre b ON a.gram = b.gram AND a.name < b.name
       |         UNION
       |         SELECT a.name, b.name FROM small a JOIN small b
       |         ON a.name < b.name AND abs(length(a.name) - length(b.name)) <= $FuzzyK)
       |SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
       |FROM cand
       |WHERE abs(length(name_a) - length(name_b)) <= $FuzzyK
       |  AND levenshtein(name_a, name_b) <= $FuzzyK
       |ORDER BY name_a, name_b""".stripMargin

  // ---------------------------------------------------------------- q178
  /** Substring-overlap candidate pairs via winnowing (the
    * substring-level near-dup detector that document-level sketches
    * q29-q31 cannot give — two documents sharing one long passage but
    * nothing else still collide here, because winnowing guarantees a
    * common selected hash for any shared run of
    * ≥ WinnowW+GramLen−1 chars): join the q177 fingerprint sets on
    * fp, count shared fingerprints per doc pair, keep pairs sharing
    * ≥ [[WinnowMinShared]]. The standard df-cap is applied FIRST —
    * fingerprints selected by more than [[WinnowDfCap]] documents are
    * boilerplate and are dropped via a broadcast anti-join of the
    * (small) hot set, the same posture as q31/q32, so the join's cost
    * is Σ df(fp)² with df ≤ cap, never quadratic in the corpus. The
    * oracle applies the identical cap: the pruned semantics is what
    * is graded.
    */
  val WinnowDfCap = 20
  val WinnowMinShared = 5

  /** q178's exploded winnow fingerprints: the md5-per-position
    * winnow is the dominant per-doc cost and the relation is read
    * three times (df census + both join legs) — same posture as
    * q29's shingles. Routed through SessionCache (not a bare
    * .cache()) so repeat invocations in a serve loop reuse ONE
    * pinned copy and invalidateAll can release it (round-9 advice:
    * the bare-cache version pinned a fresh orphan per call). */
  // eager count: the census + two join legs otherwise race concurrent
  // recomputes of the winnow kernel on the first action (the
  // shingleCache rationale)
  private val winnowFpCache = new graft.engine.SessionCache((spark, dir) => {
    val df = TextAnalysis.winnowExploded(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  })

  def q178WinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val sel = winnowFpCache.get(spark, dir)
    val hot = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > WinnowDfCap).select(col("fp"))
    val rare = sel.join(broadcast(hot), Seq("fp"), "left_anti")
    rare.as("a").join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q178Sql: String = {
    import TextAnalysis.{GramLen, WinnowW}
    s"""WITH hs AS (SELECT doc_id,
       |    [${h60Sql(s"text[i:i+${GramLen - 1}]")} for i in range(1, length(text) - ${GramLen - 2})] AS hs
       |  FROM documents WHERE length(text) >= ${GramLen + WinnowW - 1}),
       |sel AS (SELECT doc_id,
       |    unnest(list_distinct([list_min(hs[w:w+${WinnowW - 1}]) for w in range(1, len(hs) - ${WinnowW - 2})])) AS fp
       |  FROM hs),
       |rare AS (SELECT doc_id, fp FROM sel
       |  QUALIFY count(*) OVER (PARTITION BY fp) <= $WinnowDfCap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------- incremental winnowing
  /** Precomputed corpus side of incremental PASSAGE-level dedup —
    * the q178 substring detector in the q78 deployment posture: the
    * corpus' winnow fingerprints are computed ONCE and persisted
    * (at scale: a bucketed-by-fp table), along with the boilerplate
    * census (fingerprints selected by more than [[WinnowDfCap]]
    * corpus docs). Per ingest batch, only the batch side is hashed.
    *
    * Contract difference vs graded q178 (documented, deliberate):
    * the df census is FROZEN with the index — a deployment cannot
    * re-census the corpus per batch — so a fingerprint that becomes
    * hot only when counting new docs still probes. Verdicts are
    * therefore batch-boundary-independent by construction, which is
    * exactly what the streaming ≡ one-shot spec pins. */
  final case class WinnowIndex(fps: DataFrame, hot: DataFrame) {
    def unpersist(): Unit = { fps.unpersist(); hot.unpersist() }
  }

  /** Census + rare-fp legs over an exploded fingerprint relation —
    * the ONE construction behind buildWinnowIndex, q180 and q184
    * (they had three drifting copies — round-11 review finding).
    * `persist = true` is the read-many posture (streaming probes, a
    * shared build): both legs are persisted AND materialized, with
    * the partial persists released if either action fails;
    * `persist = false` leaves them lazy for one-shot probes where
    * each leg is read exactly once. */
  private[graft] def winnowIndexFrom(sel: DataFrame,
      persist: Boolean): WinnowIndex = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val hot0 = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > WinnowDfCap).select(col("fp"))
    val hot = if (persist) hot0.persist(lvl) else hot0
    val fps0 = sel.join(broadcast(hot), Seq("fp"), "left_anti")
    val fps = if (persist) fps0.persist(lvl) else fps0
    if (persist) {
      try { hot.count(); fps.count() }
      catch { case t: Throwable =>
        hot.unpersist(blocking = false); fps.unpersist(blocking = false)
        throw t
      }
    }
    WinnowIndex(fps = fps, hot = hot)
  }

  def buildWinnowIndex(corpus: DataFrame): WinnowIndex = {
    val sel = TextAnalysis.winnowExploded(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // MATERIALIZE the derived relations while sel is still pinned —
    // an unpersist before any action here would make the persist of
    // sel never serve a read, and the fingerprint kernel (the
    // dominant build cost) would run once per derived leg (round-10
    // review finding). Index builds are eager by nature: this is the
    // one-time ingest-side cost the probe path amortizes.
    try winnowIndexFrom(sel, persist = true)
    finally sel.unpersist(blocking = false)
  }

  /** Passage-overlap verdicts for an arbitrary `(doc_id, text)` batch
    * against a prebuilt [[WinnowIndex]]: per batch doc, the smallest
    * corpus doc sharing ≥ [[WinnowMinShared]] rare fingerprints (or
    * −1) and a keep flag. The probe is one equi-join on fp whose
    * fan-out is bounded by the index's df cap (≤ WinnowDfCap corpus
    * rows per fingerprint), so cost is batch-fingerprints × cap —
    * linear in ingest rate, independent of corpus size. */
  def winnowAgainst(index: WinnowIndex, batch: DataFrame): DataFrame = {
    val bfp = TextAnalysis.winnowExploded(batch)
      .join(broadcast(index.hot), Seq("fp"), "left_anti")
    val matched = bfp.as("nb")
      .join(index.fps.as("ob"), col("nb.fp") === col("ob.fp"))
      .groupBy(col("nb.doc_id").as("nid"), col("ob.doc_id").as("oid"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
      .groupBy(col("nid")).agg(min(col("oid")).as("matched_old"))
    batch.select(col("doc_id"))
      .join(matched, col("doc_id") === col("nid"), "left_outer")
      .select(col("doc_id"), coalesce(col("matched_old"), lit(-1L)).as("matched_old"),
        col("matched_old").isNull.cast("int").as("keep"))
  }

  /** Graded surface of the incremental winnowing deployment:
    * [[winnowAgainst]] with q78's corpus split (`doc_id % 10 >= 8`
    * is the ingest batch). The corpus index lives in SessionCache —
    * built once per (session, dir), shared with repeat invocations,
    * released by `invalidateAll` like every other memoized relation
    * (never a bare per-call persist). The oracle replays the
    * FROZEN-census contract exactly: the df cap counts corpus docs
    * only. */
  private def winnowCorpusSel(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowExploded(
        graft.sources.Tables.documents(spark, dir)
          .filter(col("doc_id") % 10 < 8)
          .select(col("doc_id"), col("text")))

  // ONE persisted relation — q178's winnowFpCache pattern: the
  // fingerprint kernel (the dominant cost) runs once into the cache;
  // the census and the anti-join legs are cheap derivations read FROM
  // it per call. Separate hot/rare caches each rebuilt the corpus
  // selection from scratch — the kernel paid twice on first build
  // (round-10 review finding).
  private val winnowCorpusCache = new graft.engine.SessionCache((spark, dir) => {
    // eager count: census/anti-join/probe legs race the kernel otherwise
    val df = winnowCorpusSel(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  })

  def q180WinnowIncremental(spark: SparkSession, dir: String): DataFrame = {
    // one-shot probe: each index leg is read exactly once, so the
    // legs stay lazy over the cached fingerprint relation
    val index = winnowIndexFrom(winnowCorpusCache.get(spark, dir),
      persist = false)
    winnowAgainst(index,
        graft.sources.Tables.documents(spark, dir)
          .filter(col("doc_id") % 10 >= 8)
          .select(col("doc_id"), col("text")))
      .orderBy(col("doc_id"))
  }

  val q180Sql: String = {
    import TextAnalysis.{GramLen, WinnowW}
    s"""WITH hs AS (SELECT doc_id,
       |    [${h60Sql(s"text[i:i+${GramLen - 1}]")} for i in range(1, length(text) - ${GramLen - 2})] AS hs
       |  FROM documents WHERE length(text) >= ${GramLen + WinnowW - 1}),
       |sel AS (SELECT doc_id,
       |    unnest(list_distinct([list_min(hs[w:w+${WinnowW - 1}]) for w in range(1, len(hs) - ${WinnowW - 2})])) AS fp
       |  FROM hs),
       |hot AS (SELECT fp FROM sel WHERE doc_id % 10 < 8
       |  GROUP BY fp HAVING count(*) > $WinnowDfCap),
       |corp AS (SELECT doc_id, fp FROM sel
       |  WHERE doc_id % 10 < 8 AND fp NOT IN (SELECT fp FROM hot)),
       |batch AS (SELECT doc_id, fp FROM sel
       |  WHERE doc_id % 10 >= 8 AND fp NOT IN (SELECT fp FROM hot)),
       |matched AS (
       |  SELECT nid, min(oid) AS matched_old FROM (
       |    SELECT b.doc_id AS nid, c.doc_id AS oid
       |    FROM batch b JOIN corp c ON b.fp = c.fp
       |    GROUP BY b.doc_id, c.doc_id
       |    HAVING count(*) >= $WinnowMinShared)
       |  GROUP BY nid)
       |SELECT d.doc_id, coalesce(m.matched_old, -1) AS matched_old,
       |  CAST(m.matched_old IS NULL AS INT) AS keep
       |FROM documents d LEFT JOIN matched m ON d.doc_id = m.nid
       |WHERE d.doc_id % 10 >= 8
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q180's streaming twin, graded END-TO-END: the same ingest split
    * (`doc_id % 10 >= 8`) is driven through an actual
    * [[graft.streaming.Streams.streamingWinnowDedup]] StreamingQuery
    * (one drip trigger since r17 — DedupSpec carries the multi-batch
    * boundary-independence proof), the
    * foreachBatch sink's verdicts accumulated and graded against the
    * SAME oracle as q180 — the frozen-census contract makes verdicts
    * batch-boundary-independent, so the streamed result must equal
    * the one-shot one bit-for-bit. Until round 11 this equivalence
    * was only a ScalaTest pin; this row makes the DuckDB gate
    * exercise a real StreamingQuery.
    *
    * The ingest rides [[graft.streaming.FileDrip]] — the same
    * watched-directory file source q185/q186 use — so NO corpus text
    * ever passes through the driver (the r11 MemoryStream form
    * collect()ed the whole ingest split to feed it; the in-memory
    * source itself keeps its coverage in DedupSpec's MemoryStream
    * twin). Driver-side pieces are grading harness, not operator:
    * the sink accumulates one bounded verdict row per ingest doc
    * (production sinks write to a table). The probe itself —
    * fingerprint, census anti-join, df-capped equi-join — runs
    * distributed inside each micro-batch exactly as in q180. */
  /** (doc_id, matched_old, keep) — the verdict schema every dedup
    * streaming row grades on. */
  private val VerdictSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("matched_old",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("keep",
      org.apache.spark.sql.types.IntegerType)))

  def q184StreamingWinnow(spark: SparkSession, dir: String): DataFrame = {
    val sel = winnowCorpusCache.get(spark, dir)
    // the streaming posture probes the index ONCE PER TRIGGER: unlike
    // q180's one-shot (each leg read once), lazy legs here would
    // re-run the census + anti-join over the cached fingerprints for
    // every micro-batch — persist and materialize both, the same
    // read-many posture buildWinnowIndex serves (round-11 review
    // finding)
    val index = winnowIndexFrom(sel, persist = true)
    try {
      val ingest = graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), col("text"))
      // ONE drip batch (r17 optimization): per-doc verdicts depend
      // only on (doc, frozen index) — DedupSpec carries the
      // boundary-independence proof across 1/2/3-batch splits, so the
      // graded row pays one trigger's drive cost, not two, for the
      // bit-identical output (r16 verdict next-round #1).
      graft.streaming.FileDrip.driveAndCollect(Seq(ingest),
          VerdictSchema, Seq("doc_id")) { (stream, emit) =>
        graft.streaming.Streams.streamingWinnowDedup(
          stream, index, "q184_streaming_winnow") { v =>
          v.collect().foreach(emit)
        }
      }
    } finally index.unpersist()
  }

  /** q78's streaming twin, graded END-TO-END — the round-11 q184
    * conversion applied to the MinHash-LSH incremental probe: the
    * ingest split (`doc_id % 10 >= 8`) rides
    * [[graft.streaming.FileDrip]] through an actual
    * [[graft.streaming.Streams.streamingIncrementalDedup]]
    * StreamingQuery against the persisted corpus [[DedupIndex]]; the
    * foreachBatch sink's verdicts accumulate and grade against a
    * DuckDB oracle. Per-doc verdicts depend only on (doc, frozen
    * index), so the streamed result equals the one-shot
    * [[dedupAgainst]] bit-for-bit regardless of batch boundaries.
    * Until round 12 this posture was only a DedupSpec batch-twin pin.
    *
    * The oracle mirrors the INDEX-PROBE semantics exactly: unlike
    * q78 (graded via q29's capped pairs), [[dedupAgainst]] probes the
    * index bands UNCAPPED — a deployment applies the boilerplate cap
    * when BUILDING the stored index, not per probe — so q191's SQL
    * derives candidates without the MaxBucket filter and restricted
    * to new×old, exactly what the probe computes. (On the driver
    * corpora the cap is neutral — DedupSpec pins that — so q78 and
    * q191 also agree with each other there.)
    *
    * Driver-side pieces are grading harness, not operator: the sink
    * accumulates one bounded verdict row per ingest doc. The probe
    * itself — batch shingles/minhash/bands, band equi-join, candidate
    * Jaccard verification — runs distributed inside each micro-batch.
    */
  def q191StreamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val index = buildIndex(graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 < 8).select(col("doc_id"), col("text")))
    try {
      val ingest = graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), col("text"))
      // ONE drip batch (r17 optimization): the probe is stateless per
      // trigger — verdict = f(doc, frozen index); DedupSpec pins the
      // 1/2/3-split equivalence, so the graded row drops the second
      // trigger's fixed drive cost (r16 verdict next-round #1).
      graft.streaming.FileDrip.driveAndCollect(Seq(ingest),
          VerdictSchema, Seq("doc_id")) { (stream, emit) =>
        graft.streaming.Streams.streamingIncrementalDedup(
          stream, index, "q191_streaming_dedup") { v =>
          v.collect().foreach(emit)
        }
      }
    } finally index.unpersist()
  }

  /** The uncapped new×old probe CTE chain `cands → inter → matched`
    * over [[minhashCteSqlFrom]]'s relations — [[dedupAgainst]]'s
    * exact semantics, shared by q191's and q193's oracles so a
    * threshold or rounding tweak can never silently diverge the two
    * graded gates (r12 review finding). */
  private def uncappedProbeCteSql: String =
    s"""cands AS (SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid
       |  FROM bands n JOIN bands o ON n.band = o.band AND n.key = o.key
       |  WHERE n.doc_id % 10 >= 8 AND o.doc_id % 10 < 8),
       |inter AS (SELECT c.nid, c.oid, count(*) AS inter
       |  FROM cands c
       |  JOIN sh sa ON c.nid = sa.doc_id
       |  JOIN sh sb ON c.oid = sb.doc_id AND sa.hp = sb.hp
       |  GROUP BY c.nid, c.oid),
       |matched AS (SELECT i.nid, min(i.oid) AS matched_old
       |  FROM inter i
       |  JOIN sizes za ON i.nid = za.doc_id
       |  JOIN sizes zb ON i.oid = zb.doc_id
       |  WHERE round(i.inter / CAST(za.sz + zb.sz - i.inter AS DOUBLE), 4) >= 0.8
       |  GROUP BY i.nid)""".stripMargin

  val q191Sql: String =
    s"""WITH $minhashCteSql,
       |$uncappedProbeCteSql
       |SELECT d.doc_id, coalesce(m.matched_old, -1) AS matched_old,
       |  CAST(m.matched_old IS NULL AS INT) AS keep
       |FROM documents d LEFT JOIN matched m ON d.doc_id = m.nid
       |WHERE d.doc_id % 10 >= 8
       |ORDER BY d.doc_id""".stripMargin

  /** The COMPOSED streaming ingest pipeline, graded END-TO-END — the
    * full intake shape a training-data pipeline runs per micro-batch
    * ([[graft.streaming.Streams.ingestPipeline]]): quality gate
    * (frozen linear classifier, one narrow expression inside the
    * stream) → PII redaction (narrow regex scrub) → near-dup verdict
    * against the persisted corpus [[DedupIndex]]. One verdict row per
    * SURVIVING ingest doc: (doc_id, quality_prob, redacted text,
    * matched_old, keep). Until round 12 this composition was only a
    * DedupSpec batch-twin pin.
    *
    * The synthetic corpus carries no natural PII, so the ingest split
    * is fed through [[graft.pipeline.Curation.injectPii]] (q69's
    * deterministic injection) — the in-stream redaction is then
    * NON-vacuous and the dedup probe hashes the redacted text, which
    * the oracle mirrors (inject → gate on injected text → redact →
    * union with the raw old corpus → uncapped new×old band probe).
    * Stage order matters and is pinned by the oracle: classify BEFORE
    * redaction (the gate scores what arrived), dedup AFTER (the index
    * must never see raw PII). */
  val IngestMinProb = 0.5

  def q193StreamingIngest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val index = buildIndex(graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 < 8).select(col("doc_id"), col("text")))
    try {
      val ingest = graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"),
          graft.pipeline.Curation.injectPii(col("doc_id"), col("text")).as("text"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("quality_prob", DoubleType),
        StructField("text", StringType),
        StructField("matched_old", LongType),
        StructField("keep", IntegerType)))
      // ONE drip batch (r17 optimization): gate/redact/dedup are all
      // stateless per trigger against the frozen index; DedupSpec pins
      // split-independence, so the graded row pays one trigger
      // (r16 verdict next-round #1).
      graft.streaming.FileDrip.driveAndCollect(Seq(ingest),
          schema, Seq("doc_id")) { (stream, emit) =>
        graft.streaming.Streams.ingestPipeline(
          stream, index, IngestMinProb, "q193_streaming_ingest") { v =>
          v.select(col("doc_id"), col("quality_prob"), col("text"),
              col("matched_old"), col("keep"))
            .collect().foreach(emit)
        }
      }
    } finally index.unpersist()
  }

  val q193Sql: String = {
    val clfB = graft.pipeline.Scoring.ClfBuckets
    val emailRe = graft.pipeline.Curation.EmailRe
    val phoneRe = graft.pipeline.Curation.PhoneRe
    s"""WITH inj AS (
       |  SELECT doc_id,
       |    ${graft.pipeline.Curation.injectPiiSql}
       |      AS t
       |  FROM documents WHERE doc_id % 10 >= 8),
       |ctok AS (SELECT doc_id, ${h60Sql("t")} % $clfB AS b
       |  FROM (SELECT doc_id, unnest(str_split(t, ' ')) AS t FROM inj)
       |  WHERE t <> ''),
       |gate AS (SELECT doc_id,
       |    round(1.0 / (1.0 + exp(sum(((b * 2654435761) % 1000003 % 2001 - 1000) / 1000.0)
       |      / count(*) * -8.0)), 4) AS quality_prob
       |  FROM ctok GROUP BY doc_id),
       |ing AS (SELECT i.doc_id,
       |    regexp_replace(regexp_replace(i.t, '$emailRe', '<EMAIL>', 'g'),
       |      '$phoneRe', '<PHONE>', 'g') AS text,
       |    g.quality_prob
       |  FROM inj i JOIN gate g USING (doc_id)
       |  WHERE g.quality_prob > $IngestMinProb),
       |srcrel AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8
       |  UNION ALL SELECT doc_id, text FROM ing),
       |${minhashCteSqlFrom("srcrel")},
       |$uncappedProbeCteSql
       |SELECT g.doc_id, g.quality_prob, g.text,
       |  coalesce(m.matched_old, -1) AS matched_old,
       |  CAST(m.matched_old IS NULL AS INT) AS keep
       |FROM ing g LEFT JOIN matched m ON g.doc_id = m.nid
       |ORDER BY g.doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_winnow_incremental" -> (q180WinnowIncremental _),
    "q184_streaming_winnow" -> (q184StreamingWinnow _),
    "q191_streaming_dedup" -> (q191StreamingDedup _),
    "q193_streaming_ingest" -> (q193StreamingIngest _),
    "q176_fuzzy_join" -> (q176FuzzyJoin _),
    "q178_winnow_pairs" -> (q178WinnowPairs _),
    "q111_dedup_spans" -> (q111DedupSpans _),
    "q78_incremental_dedup" -> (q78IncrementalDedup _),
    "q28_dedup_exact" -> (q28ExactDedup _),
    "q29_dedup_minhash_lsh" -> (q29MinhashLsh _),
    "q30_simhash" -> (q30SimHash _),
    "q31_simhash_pairs" -> (q31SimHashPairs _),
    "q32_ngram_jaccard" -> (q32NgramJaccard _),
    "q33_embedding_cosine" -> (q33EmbeddingCosine _),
    "q62_dedup_clusters" -> (q62DedupClusters _),
    "q203_cluster_star" -> ((s: SparkSession, d: String) => q203ClusterStar(s, d)),
    "q63_contamination" -> (q63Contamination _))

  def oracles: Map[String, String] = Map(
    "q180_winnow_incremental" -> q180Sql,
    // the streamed twin grades against q180's oracle verbatim: the
    // frozen census makes verdicts batch-boundary-independent
    "q184_streaming_winnow" -> q180Sql,
    "q191_streaming_dedup" -> q191Sql,
    "q193_streaming_ingest" -> q193Sql,
    "q176_fuzzy_join" -> q176Sql,
    "q178_winnow_pairs" -> q178Sql,
    "q111_dedup_spans" -> q111Sql,
    "q78_incremental_dedup" -> q78Sql,
    "q28_dedup_exact" -> q28Sql,
    "q29_dedup_minhash_lsh" -> q29Sql,
    "q30_simhash" -> q30Sql,
    "q31_simhash_pairs" -> q31Sql,
    "q32_ngram_jaccard" -> q32Sql,
    "q33_embedding_cosine" -> q33Sql,
    "q62_dedup_clusters" -> q62Sql,
    "q203_cluster_star" -> q203Sql,
    "q63_contamination" -> q63Sql)
}
