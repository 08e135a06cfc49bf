package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Scoring
import graft.streaming.DurableIndex

/** The durable maintained-index log (r13 verdict #1): replay
  * semantics vs the upsertByKey fold, batchId idempotency under
  * checkpoint replay, compaction, the kill-and-resume drill (a REAL
  * stop + restart-from-checkpoint of a file-source stream, proving
  * maintained ≡ rebuilt across a driver restart), and the
  * cell-partitioned serving read's directory-level pruning
  * (r13 missing #2). */
class DurableIndexSpec extends AnyFunSuite with SparkSpec {

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t) }: _*),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
  }

  private def postings(df: DataFrame): Set[(Long, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("log replay equals the upsertByKey fold, zero-derivation replacement included") {
    val state = DurableIndex.temp(spark, "dix_fold", "doc_id")
    try {
      val base = docsDf((1L, "a b"), (2L, "b"), (3L, "c c"), (4L, "d"))
      state.seed(Scoring.tfdOf(base))
      // trigger 0 re-ingests doc 2 (new text) AND doc 3 with an EMPTY
      // derivation — its stale postings must retire because masking
      // keys are the raw batch ids, not the derived rows
      val b0 = docsDf((2L, "x y"), (3L, ""))
      state.append(0L, b0.select(col("doc_id")), Scoring.tfdOf(b0))
      // trigger 1 re-ingests doc 2 again (latest wins) and adds doc 5
      val b1 = docsDf((2L, "z"), (5L, "e"))
      state.append(1L, b1.select(col("doc_id")), Scoring.tfdOf(b1))
      val folded = Scoring.upsertByKey(
        Scoring.upsertByKey(Scoring.tfdOf(base),
          b0.select(col("doc_id")), Scoring.tfdOf(b0), "doc_id"),
        b1.select(col("doc_id")), Scoring.tfdOf(b1), "doc_id")
      assert(postings(state.current()) == postings(folded))
      // doc 3 really is gone, doc 2 really is the trigger-1 version
      val cur = postings(state.current())
      assert(!cur.exists(_._1 == 3L), s"stale doc-3 postings alive: $cur")
      assert(cur.filter(_._1 == 2L) == Set((2L, "z", 1L)))
    } finally state.delete()
  }

  test("a replayed trigger (same batchId) is idempotent") {
    val state = DurableIndex.temp(spark, "dix_idem", "doc_id")
    try {
      state.seed(Scoring.tfdOf(docsDf((1L, "a"), (2L, "b"))))
      val b0 = docsDf((2L, "c"), (3L, "d"))
      state.append(0L, b0.select(col("doc_id")), Scoring.tfdOf(b0))
      val before = postings(state.current())
      val seqsBefore = state.committedSeqs()
      // the checkpoint-replay case: the SAME batch lands again with
      // its ORIGINAL batchId (a restart re-runs an in-flight trigger)
      state.append(0L, b0.select(col("doc_id")), Scoring.tfdOf(b0))
      assert(state.committedSeqs() == seqsBefore)
      assert(postings(state.current()) == before)
    } finally state.delete()
  }

  test("compact folds the log to one base generation with identical content") {
    val state = DurableIndex.temp(spark, "dix_comp", "doc_id")
    try {
      state.seed(Scoring.tfdOf(docsDf((1L, "a a"), (2L, "b"))))
      val b0 = docsDf((2L, "c"), (3L, ""))
      state.append(0L, b0.select(col("doc_id")), Scoring.tfdOf(b0))
      val b1 = docsDf((4L, "d e"))
      state.append(1L, b1.select(col("doc_id")), Scoring.tfdOf(b1))
      val before = postings(state.current())
      state.compact()
      // the fold is reported as ONE live entry at the seq it covers
      // through (2 = trigger 1's entry), so max + 1 is a safe resume
      // seq for the next feed — the q209 offset contract (r14 advice)
      assert(state.committedSeqs() == Seq(2L))
      assert(postings(state.current()) == before)
      // the log keeps working after compaction: seqs continue past
      // the base's coverage
      val b2 = docsDf((1L, "f"))
      state.append(state.committedSeqs().max + 1,
        b2.select(col("doc_id")), Scoring.tfdOf(b2))
      assert(postings(state.current())
        == before.filterNot(_._1 == 1L) + ((1L, "f", 1L)))
      // a second compact folds base + entry into the next generation
      state.compact()
      assert(state.committedSeqs().size == 1)
      assert(postings(state.current())
        == before.filterNot(_._1 == 1L) + ((1L, "f", 1L)))
    } finally state.delete()
  }

  test("a torn entry (part files without _SUCCESS) is ignored and its replay overwrites it") {
    // a crash inside the entry write leaves part files holding rows AND
    // mask rows but no _SUCCESS; its mask rows must not retire anything
    // (their replacement rows never committed) and its seq must not
    // count as committed. Simulate it by un-committing a written entry.
    val state = DurableIndex.temp(spark, "dix_torn", "doc_id")
    try {
      state.seed(Scoring.tfdOf(docsDf((1L, "a"), (2L, "b"))))
      val b0 = docsDf((2L, "c"))
      state.append(0L, b0.select(col("doc_id")), Scoring.tfdOf(b0))
      val before = postings(state.current())
      val seqsBefore = state.committedSeqs()
      // the torn trigger-1 entry: doc 1 re-ingested, commit marker lost
      val b1 = docsDf((1L, "zz"))
      state.append(1L, b1.select(col("doc_id")), Scoring.tfdOf(b1))
      val torn = s"${state.path}/b00002"
      assert(new java.io.File(s"$torn/_SUCCESS").delete())
      val masks = spark.read.parquet(torn).groupBy(DurableIndex.Mask).count()
        .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      assert(masks == Map(true -> 1L, false -> 1L),
        s"torn entry should hold one row and one mask row: $masks")
      assert(state.committedSeqs() == seqsBefore)
      assert(postings(state.current()) == before,
        "a torn entry's mask rows silently dropped index rows")
      // the replayed trigger lands on the same entry and commits it
      state.append(1L, b1.select(col("doc_id")), Scoring.tfdOf(b1))
      assert(new java.io.File(s"$torn/_SUCCESS").exists())
      assert(state.committedSeqs() == seqsBefore :+ 2L)
      assert(postings(state.current())
        == before.filterNot(_._1 == 1L) + ((1L, "zz", 1L)))
    } finally state.delete()
  }

  test("auto-compaction: a long drip folds itself and stays equal to rebuilt") {
    // r14 missing #2: nothing TRIGGERED compaction. With the
    // threshold at 3, ten appends must keep the live log bounded by
    // the threshold (LSM cadence inside append) and the replayed
    // content must stay identical to the from-scratch fold.
    val state = DurableIndex.temp(spark, "dix_auto", "doc_id",
      autoCompactEntries = 3)
    try {
      state.seed(Scoring.tfdOf(docsDf((0L, "s"))))
      (0 until 10).foreach { i =>
        // every third batch REWRITES doc i-1 so masking keys must
        // survive each fold boundary too
        val b = if (i % 3 == 2) docsDf((i.toLong, s"w$i"), (i - 1L, s"r$i"))
          else docsDf((i.toLong, s"w$i"))
        state.append(i.toLong, b.select(col("doc_id")), Scoring.tfdOf(b))
        assert(state.committedSeqs().size <= 3,
          s"live log unbounded after append $i: ${state.committedSeqs()}")
      }
      val all = (0 until 10).foldLeft(Scoring.tfdOf(docsDf((0L, "s")))) {
        case (acc, i) =>
          val b = if (i % 3 == 2) docsDf((i.toLong, s"w$i"), (i - 1L, s"r$i"))
            else docsDf((i.toLong, s"w$i"))
          Scoring.upsertByKey(acc, b.select(col("doc_id")),
            Scoring.tfdOf(b), "doc_id")
      }
      assert(postings(state.current()) == postings(all))
    } finally state.delete()
  }

  test("compactIfNeeded is the between-triggers escape: inline folds off, bounded by the caller") {
    // r15 wrong #3: the inline fold stalls the trigger that crosses
    // the threshold. The escape: autoCompactEntries = 0 (append NEVER
    // folds) + compactIfNeeded called between triggers — the caller
    // owns when the stall happens, the threshold still bounds replay.
    val state = DurableIndex.temp(spark, "dix_escape", "doc_id",
      autoCompactEntries = 0)
    try {
      state.seed(Scoring.tfdOf(docsDf((0L, "s"))))
      var folds = 0
      (0 until 7).foreach { i =>
        val b = docsDf((i.toLong, s"w$i"))
        state.append(i.toLong, b.select(col("doc_id")), Scoring.tfdOf(b))
        // append itself never folded: live count grows monotonically
        // until the caller chooses to fold
        if (state.compactIfNeeded(threshold = 3)) folds += 1
        assert(state.committedSeqs().size <= 3)
      }
      assert(folds >= 2, s"threshold 3 over 7 appends must fold: $folds")
      val all = (0 until 7).foldLeft(Scoring.tfdOf(docsDf((0L, "s")))) {
        case (acc, i) =>
          val b = docsDf((i.toLong, s"w$i"))
          Scoring.upsertByKey(acc, b.select(col("doc_id")),
            Scoring.tfdOf(b), "doc_id")
      }
      assert(postings(state.current()) == postings(all))
    } finally state.delete()
  }

  test("kill-and-resume drill: restart from checkpoint, maintained equals rebuilt") {
    // the r13 verdict-#1 drill, on the q197 shape with REAL machinery:
    // a file-source stream with an explicit checkpoint, stopped after
    // trigger 1 (the "driver crash"), restarted FROM THE CHECKPOINT
    // with a brand-new query, fed trigger 2 — and the maintained
    // index must equal the from-scratch rebuild end-to-end. The old
    // driver-var state died with the process by construction; the
    // durable log is what makes this drill passable at all.
    import java.nio.file.Files
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val watch = Files.createTempDirectory("graft_dix_watch")
    val ckpt = Files.createTempDirectory("graft_dix_ckpt")
    val state = DurableIndex.temp(spark, "dix_drill", "doc_id")
    val seenBatchIds = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    try {
      state.seed(Scoring.tfdOf(docs.filter(col("doc_id") % 10 < 8)))
      val schema = docs.schema
      def start() = spark.readStream.schema(schema)
        .parquet(watch.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: DataFrame, id: Long) =>
          seenBatchIds.add(id)
          state.append(id, b.select(col("doc_id")), Scoring.tfdOf(b))
        }
        .start()
      docs.filter(col("doc_id") % 10 === 8)
        .coalesce(1).write.mode("append").parquet(watch.toString)
      val q1 = start()
      q1.processAllAvailable(); q1.stop()  // the crash point
      assert(seenBatchIds.size == 1 && seenBatchIds.peek() == 0L)
      // restart: a NEW query from the SAME checkpoint; only the new
      // file may arrive as a trigger — batch 0 must NOT replay (it
      // committed), and its state must already be in the log
      docs.filter(col("doc_id") % 10 === 9)
        .coalesce(1).write.mode("append").parquet(watch.toString)
      val q2 = start()
      q2.processAllAvailable(); q2.stop()
      import scala.jdk.CollectionConverters._
      assert(seenBatchIds.iterator().asScala.toSeq == Seq(0L, 1L),
        "restart must resume at batch 1, not replay batch 0")
      assert(state.committedSeqs() == Seq(0L, 1L, 2L))
      // maintained ≡ rebuilt THROUGH the restart
      assert(postings(state.current()) == postings(Scoring.tfdOf(docs)))
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch {
        case scala.util.control.NonFatal(_) => () })
      state.delete()
      Seq(watch, ckpt).foreach { d =>
        import scala.jdk.CollectionConverters._
        val s = Files.walk(d)
        try s.iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
        finally s.close()
      }
    }
  }

  test("compact retires EVERY superseded base, not just the newest (crashed-compact leak)") {
    // r15 advice #1: a compact that crashed between promoting
    // generation G+1 and retiring G leaves TWO committed bases; the
    // next compact used to delete only the snapshot's newest base,
    // orphaning G forever. Simulate the leftover, then compact.
    val state = DurableIndex.temp(spark, "dix_leak", "doc_id")
    try {
      state.seed(Scoring.tfdOf(docsDf((1L, "a"), (2L, "b"))))
      val b0 = docsDf((2L, "c"))
      state.append(0L, b0.select(col("doc_id")), Scoring.tfdOf(b0))
      state.compact() // committed base #1
      val before = postings(state.current())
      // the "crash leftover": an OLDER committed base dir (readers
      // ignore it — only max-(S,G) is served) plus an UNCOMMITTED
      // partial fold write (no _SUCCESS)
      docsDf((9L, "stale")).write.mode("overwrite")
        .parquet(s"${state.path}/base_s00000_g000")
      docsDf((9L, "partial")).write.mode("overwrite")
        .parquet(s"${state.path}/base_s00009_g009")
      new java.io.File(s"${state.path}/base_s00009_g009/_SUCCESS").delete()
      assert(postings(state.current()) == before,
        "leftover base dirs must not affect reads")
      val b1 = docsDf((3L, "d"))
      state.append(state.committedSeqs().max + 1,
        b1.select(col("doc_id")), Scoring.tfdOf(b1))
      state.compact()
      val bases = new java.io.File(state.path).listFiles()
        .map(_.getName).filter(_.startsWith("base_")).toSeq
      assert(bases.size == 1, s"superseded bases not retired: $bases")
      assert(postings(state.current())
        == before + ((3L, "d", 1L)))
    } finally state.delete()
  }

  test("an empty partitioned batch still commits a readable entry") {
    // r15 advice #4: an empty PARTITIONED write emits _SUCCESS but no
    // data files, so the entry counted as committed yet current()
    // failed on schema inference. A pure-tombstone CDC trigger (keys
    // without re-emitted rows) is the deployment shape that hits it.
    val state = DurableIndex.temp(spark, "dix_empty", "doc_id",
      partitionCols = Seq("kb"))
    try {
      val rows = spark.range(4).select(col("id").as("doc_id"),
        (col("id") % 2).cast("int").as("kb"), col("id").as("payload"))
      state.seed(rows)
      // tombstone trigger: doc 1 retired, NOTHING re-emitted
      state.append(0L, rows.filter(col("doc_id") === 1)
        .select(col("doc_id")), rows.filter(lit(false)))
      val cur = state.current().select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(cur == Set(0L, 2L, 3L),
        s"tombstone-only entry lost or corrupted the index: $cur")
      // and the log keeps compacting past the empty entry
      state.compact()
      assert(state.current().select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(0L, 2L, 3L))
    } finally state.delete()
  }

  /** A fresh instance over `state`'s log (so no schema memo) must
    * read the same schema and rows as the writing instance, which
    * reads only schemas it recorded at write time: no inference job. */
  private def assertWrittenSchemaIsInferred(state: DurableIndex,
      key: String, partitionCols: Seq[String]): Unit = {
    var written: DataFrame = null
    assert(SparkJobs.of(spark) { written = state.current() } == 0,
      "the writing instance inferred a schema it wrote")
    val fresh = new DurableIndex(spark, state.path, key, partitionCols)
      .current()
    assert(fresh.schema == written.schema)
    assert(fresh.collect().toSet == written.collect().toSet)
  }

  test("schemas recorded at write time equal a fresh instance's inferred ones") {
    def logOf(tag: String, partitionCols: Seq[String]): DurableIndex =
      DurableIndex.temp(spark, tag, "id", partitionCols = partitionCols)
    val rows = spark.range(64).select(col("id"),
      (col("id") % 16).cast("int").as("kb"), (col("id") % 4).cast("int").as("cell"),
      concat(lit("p"), col("id").cast("string")).as("payload"),
      array(col("id").cast("float")).as("vec"))
    Seq(Nil, Seq("kb"), Seq("cell")).foreach { parts =>
      val state = logOf(s"dix_memo_${parts.mkString}", parts)
      try {
        state.seed(rows.filter(col("id") < 40))
        val b0 = rows.filter(col("id") >= 32)
        state.append(0L, b0.select(col("id")), b0)
        assertWrittenSchemaIsInferred(state, "id", parts)
        // an empty entry: a partitioned log writes the empty marker
        state.append(1L, rows.filter(col("id") === 3).select(col("id")),
          rows.filter(lit(false)))
        assertWrittenSchemaIsInferred(state, "id", parts)
        // compaction keeps the new base's written schema
        state.compact()
        assertWrittenSchemaIsInferred(state, "id", parts)
      } finally state.delete()
    }
    // a log whose only dir is an empty marker
    val empty = logOf("dix_memo_empty", Seq("kb"))
    try {
      empty.seed(rows.filter(lit(false)))
      assertWrittenSchemaIsInferred(empty, "id", Seq("kb"))
    } finally empty.delete()
  }

  test("writer fence: a newer writer's claim makes the stale writer's append throw") {
    // r15 stretch: two writers against one log are out of contract
    // but used to fail SILENTLY (interleaved entries, corrupted
    // replace-by-key). Epoch fencing: the SECOND writer wins (a
    // crash-restart needs no lock cleanup) and the STALE writer's
    // next mutation throws instead of corrupting.
    val a = DurableIndex.temp(spark, "dix_fence", "doc_id")
    try {
      a.seed(Scoring.tfdOf(docsDf((1L, "x"))))
      val b0 = docsDf((2L, "y"))
      a.append(0L, b0.select(col("doc_id")), Scoring.tfdOf(b0))
      // the second writer (a rescheduled duplicate maintainer, or the
      // restart of a crashed one): first mutation claims a new epoch
      val b = new DurableIndex(spark, a.path, "doc_id")
      val b1 = docsDf((3L, "z"))
      b.append(1L, b1.select(col("doc_id")), Scoring.tfdOf(b1))
      // the stale original is fenced on its next mutation
      val b2 = docsDf((4L, "w"))
      val ex = intercept[IllegalStateException] {
        a.append(2L, b2.select(col("doc_id")), Scoring.tfdOf(b2))
      }
      assert(ex.getMessage.contains("fenced"), ex.getMessage)
      intercept[IllegalStateException] { a.compact() }
      // the new writer keeps working, and the log holds exactly the
      // surviving writer's view
      b.append(2L, b2.select(col("doc_id")), Scoring.tfdOf(b2))
      assert(postings(b.current()).map(_._1) == Set(1L, 2L, 3L, 4L))
    } finally a.delete()
  }

  test("the masking-key broadcast hint yields to AQE past the autoBroadcast threshold") {
    // r14 missing #2: between compactions the rewrites relation grows
    // with ingested-key cardinality; the hint must not pin an
    // unbounded broadcast. Same log, two sessions: default threshold
    // -> broadcast join; threshold 1 byte -> no broadcast on the
    // masking join (AQE/planner decides freely).
    val state = DurableIndex.temp(spark, "dix_bcast", "doc_id")
    try {
      state.seed(Scoring.tfdOf(docsDf((1L, "a"), (2L, "b"))))
      val b0 = docsDf((2L, "c"))
      state.append(0L, b0.select(col("doc_id")), Scoring.tfdOf(b0))
      def usesBroadcast(s: org.apache.spark.sql.SparkSession): Boolean = {
        val st = new DurableIndex(s, state.path, "doc_id")
        st.current().queryExecution.sparkPlan.toString
          .contains("BroadcastHashJoin")
      }
      assert(usesBroadcast(spark), "small key-set must broadcast")
      val tiny = spark.newSession()
      tiny.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      assert(!usesBroadcast(tiny),
        "the hint must yield when the threshold says the keys are too big")
      // threshold -1 (broadcast disabled) also suppresses the hint
      val off = spark.newSession()
      off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(!usesBroadcast(off))
    } finally state.delete()
  }

  test("the masking-key broadcast is sized by mask rows, so a large-rows, few-keys entry still broadcasts") {
    // keys and rows share one entry dir, so its on-disk length counts
    // the rows too; the writing instance sizes the key relation by the
    // mask rows it observed on the write instead
    val state = DurableIndex.temp(spark, "dix_bcast_rows", "doc_id")
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    try {
      state.seed(spark.range(4).select(col("id").as("doc_id"),
        lit("seed").as("payload")))
      // 2 keys, 4000 rows of hard-to-compress payload
      val rows = spark.range(4000).select((col("id") % 2).as("doc_id"),
        concat(sha2(col("id").cast("string"), 512),
          sha2(col("id").cast("string"), 256)).as("payload"))
      state.append(0L, rows.select(col("doc_id")), rows)
      val entryBytes = org.apache.commons.io.FileUtils.sizeOfDirectory(
        new java.io.File(s"${state.path}/b00001"))
      // a threshold the entry's length exceeds but 2 keys fit
      val limit = entryBytes / 4
      assert(limit > 1024, s"entry too small to tell: $entryBytes bytes")
      spark.conf.set(threshold, limit.toString)
      def plan(df: DataFrame) = df.queryExecution.sparkPlan.toString
      assert(plan(state.current()).contains("BroadcastHashJoin"),
        "a 2-key entry must broadcast its keys whatever its rows weigh")
      // another instance has no observed count: it sizes by the entry's
      // length and leaves the join to the planner
      assert(!plan(new DurableIndex(spark, state.path, "doc_id").current())
        .contains("BroadcastHashJoin"))
      spark.conf.set(threshold, "10MB")
      assert(state.current().count() == 4002L)
    } finally {
      saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
      state.delete()
    }
  }

  test("cell-partitioned serving read prunes whole cell directories") {
    // r13 missing #2: the point of PERSISTING an IVF index is that a
    // probe reads NProbe/NCells of the files. The durable log's rows
    // are hive-partitioned by cell; a probed read must select fewer
    // FILES at plan time (partition pruning), not filter rows after
    // reading everything.
    val state = DurableIndex.temp(spark, "dix_cells", "vec_id",
      partitionCols = Seq("cell"))
    try {
      val vecs = spark.range(256).select(
        col("id").as("vec_id"), (col("id") % 16).cast("int").as("cell"),
        (col("id") * 2).as("payload"))
      state.seed(vecs.filter(col("vec_id") < 200))
      val b0 = vecs.filter(col("vec_id") >= 200)
      state.append(0L, b0.select(col("vec_id")), b0)
      def scanFiles(df: DataFrame): Long =
        df.queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.partitionSchema.nonEmpty =>
            s.selectedPartitions.totalNumberOfFiles
        }.sum
      val full = state.current()
      val probed = state.current().filter(col("cell").isin(1, 2, 3))
      val allFiles = scanFiles(full)
      val probedFiles = scanFiles(probed)
      assert(allFiles > 0 && probedFiles > 0)
      assert(probedFiles * 4 <= allFiles,
        s"probing 3/16 cells must prune files: read $probedFiles of $allFiles")
      // and the pruned read still answers exactly (select by name:
      // the hive layout moves the partition column to the end)
      val got = probed.select(col("vec_id"), col("payload")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = vecs.filter(col("cell").isin(1, 2, 3))
        .select(col("vec_id"), col("payload")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally state.delete()
  }
}
