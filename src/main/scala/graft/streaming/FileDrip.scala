package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Deterministic driver for the FILE-SOURCE streaming posture the
  * graded streaming rows (q184-q186, q191-q193) exercise: parquet
  * batches drop into a watched directory one at a time, the stream
  * drains after each drop, so every batch becomes exactly one
  * trigger. One audited implementation of the write→drain→stop→
  * cleanup protocol — the review finding behind this file was two
  * verbatim copies of it drifting independently. (The in-memory
  * MemoryStream source keeps its own coverage in DedupSpec's
  * streaming-winnow twin; the graded rows all use the file source so
  * no corpus text passes through the driver.)
  *
  * Driver-side by design: this is the grading/ingest harness around a
  * distributed probe, not an operator. The per-trigger work runs in
  * whatever query `start` builds. */
object FileDrip {

  /** Write `batches` into a fresh watched directory in order, start
    * the stream `start(fileSource)` after the first write, drain
    * after every write, stop, and delete the directory. */
  def drive(batches: Seq[DataFrame])(
      start: DataFrame => StreamingQuery): Unit = {
    require(batches.nonEmpty, "FileDrip needs at least one batch")
    val spark = batches.head.sparkSession
    val dir = java.nio.file.Files.createTempDirectory("graft_filedrip")
    try {
      batches.head.coalesce(1).write.mode("append").parquet(dir.toString)
      val stream = spark.readStream
        .schema(batches.head.schema).parquet(dir.toString)
      val q = start(stream)
      try {
        q.processAllAvailable()
        batches.tail.foreach { b =>
          b.coalesce(1).write.mode("append").parquet(dir.toString)
          q.processAllAvailable()
        }
      } finally {
        // stop() can throw TimeoutException under the session-wide
        // spark.sql.streaming.stopTimeout; a throw here would mask
        // the try block's real failure (and "not dead yet" is fine —
        // the grading collect has already drained). Same posture as
        // the bench grace loop.
        try q.stop()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[filedrip] stop() did not settle: $e") }
      }
    } finally {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  /** The accumulate-and-grade scaffold every graded streaming row
    * shares (second review finding: four verbatim copies of
    * queue → drive → createDataFrame → orderBy, differing only in
    * schema and the query built per trigger): drive `batches`, hand
    * `start` the file-source stream plus an `emit` callback for its
    * sink, and return the accumulated rows as a DataFrame with
    * `schema`, ordered by `orderCols` on the driver
    * ([[graft.engine.Localize.local]]). The queue is the bounded
    * GRADING sink (one verdict row per graded unit — production
    * sinks write to a table). */
  def driveAndCollect(batches: Seq[DataFrame],
      schema: org.apache.spark.sql.types.StructType,
      orderCols: Seq[String])(
      start: (DataFrame, org.apache.spark.sql.Row => Unit) => StreamingQuery)
      : DataFrame = {
    require(batches.nonEmpty, "driveAndCollect needs at least one batch")
    val spark = batches.head.sparkSession
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    drive(batches)(stream => start(stream, acc.add(_)))
    graft.engine.Localize.local(spark,
      acc.toArray(Array.empty[org.apache.spark.sql.Row]).toSeq, schema, orderCols)
  }
}
