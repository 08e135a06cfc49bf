package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Structural job counts for specs: the Spark jobs a block submits,
  * counted by a listener that only sees jobs carrying the block's own
  * job tag. Job tags are inheritable thread-local properties, so jobs
  * a streaming query's thread runs for the block (its triggers) count
  * too. A fence job submitted after the block, and awaited on the
  * listener bus, makes sure every earlier job start was delivered. */
object SparkJobs {

  def of(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"spec-jobs-${System.nanoTime}"
    val fence = s"$tag-fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)
        if (tags(tag)) jobs.incrementAndGet()
        if (tags(fence)) fenced.countDown()
      }
    }
    def tagged(t: String)(f: => Unit): Unit = {
      sc.addJobTag(t)
      try f finally sc.removeJobTag(t)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(fence)(sc.parallelize(Seq(1), 1).count())
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
