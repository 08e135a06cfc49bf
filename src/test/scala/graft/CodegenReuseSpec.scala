package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Pins generated-class reuse (GraftSession's codegen settings): a
  * warm rerun of a query list compiles no class its first run
  * compiled. Reads Spark's JVM-wide compile counter, which is safe
  * because the forked test JVM runs suites one after another.
  *
  * The batch-mix list (the perfbench workload's queries) has more
  * distinct classes than Spark's default cache cap of 100, so it fails
  * when the cap is left at the default. The maintainers (q208, q212)
  * compile task-side classes inside streaming triggers, so they fail
  * when each streaming session clone gets its own executor classloader.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Collect every query of `ids` once, as a long-lived application
    * would (between-query sweep included); returns classes compiled. */
  private def run(ids: Seq[String]): Long = {
    val before = compiles
    ids.foreach { id =>
      val (_, fn) = SparkEntry.queries.find(_._1.takeWhile(_ != '_') == id)
        .getOrElse(fail(s"no registry query $id"))
      fn(spark, sf).collect()
      engine.SessionCache.sweepBetweenQueries(spark)
    }
    compiles - before
  }

  private def assertWarmRunCompilesNothing(ids: String*): Unit = {
    val first = run(ids)
    val second = run(ids)
    assert(second == 0, s"warm run compiled $second classes (first run: $first)")
  }

  test("a warm batch-mix pass compiles no class") {
    assertWarmRunCompilesNothing("q01", "q03", "q21", "q22", "q24", "q25", "q26", "q27", "q99", "q34", "q57")
  }

  test("a warm maintainer pass compiles no class") {
    assertWarmRunCompilesNothing("q208", "q212")
  }
}
