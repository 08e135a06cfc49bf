package graft

import org.apache.spark.sql.DataFrame

/** Node census of the pre-execution physical plan, subqueries
  * included: parquet scans, cached-relation scans, shuffles and
  * broadcasts. Run it on an AQE-disabled session: under AQE the
  * executed plan is an opaque AdaptiveSparkPlanExec leaf and the
  * census sees nothing. */
final case class PlanCounts(fileScans: Int, memScans: Int, shuffles: Int, broadcasts: Int)

object PlanCounts {

  def of(df: DataFrame): PlanCounts = {
    val nodes = df.queryExecution.executedPlan
      .collectWithSubqueries { case n => n.getClass.getSimpleName }
    def cnt(name: String) = nodes.count(_ == name)
    PlanCounts(
      fileScans = cnt("FileSourceScanExec"),
      memScans = cnt("InMemoryTableScanExec"),
      shuffles = cnt("ShuffleExchangeExec"),
      broadcasts = cnt("BroadcastExchangeExec"))
  }
}
