package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** Plan-shape guarantees that only exist at runtime: q_revenue_share
  * references the 3-table fact join twice (as the output AND inside the
  * broadcast grand total), and the 100 TB contract is that the join
  * executes ONCE — AQE's stage cache must collapse the second reference
  * to a ReusedExchange. If that ever stops firing (an AQE plan mutation
  * de-canonicalizing the subtree), the fact join silently runs twice at
  * full scale; this spec turns that silent 2× into a red test.
  */
class PlanReuseSpec extends SparkTestBase {

  test("q_revenue_share: byNation exchange is reused — the fact join runs once") {
    val df = Analytics.revenueShare(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "expected an executed adaptive plan")
    // AdaptiveSparkPlanExec prints the final plan first, then the
    // pre-execution plan under "== Initial Plan ==" — only the final
    // section reflects what actually ran.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.contains("ReusedExchange"),
      s"shared byNation aggregate exchange was NOT reused:\n$finalPlan")
    val factScans = "lineitem\\.parquet".r.findAllIn(finalPlan).length
    assert(factScans == 1,
      s"lineitem scanned $factScans times in the final plan — the fact join ran more than once")
  }

  test("q_user_paths: heavy-hitter cap bounds per-user state and flags truncation") {
    val capped = Analytics.userPaths(spark, sf(), maxEvents = 3).collect()
    // no path may exceed cap steps: the window-rank prune ran before the collect
    val maxSteps = capped.map(_.getAs[String]("path").split(">").length).max
    assert(maxSteps <= 3, s"found a $maxSteps-step path despite cap=3")
    // the fixture has users with >3 events, so truncation must be flagged
    val truncatedUsers = capped.filter(_.getAs[Boolean]("truncated"))
      .map(_.getAs[Long]("n_users")).sum
    assert(truncatedUsers > 0, "expected truncated journeys at cap=3")
    // no user vanishes: capped journeys are truncated, never dropped
    val totalUsers = capped.map(_.getAs[Long]("n_users")).sum
    val distinctUsers = graft.sources.Tables.events(spark, sf())
      .select(col("user_id")).distinct().count()
    assert(totalUsers == distinctUsers)
    // at the default cap the fixture is untouched: nothing truncates
    val uncapped = Analytics.userPaths(spark, sf()).collect()
    assert(!uncapped.exists(_.getAs[Boolean]("truncated")))
  }
}
