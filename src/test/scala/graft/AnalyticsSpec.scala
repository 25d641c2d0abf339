package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.sources.Tables

/** Invariant tests for the relational analytics operators at sf0.001
  * (value-level correctness is the DuckDB oracle's job; these check the
  * algebraic invariants and the physical plan shapes that must survive a
  * 100 TB scale-up).
  */
class AnalyticsSpec extends SparkTestBase {
  private val d = sf()

  test("pricing summary partitions lineitem exactly") {
    val total = Tables.lineitem(spark, d).count()
    val byGroup = Analytics.pricingSummary(spark, d)
      .agg(sum(col("n_rows"))).collect().head.getLong(0)
    assert(byGroup === total)
  }

  test("rollup levels nest: grand total = sum of flag subtotals = sum of leaves") {
    val r = Analytics.pricingRollup(spark, d).collect()
    val leaves = r.filter(_.getAs[Int]("gid") == 0).map(_.getAs[Long]("n_rows")).sum
    val flagSub = r.filter(_.getAs[Int]("gid") == 1).map(_.getAs[Long]("n_rows")).sum
    val grand = r.filter(_.getAs[Int]("gid") == 3).map(_.getAs[Long]("n_rows")).sum
    assert(leaves === flagSub && flagSub === grand)
  }

  test("top-k is ordered and bounded; plan is TakeOrderedAndProject") {
    val rows = Analytics.topOrders(spark, d, 20).collect()
    assert(rows.length === 20)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    val plan = Analytics.topOrders(spark, d, 20).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("window rank keeps at most 3 per customer") {
    val over = Analytics.topOrdersPerCustomer(spark, d)
      .groupBy(col("o_custkey")).count().filter(col("count") > 3).count()
    assert(over === 0)
  }

  test("semi/anti split partitions customers") {
    val cust = Tables.customer(spark, d).count()
    val split = Analytics.customerActivity(spark, d)
    assert(split.count() === cust)
    assert(split.select(col("c_custkey")).distinct().count() === cust)
  }

  test("sessionization conserves events and respects the 30-minute gap") {
    val events = Tables.events(spark, d).count()
    val sess = Analytics.eventsSessionized(spark, d)
    val inSessions = sess.agg(sum(col("n_events"))).collect().head.getLong(0)
    assert(inSessions === events)
  }

  test("star join broadcasts the dimension tables and pushes the date filter") {
    val plan = Analytics.revenueByNation(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("o_orderdate"))
    assert(plan.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("orders") && l.contains("1996-01-01")))
  }

  test("salted aggregation equals the direct group-by exactly") {
    val direct = Tables.lineitem(spark, d)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_qty"))
    val salted = Analytics.saltedAgg(spark, d)
      .select(col("l_partkey"), col("sum_qty"))
    assert(salted.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(salted).count() === 0)
  }

  test("approx_count_distinct tracks the exact distinct count within 5%") {
    val r = Tables.lineitem(spark, d).agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx")).collect().head
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("pivot columns partition the quantity sum by linestatus") {
    // qty_f/qty_o are DOUBLE casts of exact per-group decimal sums; cast
    // back to decimal(38,2) before re-summing so the partition check is
    // exact (group magnitudes ≪ 2^53, so the round-trip is lossless).
    val p = Analytics.pricingPivot(spark, d)
      .agg((sum(col("qty_f").cast("decimal(38,2)"))
        + sum(col("qty_o").cast("decimal(38,2)"))).cast("decimal(38,2)"))
      .collect().head.getDecimal(0)
    val total = Tables.lineitem(spark, d)
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)"))
      .collect().head.getDecimal(0)
    assert(p.compareTo(total) === 0)
  }

  test("bucketed join sort-merges without shuffling either fact side") {
    val df = Analytics.bucketedJoin(spark, d)
    df.collect() // finalize AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    // the join's children must read bucketed data directly — the only
    // hash exchange allowed is the final small group-by aggregation
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.forall(_ == "o_orderstatus"), s"unexpected exchanges: $exchanges")
  }

  test("as-of join: every matched view precedes its purchase; gaps non-negative") {
    val r = graft.operators.AsOf.purchaseToLastView(spark, d)
    assert(r.count() === Tables.events(spark, d)
      .filter(col("event_type") === "purchase").count())
    assert(r.filter(col("gap_seconds") < 0).count() === 0)
  }

  test("partitioned sink readback prunes to the dt partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val back = graft.operators.TwsePipeline.sinkPartitioned(spark, s"$dir/t")
    assert(back.count() === 1)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt"), plan)
  }

  test("q_sink_partitioned leaves the session conf alone, so " +
      "q_backfill_partition's day partition still reads as DATE") {
    val before = spark.conf.getAll
    assert(canon(SparkEntry.queries("q_sink_partitioned")(spark, d)).size === 1)
    assert(spark.conf.getAll === before)
    val backfill = SparkEntry.queries("q_backfill_partition")(spark, d)
    assert(backfill.schema("day").dataType === org.apache.spark.sql.types.DateType)
  }

  // No operator leaves a conf behind: those that scope one (the CC
  // loop's shuffle partitions, a stream's state scope) restore it, and
  // the rest write none. q_sink_partitioned's row is the test above.
  // The "unset" rows start from a session without the scoped key: it
  // must come back unset, not set to its default.
  private val shufflePartitions = "spark.sql.shuffle.partitions"
  private def query(name: String): () => Any =
    () => canon(SparkEntry.queries(name)(spark, d))
  for ((name, unset, run) <- Seq[(String, Option[String], () => Any)](
      ("Tables.events", None, () => Tables.events(spark, d).count()),
      ("q_backfill_partition", None, query("q_backfill_partition")),
      ("q_dedup_components", None, query("q_dedup_components")),
      ("q_stream_sessionize", None, query("q_stream_sessionize")),
      ("q_dedup_components with shuffle partitions unset", Some(shufflePartitions),
        query("q_dedup_components")),
      ("q_stream_sessionize with shuffle partitions unset", Some(shufflePartitions),
        query("q_stream_sessionize"))))
    test(s"$name leaves the session conf alone") {
      val old = unset.map(k => k -> spark.conf.get(k))
      unset.foreach(spark.conf.unset)
      try {
        val before = spark.conf.getAll
        run()
        assert(spark.conf.getAll === before)
      } finally old.foreach { case (k, v) => spark.conf.set(k, v) }
    }

  test("events nanosecond timestamps convert exactly (integer microseconds)") {
    val ts = Tables.events(spark, d)
      .agg(min(unix_micros(col("ts")))).collect().head.getLong(0)
    // 2024-01-01T00:00:07.179575Z in microseconds
    assert(ts >= 1704067200000000L && ts < 1706745600000000L)
  }
}
