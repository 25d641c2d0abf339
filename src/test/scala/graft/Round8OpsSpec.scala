package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.operators.Analytics

/** Round-8 plan-shape pins: the two diagnostics that ranked keys with a
  * partition-less window (every row on ONE task) now use the
  * distributed range-partition + prefix-sum rank / banded two-pass
  * running max — and these tests keep them that way, the same style as
  * the WindowGroupLimit pins.
  */
class Round8OpsSpec extends SparkTestBase {

  private def emptyKeyWindows(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }

  test("skewProfile plans no partition-less window") {
    val df = Analytics.skewProfile(spark, sf())
    assert(emptyKeyWindows(df).isEmpty,
      s"skew profile must rank via the distributed prefix-sum, not an " +
        s"empty-key window:\n${df.queryExecution.executedPlan}")
    // and it still answers: one row, all-integer profile
    val r = df.head()
    assert(r.getAs[Long]("n_keys") > 0 && r.getAs[Long]("max_g") > 0)
  }

  /** Force size-gated routing to the STAGED layout regardless of the
    * tiny test tables — the plan-shape pins are about the shape the
    * layout produces once a table clears `graft.layout.minBytes`.
    */
  private def withStagedRouting[A](body: => A): A = {
    val key = GraftConf.LayoutMinBytes.key
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try body finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("date-band TPC-H queries prune the partitioned fact layout") {
    // every routed query's fact scan must carry a real PartitionFilters
    // entry — pruning at the directory listing, before any footer I/O
    withStagedRouting {
      val routed = Seq(
        "q3" -> Analytics.q3Shipping(spark, sf()),
        "q4" -> Analytics.q4OrderPriority(spark, sf()),
        "q6" -> Analytics.q6Forecast(spark, sf()),
        "q12" -> Analytics.q12ShipPriority(spark, sf()),
        "q14" -> Analytics.q14Promo(spark, sf()))
      for ((name, df) <- routed) {
        val plan = df.queryExecution.executedPlan.toString
        val pf = "PartitionFilters: \\[[^\\]]*\\]".r
          .findAllIn(plan).toList
        assert(pf.exists(f => f.contains("_month") || f.contains("e_day")),
          s"$name must prune on the partition column:\n$plan")
      }
    }
  }

  test("day-partitioned events prune to the predicated days") {
    import graft.sources.PartitionedTables
    withStagedRouting {
      val pruned = PartitionedTables.eventsByDay(spark, sf())
        .filter(col("e_day") === "2024-01-02")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") &&
          "PartitionFilters: \\[[^\\]]*e_day[^\\]]*\\]".r
            .findFirstIn(plan).isDefined,
        s"events day predicate must reach PartitionFilters:\n$plan")
      // value check: the pruned read equals the row-filtered full read
      val full = graft.sources.Tables.events(spark, sf())
        .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-02")
      assert(pruned.count() === full.count())
    }
  }

  test("banded event queries prune the day-partitioned layout") {
    withStagedRouting {
      val routed = Seq(
        "events_window_band" -> Analytics.eventsDailyBand(spark, sf()),
        "attribution_first_band" ->
          Analytics.firstTouchAttributionBand(spark, sf()))
      for ((name, df) <- routed) {
        val plan = df.queryExecution.executedPlan.toString
        assert("PartitionFilters: \\[[^\\]]*e_day[^\\]]*\\]".r
            .findFirstIn(plan).isDefined,
          s"$name must prune on e_day:\n$plan")
      }
    }
  }

  test("under-gate tables route flat with the derived partition column") {
    import graft.sources.PartitionedTables
    // default gate (64 MB) — the sf0.001 tables are far below it, so the
    // accessor must return the FLAT table + derived column: same schema,
    // same rows, no partitioned-scan fixed costs at the small end
    val flatRouted = PartitionedTables.eventsByDay(spark, sf())
      .filter(col("e_day") === "2024-01-02")
    val plan = flatRouted.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_pt_events_d"),
      s"tiny table must scan the flat source, not the staged layout:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*e_day[^\\]]*\\]".r
        .findFirstIn(plan).isEmpty,
      s"flat route must filter e_day per-row, not via partitions:\n$plan")
    val full = graft.sources.Tables.events(spark, sf())
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-02")
    assert(flatRouted.count() === full.count())
  }

  test("skyline plans no partition-less window and stays a frontier") {
    val df = Analytics.skyline(spark, sf())
    assert(emptyKeyWindows(df).isEmpty,
      s"skyline frontier must use the banded two-pass running max:\n" +
        s"${df.queryExecution.executedPlan}")
    // mutual non-domination: no row may dominate another on
    // (price lower-or-equal, size higher-or-equal, one strict)
    val rows = df.select(
        (col("p_retailprice").cast("decimal(12,2)") * 100).cast("long"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (a <- rows; b <- rows if a != b)
      assert(!(a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)),
        s"$a dominates $b — not a frontier")
  }
}
