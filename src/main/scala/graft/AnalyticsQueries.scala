package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, AsOf, Formats}

/** Oracle-checked registrations for the relational analytics operators
  * (SURVEY.md §2.I). Oracle SQL is DuckDB dialect over the same sf
  * parquet tables the Spark side reads.
  *
  * Decimal discipline (so hashes match bit-for-bit): every money/quantity
  * double is cast to a tight exact DECIMAL *before* aggregation on BOTH
  * sides (the raw data is 2-decimal), so sums are exact; every FINAL
  * projection then casts to DOUBLE on BOTH sides — identical exact
  * decimals convert to identical doubles, and decimal-typed output is
  * what tripped hash canonicalization between the engines. Raw doubles
  * only pass through unmodified (top-k projections) where both engines
  * emit identical bits.
  */
object AnalyticsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, d) => Analytics.pricingSummary(s, d)),
    "q_agg_merge_partial" -> ((s, d) => Analytics.mergePartialAggs(s, d)),
    "q3_shipping" -> ((s, d) => Analytics.q3Shipping(s, d)),
    "q5_local_supplier" -> ((s, d) => Analytics.q5LocalSupplier(s, d)),
    "q10_returns" -> ((s, d) => Analytics.q10Returns(s, d)),
    "q14_promo" -> ((s, d) => Analytics.q14Promo(s, d)),
    "q_approx_distinct" -> ((s, d) => Analytics.approxDistinctCheck(s, d)),
    "q_approx_percentile" -> ((s, d) => Analytics.approxPercentileCheck(s, d)),
    "q_kmv_distinct" -> ((s, d) => Analytics.kmvDistinctAudit(s, d)),
    "q_quantile_sketch" -> ((s, d) => Analytics.quantileSketchAudit(s, d)),
    "q_skew_profile" -> ((s, d) => Analytics.skewProfile(s, d)),
    "q_cdc_apply" -> ((s, d) => graft.operators.Formats.cdcApply(s, d)),
    "q_time_travel" -> ((s, d) => graft.operators.Formats.timeTravel(s, d)),
    // Retention vacuum: reclaim prior + crashed-write dirs, prove the
    // current generation reads back intact (Hadoop FS API throughout).
    "q_vacuum" -> ((s, d) => graft.operators.Formats.vacuumTable(s, d)),
    "q_join_incremental" -> ((s, d) => graft.operators.Formats.incrementalJoin(s, d)),
    "q_large_orders" -> ((s, d) => Analytics.largeOrders(s, d)),
    "q_calendar_dim" -> ((s, d) => Analytics.calendarDim(s, d)),
    "q_window_range_frame" -> ((s, d) => Analytics.trailingHourSum(s, d)),
    "q_join_enrich" -> ((s, d) => Analytics.revenueByNation(s, d)),
    "q_part_brand" -> ((s, d) => Analytics.partBrandRevenue(s, d)),
    "q_supplier_nation" -> ((s, d) => Analytics.supplierNationRevenue(s, d)),
    "q_agg_rollup" -> ((s, d) => Analytics.pricingRollup(s, d)),
    "q_agg_cube" -> ((s, d) => Analytics.pricingCube(s, d)),
    "q_join_outer" -> ((s, d) => Analytics.customerOrdersOuter(s, d)),
    "q_join_bucketed" -> ((s, d) => Analytics.bucketedJoin(s, d)),
    "q_topk" -> ((s, d) => Analytics.topOrders(s, d)),
    "q_window_rank" -> ((s, d) => Analytics.topOrdersPerCustomer(s, d)),
    "q_window_running" -> ((s, d) => Analytics.runningSpend(s, d)),
    "q_join_semi_anti" -> ((s, d) => Analytics.customerActivity(s, d)),
    "q_set_ops" -> ((s, d) => Analytics.segmentSetOps(s, d)),
    "q_pivot_table" -> ((s, d) => Analytics.pricingPivot(s, d)),
    "q_agg_salted" -> ((s, d) => Analytics.saltedAgg(s, d)),
    "q_count_distinct" -> ((s, d) => Analytics.distinctCounts(s, d)),
    "q_percentile" -> ((s, d) => Analytics.quantiles(s, d)),
    "q_winsorize" -> ((s, d) => Analytics.winsorize(s, d)),
    "q_skyline" -> ((s, d) => Analytics.skyline(s, d)),
    "q_transpose" -> ((s, d) => Analytics.transposeMetrics(s, d)),
    "q_cogroup" -> ((s, d) => Analytics.cogroupReconcile(s, d)),
    "q_bitmap_distinct" -> ((s, d) => Analytics.bitmapDistinctDaily(s, d)),
    "q_hll_intersect" -> ((s, d) => Analytics.hllIntersect(s, d)),
    "q_hll_sliding" -> ((s, d) => Analytics.hllSliding(s, d)),
    "q_user_erasure" -> ((s, d) => Analytics.userErasure(s, d)),
    "q_exact_percentiles" ->
      ((s, d) => graft.operators.DataPrep.exactPercentiles(s, d)),
    "q_fk_audit" -> ((s, d) => Analytics.fkAudit(s, d)),
    "q_anomaly_mad" -> ((s, d) => Analytics.anomalyMad(s, d)),
    // CUSUM level-shift changepoint on daily volumes (closed-form
    // prefix-sum/running-min, exact n-scaled integers).
    "q_cusum" -> ((s, d) => Analytics.cusumChangepoint(s, d)),
    // Theil-Sen robust trend: exact discrete median of pairwise slopes
    // in floor-safe x1e6 fixed point, |days|^2-bounded per type.
    "q_theil_sen" -> ((s, d) => Analytics.theilSen(s, d)),
    "q_scalar_funcs" -> ((s, d) => Analytics.scalarFuncs(s, d)),
    "q_grouping_sets" -> ((s, d) => Analytics.groupingSetsAgg(s, d)),
    "q_stats_moments" -> ((s, d) => Analytics.statsMoments(s, d)),
    "q_histogram" -> ((s, d) => Analytics.histogram(s, d)),
    "q_events_window" -> ((s, d) => Analytics.eventsDaily(s, d)),
    "q_events_window_band" -> ((s, d) => Analytics.eventsDailyBand(s, d)),
    "q_attribution_first_band" -> ((s, d) => Analytics.firstTouchAttributionBand(s, d)),
    "q_sliding_window" -> ((s, d) => Analytics.eventsSliding(s, d)),
    "q_events_sessionize" -> ((s, d) => Analytics.eventsSessionized(s, d)),
    "q_events_json" -> ((s, d) => Analytics.eventsPropsDistribution(s, d)),
    "q_parse_quarantine" -> ((s, d) => Analytics.parseQuarantine(s, d)),
    "q_retention" -> ((s, d) => Analytics.retentionMatrix(s, d)),
    "q_user_paths" -> ((s, d) => Analytics.userPaths(s, d)),
    "q_path_pattern" -> ((s, d) => Analytics.pathPattern(s, d)),
    "q_attribution_first" -> ((s, d) => Analytics.firstTouchAttribution(s, d)),
    "q_attribution_linear" -> ((s, d) => Analytics.linearAttribution(s, d)),
    "q_anomaly_zscore" -> ((s, d) => Analytics.anomalyZscore(s, d)),
    "q_ab_test" -> ((s, d) => Analytics.abTest(s, d)),
    "q_cuped" -> ((s, d) => Analytics.cuped(s, d)),
    "q_asof_join" -> ((s, d) => AsOf.purchaseToLastView(s, d)),
    // The same as-of semantics through the custom Catalyst operator
    // (AsofJoin LogicalPlan + strategy + exec) — oracle shared below.
    "q_asof_join_native" -> ((s, d) => AsOf.purchaseToLastViewNative(s, d)),
    // JDBC write + 4-way range-partitioned JDBC readback of the daily
    // aggregate — the parallel-scan shape a JDBC source needs at volume.
    "q_jdbc_partitioned" -> ((s, d) =>
      graft.sources.JdbcStore.eventsDailyPartitioned(s, d)),
    // Format breadth + table maintenance (operators/Formats.scala).
    "q_orc_roundtrip" -> ((s, d) => Formats.orcRoundtrip(s, d)),
    "q_clone_table" -> ((s, d) => Formats.cloneTable(s, d)),
    "q_xml_roundtrip" -> ((s, d) => Formats.xmlRoundtrip(s, d)),
    "q_file_provenance" -> ((s, d) => Formats.fileProvenance(s, d)),
    "q_variant_props" -> ((s, d) => Analytics.variantProps(s, d)),
    "q_observe_metrics" -> ((s, d) => Analytics.observedIngest(s, d)),
    "q_hll_rollup" -> ((s, d) => Analytics.hllRollup(s, d)),
    "q_rfm" -> ((s, d) => Analytics.rfmSegments(s, d)),
    "q_markov" -> ((s, d) => Analytics.markovTransitions(s, d)),
    "q_json_roundtrip" -> ((s, d) => Formats.jsonRoundtrip(s, d)),
    "q_compact" -> ((s, d) => Formats.compactRoundtrip(s, d)),
    "q_backfill_partition" -> ((s, d) => Formats.backfillPartition(s, d,
      Staging.runDir("graft_backfill").toString)),
    "q_zorder" -> ((s, d) => Formats.zorderProfile(s, d)),
    "q_codec_roundtrip" -> ((s, d) => Formats.codecRoundtrip(s, d)),
    "q_schema_evolution" -> ((s, d) => Formats.schemaEvolutionRead(s, d)),
    "q_expectations" -> ((s, d) => graft.operators.Quality.expectations(s, d)),
    "q_scd2" -> ((s, d) => Formats.scd2PriorityHistory(s, d)),
    "q_merge_upsert" -> ((s, d) => Formats.mergeUpsert(s, d)),
    "q_session_window" -> ((s, d) => Formats.sessionWindowNative(s, d)),
    "q_session_window_dyn" -> ((s, d) => Formats.sessionWindowDynamic(s, d)),
    // Range join by interval decomposition: equi-join on hour buckets
    // instead of a nested-loop inequality join.
    "q_range_join" -> ((s, d) => Analytics.activeSessionsPerHour(s, d)),
    "q_funnel" -> ((s, d) => Analytics.funnel(s, d)),
    "q_funnel_1h" -> ((s, d) => Analytics.funnelTimeBound(s, d)),
    "q_join_salted" -> ((s, d) => Analytics.saltedJoin(s, d)),
    "q_revenue_share" -> ((s, d) => Analytics.revenueShare(s, d)),
    "q_event_gaps" -> ((s, d) => Analytics.interEventGaps(s, d)),
    "q_gap_fill" -> ((s, d) => Analytics.eventsGapFill(s, d)),
    "q_window_funcs" -> ((s, d) => Analytics.windowFuncs(s, d)),
    // The SQL front door: the same engine through spark.sql over temp
    // views — dialect-common text that the DuckDB oracle runs verbatim.
    "q_sql_api" -> ((s, d) => {
      graft.sources.Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      graft.sources.Tables.orders(s, d).createOrReplaceTempView("orders")
      graft.sources.Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(sqlApiText)
    }),

    // Spark 4 COLLATED strings: case-insensitive equality/grouping as a
    // TYPE property (UTF8_LCASE), not an expression rewrite — the
    // engine's comparators, joins, and aggregates all honor it, where a
    // lower() rewrite must be repeated at every use site (and silently
    // missed at one). The fixture's sources are case-mangled in-plan to
    // make the insensitive grouping observable; oracle uses DuckDB's
    // NOCASE collation — two engines' collation machinery, one result.
    "q_collation" -> ((s, d) => {
      graft.sources.Tables.documents(s, d)
        .createOrReplaceTempView("documents")
      s.sql(
        """SELECT source_ci AS source_grouped,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT raw_source) AS BIGINT) AS n_case_variants
          |FROM (
          |  SELECT CASE WHEN doc_id % 3 = 0 THEN upper(source)
          |              WHEN doc_id % 3 = 1 THEN source
          |              ELSE concat(upper(substr(source, 1, 1)),
          |                          lower(substr(source, 2))) END AS raw_source,
          |    CAST(CASE WHEN doc_id % 3 = 0 THEN upper(source)
          |              WHEN doc_id % 3 = 1 THEN source
          |              ELSE concat(upper(substr(source, 1, 1)),
          |                          lower(substr(source, 2))) END
          |      AS STRING COLLATE UTF8_LCASE) AS source_ci
          |  FROM documents)
          |GROUP BY source_ci""".stripMargin)
        // the group's representative among case variants is
        // nondeterministic by design — normalize it for the contract
        .selectExpr("lower(CAST(source_grouped AS STRING)) AS source_grouped",
          "n_docs", "n_case_variants")
    }),

    // Spark 4 SQL PIPE syntax (`|>`): the linear form of the same front
    // door — each stage reads top-to-bottom like the DataFrame API but
    // stays pure SQL text. Same Catalyst plan as the nested form; the
    // oracle states the query in classic SQL (the point: syntax
    // surfaces differ, the relational contract doesn't).
    "q_sql_pipe" -> ((s, d) => {
      graft.sources.Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """FROM lineitem
          ||> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |     AND l_shipdate < TIMESTAMP '1997-01-01'
          ||> EXTEND CAST(l_extendedprice AS DECIMAL(12,2))
          |     * (1 - CAST(l_discount AS DECIMAL(4,2))) AS disc_price
          ||> AGGREGATE CAST(count(*) AS BIGINT) AS n_items,
          |     CAST(sum(disc_price) * 10000 AS BIGINT) AS revenue_e4
          |   GROUP BY l_returnflag
          ||> ORDER BY l_returnflag""".stripMargin)
    }),

    // Parameterized SQL — named parameter markers bound server-side
    // (spark.sql(text, args)): the injection-safe form of
    // q_sql_templating's string rendering. The literal never enters the
    // SQL text, so a hostile value cannot terminate the statement; the
    // plan is identical to the inlined-literal query (markers fold to
    // literals before optimization, so pushdown still sees them).
    "q_sql_params" -> ((s, d) => {
      graft.sources.Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
          |    AS total_cents
          |FROM orders
          |WHERE o_orderdate >= :start AND o_orderstatus = :status
          |GROUP BY o_orderpriority""".stripMargin,
        Map("start" -> "1996-01-01", "status" -> "F"))
    }),

    // IDENTIFIER() binding — q_sql_params covers VALUES; this covers
    // the other injection channel, dynamic TABLE/COLUMN references: the
    // marker binds as an identifier, not a string literal, so a hostile
    // "name" cannot smuggle SQL while templated reports still pick
    // their table and group-by column at run time.
    "q_sql_identifier" -> ((s, d) => {
      graft.sources.Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """SELECT IDENTIFIER(:grp) AS grouped,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(max(p_size) AS INT) AS max_size
          |FROM IDENTIFIER(:tbl) GROUP BY IDENTIFIER(:grp)""".stripMargin,
        Map("grp" -> "p_brand", "tbl" -> "part"))
    }),

    // EXECUTE IMMEDIATE — dynamic SQL composed at run time from a
    // session VARIABLE, parameters bound positionally through USING
    // (never spliced): the migration target for warehouse dynamic-SQL
    // procedures, and the last of the four injection-safe front-door
    // channels (values :param, identifiers IDENTIFIER(), scripted
    // variables, and now statement-as-data).
    "q_sql_exec_immediate" -> ((s, d) => {
      graft.sources.Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """DECLARE OR REPLACE stmt STRING DEFAULT
          |  'SELECT p_brand, CAST(count(*) AS BIGINT) AS n_big
          |   FROM part WHERE p_size > ? GROUP BY p_brand'""".stripMargin)
      s.sql("EXECUTE IMMEDIATE stmt USING 45")
    }),

    // Spark 4 SQL SCRIPTING (BEGIN … END): multi-statement batches with
    // declared session variables and scalar-subquery assignment — the
    // stored-procedure shape migrating warehouses carry. The script's
    // final statement is the result; the variable is resolved server-
    // side, so the threshold never round-trips through the client.
    // Integer arithmetic only (a float avg threshold would be summation-
    // order-dependent at the boundary).
    "q_sql_script" -> ((s, d) => {
      graft.sources.Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """BEGIN
          |  DECLARE cutoff INT;
          |  SET cutoff = (SELECT max(p_size) FROM part) - 5;
          |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_large
          |  FROM part WHERE p_size >= cutoff GROUP BY p_brand;
          |END""".stripMargin)
    }),

    // Spark 4 SQL-DEFINED scalar functions (`CREATE FUNCTION … RETURN
    // expr`): users extend the engine in SQL itself — no Scala, no UDF
    // registration API. The function body is INLINED into the calling
    // plan at resolution time (it is not a black-box lambda), so the
    // banding expression below participates in whole-stage codegen and
    // constant folding exactly like hand-written CASE text; composition
    // (band_label calls price_band) resolves transitively. The oracle
    // states the same query with the bodies inlined by hand — the
    // contract is that definition-site abstraction changes nothing.
    "q_sql_udf" -> ((s, d) => {
      graft.sources.Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
          |RETURNS STRING
          |RETURN CASE WHEN p < 930 THEN 'low'
          |            WHEN p < 970 THEN 'mid' ELSE 'high' END""".stripMargin)
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION band_label(p DOUBLE, sz INT)
          |RETURNS STRING
          |RETURN concat(price_band(p), CASE WHEN sz <= 25 THEN '-small'
          |                                  ELSE '-large' END)""".stripMargin)
      s.sql(
        """SELECT band_label(p_retailprice, p_size) AS band,
          |  CAST(count(*) AS BIGINT) AS n_parts,
          |  CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) * 100 AS BIGINT)
          |    AS total_cents
          |FROM part GROUP BY band""".stripMargin)
    }),

    // Spark 4 SQL-defined TABLE function (`RETURNS TABLE`) invoked
    // through a correlated LATERAL join: per_brand_sizes is a
    // parameterized view, and the lateral call runs it once per driving
    // row — which Catalyst decorrelates into ONE aggregate over part
    // grouped by (brand, size) joined back, not |brands| separate scans.
    // The TVF is the SQL front door for the "parameterized subreport"
    // pattern BI layers generate.
    "q_sql_table_fn" -> ((s, d) => {
      graft.sources.Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION brand_size_stats(b STRING)
          |RETURNS TABLE(p_size INT, n BIGINT, max_price DOUBLE)
          |RETURN SELECT p_size, CAST(count(*) AS BIGINT),
          |         max(p_retailprice)
          |       FROM part WHERE p_brand = b GROUP BY p_size""".stripMargin)
      s.sql(
        """SELECT br.p_brand, t.p_size, t.n, t.max_price
          |FROM (SELECT DISTINCT p_brand FROM part
          |      WHERE p_brand IN ('Brand#1', 'Brand#10', 'Brand#25')) br,
          |  LATERAL brand_size_stats(br.p_brand) t""".stripMargin)
    }),

    // Correlated EXISTS/NOT EXISTS through the SQL front door —
    // Catalyst DECORRELATES both into semi/anti joins (RewritePredicate
    // Subquery), so the "per-row subquery" never executes per row: the
    // plan is two hash joins over one orders scan. Dialect-common text,
    // oracle runs it verbatim.
    "q_exists_subquery" -> ((s, d) => {
      graft.sources.Tables.orders(s, d).createOrReplaceTempView("orders")
      graft.sources.Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(existsSubqueryText)
    }),

    // LATERAL correlated subquery (per-customer top order) — planned as
    // DecorrelateInnerQuery + window group-limit, not a per-row loop.
    "q_lateral_topk" -> ((s, d) => {
      graft.sources.Tables.orders(s, d).createOrReplaceTempView("orders")
      graft.sources.Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(lateralTopkText)
    }),

    // TPC-H Q17 shape: CORRELATED SCALAR subquery (per-part average) —
    // RewriteCorrelatedScalarSubquery turns the "per-row average" into
    // ONE aggregate over lineitem grouped by l_partkey, joined back; the
    // inner scan runs once, not once per outer row. All quantities are
    // integral, so the double average is an exact-integer-sum ÷ count —
    // correctly rounded identically on both engines; no near-tie risk.
    "q17_small_lots" -> ((s, d) => {
      graft.sources.Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      graft.sources.Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(q17Text)
    }),

    // TPC-H Q22 shape: two UNCORRELATED scalar subqueries (the balance
    // threshold as exact integer cents × count — never a float compare)
    // + a correlated NOT EXISTS anti join. Catalyst evaluates the scalar
    // subqueries once and folds them to literals; the anti join is one
    // hash join over one orders scan.
    "q22_idle_balance" -> ((s, d) => {
      graft.sources.Tables.orders(s, d).createOrReplaceTempView("orders")
      graft.sources.Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(q22Text)
    }),

    "q13_custdist" -> ((s, d) => Analytics.q13CustDist(s, d)),
    "q6_forecast" -> ((s, d) => Analytics.q6Forecast(s, d)),
    "q8_market_share" -> ((s, d) => Analytics.q8MarketShare(s, d)),
    "q7_nation_volume" -> ((s, d) => Analytics.q7NationVolume(s, d)),
    "q15_top_supplier" -> ((s, d) => Analytics.q15TopSupplier(s, d)),
    "q9_profit" -> ((s, d) => Analytics.q9Profit(s, d)),
    "q_attribution_decay" -> ((s, d) => Analytics.decayAttribution(s, d)),
    "q19_disjunctive" -> ((s, d) => Analytics.q19Disjunctive(s, d)),
    "q4_order_priority" -> ((s, d) => Analytics.q4OrderPriority(s, d)),
    "q12_ship_priority" -> ((s, d) => Analytics.q12ShipPriority(s, d)),
    "q21_waiting_suppliers" -> ((s, d) => Analytics.q21WaitingSuppliers(s, d)),
    "q16_supplier_cnt" -> ((s, d) => Analytics.q16SupplierCount(s, d)),
    "q20_excess_supply" -> ((s, d) => Analytics.q20ExcessSupply(s, d)),
    "q2_min_cost" -> ((s, d) => Analytics.q2MinCost(s, d)),
    "q11_important_parts" -> ((s, d) => Analytics.q11ImportantParts(s, d)),
    "q_cms_audit" -> ((s, d) => Analytics.cmsPointCheck(s, d))
  )

  /** Dialect-common correlated EXISTS/NOT EXISTS — decorrelation demo. */
  private val existsSubqueryText: String =
    """SELECT c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_active_no_urgent
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '1996-01-01')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment""".stripMargin

  /** Dialect-common LATERAL top-1-per-customer. */
  private val lateralTopkText: String =
    """SELECT c.c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(t.top_total_c) AS BIGINT) AS sum_top_total_c
      |FROM customer c,
      |LATERAL (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |    AS top_total_c
      |  FROM orders o WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
      |GROUP BY c.c_mktsegment""".stripMargin

  /** TPC-H Q17 (small-lot revenue), dialect-common. The sum ships as
    * exact integer cents; avg_yearly is one IEEE division of that exact
    * value — identical bits on both engines.
    */
  private val q17Text: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_small_lots,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
      |    AS sum_price_c,
      |  CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |    / 7.0 AS DOUBLE) AS avg_yearly
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#4'
      |  AND l.l_quantity < (SELECT 0.2 * avg(CAST(l2.l_quantity AS DOUBLE))
      |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  /** TPC-H Q22 (idle above-average balances), dialect-common. The
    * threshold compare is all-integer: balance-in-cents × positive-
    * balance count vs the exact cent sum, so no float average can
    * near-tie across engines.
    */
  private val q22Text: String =
    """SELECT c.c_nationkey,
      |  CAST(count(*) AS BIGINT) AS n_custs,
      |  CAST(sum(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_acctbal_c
      |FROM customer c
      |WHERE CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
      |    * (SELECT CAST(count(*) AS BIGINT) FROM customer
      |       WHERE c_acctbal > 0)
      |  > (SELECT CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
      |       AS BIGINT)) AS BIGINT) FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c.c_nationkey""".stripMargin

  /** Runs unchanged on Spark AND DuckDB (the common dialect subset). */
  private val sqlApiText: String =
    """SELECT c_mktsegment, count(*) AS n_items,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY c_mktsegment""".stripMargin

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"

  val oracleSql: Map[String, String] = Map(
    // Scale-4/6 sums as x1e4/x1e6 fixed-point BIGINTs: their exact
    // scaled integers pass 2^53 at sf1, where a double output column
    // cannot represent the exact answer on ANY engine.
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |CAST(sum($discPrice) * 10000 AS BIGINT) AS sum_disc_price_e4,
         |CAST(sum($discPrice * (1 + CAST(l_tax AS DECIMAL(4,2)))) * 1000000
         |  AS BIGINT) AS sum_charge_e6,
         |count(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // DuckDB dayofweek is 0=Sunday..6; Spark is 1=Sunday..7 — shift.
    "q_calendar_dim" ->
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
        |    CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
        |days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS ts FROM b)
        |SELECT CAST(ts AS DATE) AS day,
        |  CAST(year(ts) AS INTEGER) AS year,
        |  CAST(quarter(ts) AS INTEGER) AS quarter,
        |  CAST(month(ts) AS INTEGER) AS month,
        |  CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
        |  dayofweek(ts) IN (0, 6) AS is_weekend
        |FROM days""".stripMargin,

    // HAVING on the aggregate before the enrichment joins.
    "q_large_orders" ->
      """SELECT c_name, l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(total_qty AS DOUBLE) AS total_qty
        |FROM (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    // RANGE frame over event time: the trailing hour covers an
    // interval, not a row count.
    "q_window_range_frame" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_1h
        |FROM events""".stripMargin,

    // Revenue ordered while still exact decimal; cast to double only
    // in the projection.
    "q3_shipping" ->
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        |  CAST(rev_dec AS DOUBLE) AS revenue
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-06-30'
        |    AND l_shipdate > TIMESTAMP '1998-06-30'
        |  GROUP BY 1, 2, 3)
        |ORDER BY rev_dec DESC, l_orderkey LIMIT 10""".stripMargin,

    // The nation constraint closes through both the customer and the
    // supplier join paths (cyclic topology).
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,

    // The oracle pins the exact counts and asserts the engine's HLL
    // audit verdict is true for every group; the estimate itself is
    // engine state and never part of the contract.
    "q_approx_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_tol
        |FROM events GROUP BY event_type""".stripMargin,

    // KMV sketch audit, same contract discipline as the HLL audit:
    // exact counts pinned, tolerance verdict asserted, estimate out.
    "q_kmv_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_tol
        |FROM events GROUP BY event_type""".stripMargin,

    // Custom TypedImperativeAggregate quantile sketch (MRL ladder):
    // per-quantile exact-rank verdicts pinned TRUE, estimates out.
    "q_quantile_sketch" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_values,
        |  TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
        |FROM events GROUP BY event_type""".stripMargin,

    // Rank-guarantee audit of the quantile sketch; the estimate itself
    // is engine state and stays out of the contract.
    "q_approx_percentile" ->
      """SELECT event_type,
        |  CAST(count(value) AS BIGINT) AS n_values,
        |  TRUE AS rank_ok
        |FROM events GROUP BY event_type""".stripMargin,

    // Top returned-revenue customers; exact decimal ordering, x1e4 out.
    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(rev_dec * 10000 AS BIGINT) AS rev_e4, n_items
        |FROM (
        |  SELECT c_custkey, c_name, n_name,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev_dec,
        |    count(*) AS n_items
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1, 2, 3)
        |ORDER BY rev_dec DESC, c_custkey LIMIT 20""".stripMargin,

    // Promo revenue share in integer basis points.
    "q14_promo" ->
      """WITH j AS (
        |  SELECT p_type, CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-02-01')
        |SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
        |    ELSE CAST(0 AS DECIMAL(12,2)) END) * 10000 AS BIGINT)
        |    AS promo_rev_e4,
        |  CAST(sum(rev) * 10000 AS BIGINT) AS total_rev_e4,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST((CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
        |      ELSE CAST(0 AS DECIMAL(12,2)) END) * 10000 AS BIGINT) * 10000)
        |    // CAST(sum(rev) * 10000 AS BIGINT) AS BIGINT) AS promo_bp
        |FROM j""".stripMargin,

    // Exact discrete percentiles of per-key group size; all-integer.
    "q_skew_profile" ->
      """WITH g AS (SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1),
        |n AS (SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS total_rows,
        |  max(c) AS max_g FROM g),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, l_suppkey) AS rn FROM g)
        |SELECT CAST(n.n_keys AS BIGINT) AS n_keys, n.total_rows,
        |  CAST(n.max_g AS BIGINT) AS max_g,
        |  CAST(max(CASE WHEN r.rn = (50 * n.n_keys + 99) // 100 THEN r.c END)
        |    AS BIGINT) AS p50_g,
        |  CAST(max(CASE WHEN r.rn = (90 * n.n_keys + 99) // 100 THEN r.c END)
        |    AS BIGINT) AS p90_g,
        |  CAST(max(CASE WHEN r.rn = (99 * n.n_keys + 99) // 100 THEN r.c END)
        |    AS BIGINT) AS p99_g,
        |  CAST(n.max_g * 1000 * n.n_keys // n.total_rows AS BIGINT) AS skew_x1000
        |FROM r CROSS JOIN n
        |GROUP BY n.n_keys, n.total_rows, n.max_g""".stripMargin,

    // Closed-form end state of the synthesized CDC log: keys ≡0 (mod 10)
    // deleted, keys ≡1 doubled, everything else at v1 state.
    "q_cdc_apply" ->
      """SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 1
        |      THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
        |      ELSE CAST(o_totalprice AS DECIMAL(12,2)) END) * 100
        |    AS BIGINT) AS sum_total_c
        |FROM orders WHERE o_orderkey % 10 != 0
        |GROUP BY o_orderstatus""".stripMargin,

    // both generations stated closed-form: v1 = the initial load,
    // v2 = the q_cdc_apply end state
    "q_time_travel" ->
      """SELECT 1 AS version, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
        |    AS sum_total_c
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 2, o_orderstatus,
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 1
        |      THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
        |      ELSE CAST(o_totalprice AS DECIMAL(12,2)) END) * 100
        |    AS BIGINT)
        |FROM orders WHERE o_orderkey % 10 != 0
        |GROUP BY 2""".stripMargin,

    // Vacuum accounting: current = gen_2 slice (kept, intact after the
    // deletes), prior = full table, uncommitted = the crashed writer's
    // %5 slice — all recomputable from orders.
    "q_vacuum" ->
      """SELECT 'current' AS dir_class, CAST(count(*) AS BIGINT) AS n_rows,
        |  'kept' AS disposition, CAST(count(*) AS BIGINT) AS n_rows_after
        |FROM orders WHERE o_orderkey % 10 != 0
        |UNION ALL
        |SELECT 'prior', CAST(count(*) AS BIGINT), 'reclaimed',
        |  CAST(NULL AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'uncommitted', CAST(count(*) AS BIGINT), 'reclaimed',
        |  CAST(NULL AS BIGINT)
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,

    // The delta decomposition must equal the from-scratch join.
    "q_join_incremental" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT)
        |    AS rev_e4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // The merged-partials result must equal a from-scratch aggregate
    // over all history — that equality IS the correctness claim, so the
    // oracle is the direct aggregate.
    "q_agg_merge_partial" ->
      """SELECT l_returnflag,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |count(*) AS n_rows,
        |CAST(min(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS min_disc,
        |CAST(max(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS max_disc,
        |CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS DOUBLE) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_join_enrich" ->
      s"""SELECT r_name, n_name,
         |CAST(sum($discPrice) AS DOUBLE) AS revenue,
         |count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY r_name, n_name""".stripMargin,

    "q_part_brand" ->
      s"""SELECT p_brand, count(*) AS n_items,
         |CAST(sum($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,

    "q_supplier_nation" ->
      s"""SELECT n_name, count(*) AS n_items,
         |CAST(sum($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin,

    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS INTEGER) AS gid,
        |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS INTEGER) AS gid,
        |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_join_outer" ->
      """WITH ord AS (SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
        |  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  coalesce(c_mktsegment, 'UNKNOWN') AS segment,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(spend, CAST(0 AS DOUBLE)) AS spend
        |FROM customer FULL OUTER JOIN ord ON c_custkey = o_custkey""".stripMargin,

    "q_join_bucketed" ->
      s"""SELECT o_orderstatus, count(*) AS n_items,
         |CAST(sum($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS running_spend
        |FROM orders""".stripMargin,

    "q_join_semi_anti" ->
      """SELECT c_custkey, 'active_1996' AS status FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |UNION ALL
        |SELECT c_custkey, 'inactive_1996' AS status FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')""".stripMargin,

    "q_set_ops" ->
      """WITH s95 AS (SELECT DISTINCT c_mktsegment, c_nationkey
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE year(o_orderdate) = 1995),
        |s97 AS (SELECT DISTINCT c_mktsegment, c_nationkey
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE year(o_orderdate) = 1997)
        |SELECT c_mktsegment, c_nationkey, 'in_both' AS set_op
        |  FROM (SELECT * FROM s95 INTERSECT SELECT * FROM s97)
        |UNION ALL
        |SELECT c_mktsegment, c_nationkey, 'only_1995' AS set_op
        |  FROM (SELECT * FROM s95 EXCEPT SELECT * FROM s97)""".stripMargin,

    "q_pivot_table" ->
      """SELECT l_returnflag,
        |CAST(sum(CASE WHEN l_linestatus = 'F'
        |  THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f,
        |CAST(sum(CASE WHEN l_linestatus = 'O'
        |  THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_agg_salted" ->
      """SELECT l_partkey,
        |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |count(*) AS n_rows
        |FROM lineitem GROUP BY l_partkey""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag,
        |count(DISTINCT l_orderkey) AS n_orders,
        |count(DISTINCT l_partkey) AS n_parts,
        |count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT n_nationkey,
        |upper(n_name) AS up, lower(n_name) AS lo, reverse(n_name) AS rev,
        |lpad(n_name, 12, '*') AS padded, substr(n_name, 2, 3) AS sub23,
        |regexp_replace(n_name, 'A', '@', 'g') AS subst,
        |CAST(length(n_name) AS INTEGER) AS len,
        |n_name || '#' || CAST(n_regionkey AS VARCHAR) AS tagged,
        |greatest(n_nationkey, n_regionkey * 5) AS biggest,
        |coalesce(nullif(n_regionkey, 2), -1) AS region_or_default,
        |abs(n_nationkey - 12) AS dist12,
        |n_nationkey % 7 AS mod7,
        |sqrt(CAST(n_nationkey AS DOUBLE)) AS root
        |FROM nation""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS INTEGER) AS gid,
        |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q_stats_moments" ->
      """SELECT l_returnflag,
        |round(stddev_samp(l_quantity), 6) AS sd_qty,
        |round(var_samp(l_quantity), 6) AS var_qty,
        |round(corr(l_quantity, l_extendedprice), 6) + 0 AS corr_qp,
        |round(covar_samp(l_quantity, l_extendedprice), 4) + 0 AS covar_qp,
        |min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |count(*) AS n FROM orders GROUP BY 1""".stripMargin,

    // Discrete (ceil-rank) p05/p95 cuts by pure integer rank arithmetic
    // — both engines select the identical data element, no interpolation.
    "q_winsorize" ->
      """WITH r AS (SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |c AS (SELECT event_type,
        |    max(CASE WHEN rn <= (5 * n + 99) // 100 THEN value END) AS lo,
        |    max(CASE WHEN rn <= (95 * n + 99) // 100 THEN value END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT r.event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN r.value < c.lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN r.value > c.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  CAST(sum(greatest(least(CAST(r.value AS DECIMAL(18,2)),
        |      CAST(c.hi AS DECIMAL(18,2))), CAST(c.lo AS DECIMAL(18,2))))
        |    * 100 AS BIGINT) AS clipped_cents
        |FROM r JOIN c USING (event_type) GROUP BY 1""".stripMargin,

    // inclusion–exclusion pinned exactly; the sketch estimate stays out
    // of the contract behind the tolerance verdict
    "q_hll_intersect" ->
      """WITH s AS (SELECT
        |  count(DISTINCT CASE WHEN event_type = 'click'
        |    THEN user_id END) AS n_click,
        |  count(DISTINCT CASE WHEN event_type = 'purchase'
        |    THEN user_id END) AS n_buy,
        |  count(DISTINCT CASE WHEN event_type IN ('click', 'purchase')
        |    THEN user_id END) AS n_union
        |  FROM events)
        |SELECT CAST(n_click AS BIGINT) AS n_click,
        |  CAST(n_buy AS BIGINT) AS n_buy,
        |  CAST(n_click + n_buy - n_union AS BIGINT) AS n_both_exact,
        |  TRUE AS within_tol
        |FROM s""".stripMargin,

    // the same three anti-join orphan counts
    "q_fk_audit" ->
      """SELECT 'lineitem.l_orderkey->orders' AS fk,
        |  (SELECT count(*) FROM lineitem) AS n_fact_rows,
        |  CAST(count(*) AS BIGINT) AS n_orphans
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM orders),
        |  CAST(count(*) AS BIGINT)
        |FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation',
        |  (SELECT count(*) FROM customer),
        |  CAST(count(*) AS BIGINT)
        |FROM customer c WHERE NOT EXISTS
        |  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)""".stripMargin,

    // the window form of the distributed global rank: identical
    // nearest-rank-lower element picks under the same total order
    "q_exact_percentiles" ->
      """WITH o AS (SELECT
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents, o_orderkey
        |  FROM orders),
        |i AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_orderkey) - 1 AS idx,
        |    count(*) OVER () AS n
        |  FROM o)
        |SELECT 'p50' AS pct, cents FROM i WHERE idx = (n-1)*50//100
        |UNION ALL
        |SELECT 'p90', cents FROM i WHERE idx = (n-1)*90//100
        |UNION ALL
        |SELECT 'p99', cents FROM i WHERE idx = (n-1)*99//100""".stripMargin,

    // the same deletion ledger per table, counted relationally
    "q_user_erasure" ->
      """SELECT 'customer' AS table_name,
        |  CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_deleted,
        |  CAST(count(*) - sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_after
        |FROM customer
        |UNION ALL
        |SELECT 'orders',
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(*) - sum(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0
        |    END) AS BIGINT)
        |FROM orders""".stripMargin,

    // exact 7-day rolling distinct; the sketch estimate stays out of
    // the contract behind the tolerance verdict
    "q_hll_sliding" ->
      """WITH ev AS (SELECT DISTINCT
        |    CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ev)
        |SELECT strftime(CAST(d.day AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_tol
        |FROM days d JOIN ev e ON d.day - e.day BETWEEN 0 AND 6
        |GROUP BY 1""".stripMargin,

    // identical discrete-median replay: rank (n+1)//2 under the same
    // deterministic (value, day) total order, integer-cents fences
    // Theil-Sen: pairwise-slope median under the deterministic total
    // order (slope_fp, num, den, ti, tj); the +K*den offset makes the
    // integer division run on positives so // (floor) and div (trunc)
    // agree.
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |t0 AS (SELECT event_type, min(day) AS d0,
        |    CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
        |pts AS (SELECT d.event_type, t0.n_days,
        |    CAST(date_diff('day', t0.d0, d.day) AS BIGINT) AS t, d.x
        |  FROM daily d JOIN t0 USING (event_type)),
        |pairs AS (SELECT a.event_type, a.n_days,
        |    b.x - a.x AS num, b.t - a.t AS den, a.t AS ti, b.t AS tj,
        |    CAST((((b.x - a.x) * 1000000 + 100000000000000 * (b.t - a.t))
        |      // (b.t - a.t)) - 100000000000000 AS BIGINT) AS slope_fp
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.t < b.t),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY slope_fp, num, den, ti, tj) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_pairs
        |  FROM pairs)
        |SELECT event_type, n_days, n_pairs, slope_fp AS med_slope_fp
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin,

    // CUSUM closed form: S_t = P_t - min(0, min_{j<t} P_j) over the
    // exact n-scaled centered series d = n*x - T; argmax day, ties to
    // the earliest.
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d')
        |      AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS t_x FROM daily GROUP BY 1),
        |s AS (SELECT d.event_type, d.day, pt.n_days,
        |    CAST(sum(pt.n_days * d.x - pt.t_x) OVER (
        |      PARTITION BY d.event_type ORDER BY d.day) AS BIGINT) AS p
        |  FROM daily d JOIN pt USING (event_type)),
        |st AS (SELECT event_type, day, n_days,
        |    p - least(0, CAST(COALESCE(min(p) OVER (
        |      PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT)) AS s_t
        |  FROM s),
        |m AS (SELECT event_type, CAST(max(s_t) AS BIGINT) AS s_max
        |  FROM st GROUP BY 1)
        |SELECT st.event_type, CAST(max(st.n_days) AS BIGINT) AS n_days,
        |  CAST(max(s_max) AS BIGINT) AS s_max, min(st.day) AS cp_day
        |FROM st JOIN m ON m.event_type = st.event_type AND st.s_t = m.s_max
        |GROUP BY 1""".stripMargin,

    "q_anomaly_mad" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d')
        |      AS day,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY cents, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM daily),
        |med AS (SELECT event_type, cents AS med_cents FROM r
        |  WHERE rn = (n + 1) // 2),
        |dev AS (SELECT d.event_type, d.day,
        |    abs(d.cents - m.med_cents) AS dev, m.med_cents
        |  FROM daily d JOIN med m USING (event_type)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY dev, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM dev),
        |mad AS (SELECT event_type, dev AS mad_cents FROM r2
        |  WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(min(d.med_cents) AS BIGINT) AS med_cents,
        |  CAST(min(m.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev > m.mad_cents * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1""".stripMargin,

    // both columns are the same exact distinct count
    "q_bitmap_distinct" ->
      """SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP),
        |    '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_bitmap,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact
        |FROM events GROUP BY 1""".stripMargin,

    // cogroup restated relationally: header join items, grouped
    "q_cogroup" ->
      """SELECT o.o_orderkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS total_cents,
        |  CAST(coalesce(sum(
        |    CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)),
        |    0) AS BIGINT) AS gross_cents,
        |  CAST(count(l.l_orderkey) AS BIGINT) AS n_items
        |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2""".stripMargin,

    // transpose restated as conditional-aggregation pivot: one row per
    // metric, one column per event type
    "q_transpose" ->
      """WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT)
        |      AS total_cents
        |  FROM events GROUP BY 1)
        |SELECT 'n_events' AS key,
        |  max(CASE WHEN event_type = 'click' THEN n_events END) AS click,
        |  max(CASE WHEN event_type = 'error' THEN n_events END) AS error,
        |  max(CASE WHEN event_type = 'purchase' THEN n_events END) AS purchase,
        |  max(CASE WHEN event_type = 'signup' THEN n_events END) AS signup,
        |  max(CASE WHEN event_type = 'view' THEN n_events END) AS view
        |FROM a
        |UNION ALL
        |SELECT 'total_cents',
        |  max(CASE WHEN event_type = 'click' THEN total_cents END),
        |  max(CASE WHEN event_type = 'error' THEN total_cents END),
        |  max(CASE WHEN event_type = 'purchase' THEN total_cents END),
        |  max(CASE WHEN event_type = 'signup' THEN total_cents END),
        |  max(CASE WHEN event_type = 'view' THEN total_cents END)
        |FROM a""".stripMargin,

    // same frontier formulation (per-price max size, running-max scan);
    // prices compared only, never computed with, so doubles are safe
    "q_skyline" ->
      """WITH pp AS (SELECT p_retailprice, max(p_size) AS msz
        |  FROM part GROUP BY p_retailprice),
        |f AS (SELECT p_retailprice, msz,
        |    max(msz) OVER (ORDER BY p_retailprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM pp)
        |SELECT p.p_partkey, p.p_brand, p.p_retailprice, p.p_size
        |FROM part p JOIN f ON p.p_retailprice = f.p_retailprice
        |  AND p.p_size = f.msz
        |WHERE f.prev_max IS NULL OR f.msz > f.prev_max""".stripMargin,

    "q_events_window" ->
      """SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // The reporting-band form: WHERE carries the exact ts band the
    // engine enforces row-level (its e_day band is a directory prune
    // with no row semantics of its own).
    "q_events_window_band" ->
      """SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        |GROUP BY 1, 2""".stripMargin,

    // Banded purchases only; the views band is implied by the join's
    // 24 h lookback bound, so the oracle needs no view-side predicate.
    "q_attribution_first_band" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'),
        |j AS (SELECT p.purchase_id, v.view_id,
        |    epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS touch_to_buy_us,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY v.view_ts, v.view_id) AS rn
        |  FROM p JOIN v ON p.user_id = v.user_id
        |    AND v.view_ts <= p.purchase_ts
        |    AND v.view_ts >= p.purchase_ts - INTERVAL 24 HOURS)
        |SELECT purchase_id, view_id AS first_view_id, touch_to_buy_us
        |FROM j WHERE rn = 1""".stripMargin,

    // Each event expands into its 4 covering 6h-aligned day windows —
    // the same row-per-window expansion Spark's sliding window performs.
    "q_sliding_window" ->
      """SELECT strftime(to_timestamp(((epoch_us(ts) // 21600000000) - k) * 21600),
        |    '%Y-%m-%d %H:%M') AS w_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events, range(4) r(k)
        |GROUP BY 1, 2""".stripMargin,

    "q_events_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q_events_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |count(*) AS n FROM events GROUP BY 1""".stripMargin,

    // Equal-split credit in integer basis points; floor-division
    // remainder goes to the earliest touch so each purchase sums to
    // exactly 10000 bp on both engines.
    "q_attribution_linear" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS value_c
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.purchase_id, p.value_c, v.view_ts,
        |    count(*) OVER (PARTITION BY p.purchase_id) AS n_touch,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY v.view_ts, v.view_id) AS rn
        |  FROM p JOIN v ON p.user_id = v.user_id
        |    AND v.view_ts <= p.purchase_ts
        |    AND v.view_ts >= p.purchase_ts - INTERVAL 24 HOURS),
        |c AS (SELECT purchase_id, value_c, view_ts,
        |    10000 // n_touch + CASE WHEN rn = 1
        |      THEN 10000 - n_touch * (10000 // n_touch) ELSE 0 END AS bp
        |  FROM j)
        |SELECT CAST(view_ts AS DATE) AS view_day,
        |  CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(bp) AS BIGINT) AS sum_bp,
        |  CAST(sum(value_c * bp // 10000) AS BIGINT) AS credit_c
        |FROM c GROUP BY 1""".stripMargin,

    // First view in the 24h lookback per purchase (the as-of join's
    // last-touch dual).
    "q_attribution_first" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.purchase_id, v.view_id,
        |    epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS touch_to_buy_us,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY v.view_ts, v.view_id) AS rn
        |  FROM p JOIN v ON p.user_id = v.user_id
        |    AND v.view_ts <= p.purchase_ts
        |    AND v.view_ts >= p.purchase_ts - INTERVAL 24 HOURS)
        |SELECT purchase_id, view_id AS first_view_id, touch_to_buy_us
        |FROM j WHERE rn = 1""".stripMargin,

    // string_agg ORDER BY (ts, event_id) mirrors the engine's
    // array_sort on the same key — event_id is globally unique so both
    // orders are total. The rank prune + truncated flag mirror the
    // engine's heavy-hitter cap (`userPaths`' maxEvents, default 10000).
    "q_user_paths" ->
      """WITH r AS (SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events),
        |p AS (SELECT user_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
        |    max(cnt) > 10000 AS truncated
        |  FROM r WHERE rn <= 10000 GROUP BY user_id)
        |SELECT path, truncated, count(*) AS n_users FROM p GROUP BY 1, 2""".stripMargin,

    "q_path_pattern" ->
      """WITH r AS (SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
        |    CAST(count(*) AS BIGINT) AS n_ev
        |  FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT CASE
        |    WHEN regexp_matches(path, 'view.*purchase') THEN 'view_then_purchase'
        |    WHEN regexp_matches(path, 'purchase') THEN 'purchase_no_prior_view'
        |    WHEN regexp_matches(path, 'view') THEN 'view_no_purchase'
        |    ELSE 'neither' END AS pattern,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_ev) AS BIGINT) AS n_events
        |FROM p GROUP BY 1""".stripMargin,

    // Moments from exact integer fixed-point sums (cents; HUGEINT Σx²
    // mirrors the engine's decimal(38) — both exact integers, so the
    // DOUBLE conversions agree bit-for-bit); float math only in the
    // final per-group scalar division/sqrt — identical on both engines.
    "q_anomaly_zscore" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,2))) AS total,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |stats AS (SELECT event_type,
        |    CAST(sum(cents) AS DOUBLE) / 100.0 / count(*) AS mean,
        |    sqrt(CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) / 10000.0 / count(*)
        |      - pow(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*), 2)) AS std
        |  FROM daily GROUP BY 1)
        |SELECT d.event_type, d.day, CAST(d.total AS DOUBLE) AS total,
        |  CAST(round((CAST(d.total AS DOUBLE) - s.mean) / s.std, 6) + 0 AS DOUBLE) AS zscore,
        |  abs((CAST(d.total AS DOUBLE) - s.mean) / s.std) > 2.0 AS is_anomaly
        |FROM daily d JOIN stats s USING (event_type)""".stripMargin,

    // Welch t from exact integer moments per arm; the same expression
    // tree as the engine (double ops on identical exact integers are
    // IEEE-deterministic), round 6 + 0 on every sign-indefinite scalar.
    "q_ab_test" ->
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(user_id % 2 AS INTEGER) AS arm,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2, 3),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 0 THEN cents END) AS BIGINT) AS s1a,
        |    CAST(sum(CASE WHEN arm = 1 THEN cents END) AS BIGINT) AS s1b,
        |    sum(CASE WHEN arm = 0 THEN CAST(cents AS HUGEINT) * cents END) AS s2a,
        |    sum(CASE WHEN arm = 1 THEN CAST(cents AS HUGEINT) * cents END) AS s2b
        |  FROM u GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  CAST(round(CAST(s1a AS DOUBLE)/100.0/n_a, 6) + 0 AS DOUBLE) AS mean_a,
        |  CAST(round(CAST(s1b AS DOUBLE)/100.0/n_b, 6) + 0 AS DOUBLE) AS mean_b,
        |  CAST(round(CAST(s1b AS DOUBLE)/100.0/n_b
        |    - CAST(s1a AS DOUBLE)/100.0/n_a, 6) + 0 AS DOUBLE) AS lift,
        |  CAST(round(
        |    (CAST(s1a AS DOUBLE)/100.0/n_a - CAST(s1b AS DOUBLE)/100.0/n_b)
        |    / sqrt(CAST(n_a*s2a - CAST(s1a AS HUGEINT)*s1a AS DOUBLE)
        |        / (CAST(n_a AS DOUBLE)*(CAST(n_a AS DOUBLE)-1.0)) / 10000.0 / n_a
        |      + CAST(n_b*s2b - CAST(s1b AS HUGEINT)*s1b AS DOUBLE)
        |        / (CAST(n_b AS DOUBLE)*(CAST(n_b AS DOUBLE)-1.0)) / 10000.0 / n_b),
        |    6) + 0 AS DOUBLE) AS t_stat
        |FROM g""".stripMargin,

    // CUPED: same pooled-theta adjustment from the same 11 exact
    // integer moments; DuckDB date-date is integer days and date+int a
    // date, mirroring Spark's datediff/date_add split.
    "q_cuped" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |b AS (SELECT min(day) AS mn,
        |    CAST((max(day) - min(day)) // 2 AS INTEGER) AS half FROM ev),
        |u AS (SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
        |    CAST(coalesce(sum(CASE WHEN day < mn + half THEN v END),
        |      CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT) AS x,
        |    CAST(coalesce(sum(CASE WHEN day >= mn + half THEN v END),
        |      CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
        |  FROM ev, b GROUP BY 1, 2),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS sxa,
        |    CAST(sum(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS sxb,
        |    CAST(sum(CASE WHEN arm = 0 THEN y END) AS BIGINT) AS sya,
        |    CAST(sum(CASE WHEN arm = 1 THEN y END) AS BIGINT) AS syb
        |  FROM u)
        |SELECT n_a, n_b,
        |  CAST(round(CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |    / CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE), 6) + 0
        |    AS DOUBLE) AS theta,
        |  CAST(round((CAST(sya AS DOUBLE)/n_a
        |    - (CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |       / CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE))
        |      * (CAST(sxa AS DOUBLE)/n_a - CAST(sx AS DOUBLE)/n)) / 100.0,
        |    6) + 0 AS DOUBLE) AS mean_adj_a,
        |  CAST(round((CAST(syb AS DOUBLE)/n_b
        |    - (CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |       / CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE))
        |      * (CAST(sxb AS DOUBLE)/n_b - CAST(sx AS DOUBLE)/n)) / 100.0,
        |    6) + 0 AS DOUBLE) AS mean_adj_b,
        |  CAST(round((CAST(syb AS DOUBLE)/n_b
        |    - (CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |       / CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE))
        |      * (CAST(sxb AS DOUBLE)/n_b - CAST(sx AS DOUBLE)/n)) / 100.0
        |    - (CAST(sya AS DOUBLE)/n_a
        |    - (CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |       / CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE))
        |      * (CAST(sxa AS DOUBLE)/n_a - CAST(sx AS DOUBLE)/n)) / 100.0,
        |    6) + 0 AS DOUBLE) AS adj_lift,
        |  CAST(round(CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |      * CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |    / CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE)
        |    / CAST(n*syy - CAST(sy AS HUGEINT)*sy AS DOUBLE), 6)
        |    AS DOUBLE) AS rho2
        |FROM g""".stripMargin,

    // DuckDB date_trunc returns DATE here and datediff is date
    // subtraction; Spark datediff returns INT — cast to match.
    "q_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohorts AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT cohort_day, CAST(day - cohort_day AS INTEGER) AS days_since,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN cohorts USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // Same deterministic corruption (event_id % 7 → truncated JSON);
    // the oracle derives the disposition arithmetically while the
    // engine actually routes on the parser's null-field output.
    "q_parse_quarantine" ->
      """SELECT CASE WHEN event_id % 7 = 0 THEN 'quarantined' ELSE 'ok' END AS disposition,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN NULL
        |    ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1""".stripMargin,

    // The oracle runs the range join directly as an inequality join over
    // the hour grid — small data; the Spark side's bucket-equi-join
    // rewrite must produce identical counts.
    "q_range_join" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked
        |), s AS (
        |  SELECT min(epoch_us(ts)) // 3600000000 AS h_lo,
        |    max(epoch_us(ts)) // 3600000000 AS h_hi
        |  FROM sess GROUP BY user_id, session_id
        |), g AS (
        |  SELECT unnest(range((SELECT min(h_lo) FROM s),
        |    (SELECT max(h_hi) FROM s) + 1)) AS hour_idx
        |)
        |SELECT strftime(make_timestamp(hour_idx * 3600000000),
        |    '%Y-%m-%d %H:00:00') AS hour,
        |  (SELECT count(*) FROM s
        |    WHERE s.h_lo <= g.hour_idx AND g.hour_idx <= s.h_hi) AS n_active
        |FROM g""".stripMargin,

    // Spark's native session_window merges at exactly `gap` (inclusive —
    // pinned by FormatsSpec), so the islands construction splits only on
    // diff > gap. Same output as q_events_sessionize minus the ordinal.
    "q_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    // Interval-merge with a RUNNING MAX of prior interval ends (lag of
    // the immediately-previous end is wrong: an earlier 30-min view can
    // outlast a later 15-min event). Boundary matches the engine's
    // inclusive merge (exactly-at-end still merges, pinned in spec).
    "q_session_window_dyn" ->
      """WITH g AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS t,
        |    epoch_us(ts) + CASE WHEN event_type = 'view'
        |      THEN 1800000000 ELSE 900000000 END AS e
        |  FROM events),
        |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM g),
        |marked AS (SELECT *, CASE WHEN prev_end IS NULL OR t > prev_end
        |  THEN 1 ELSE 0 END AS new_session FROM m),
        |sess AS (SELECT user_id, ts, value,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    // ORC / JSON round-trips are lossless, so the oracle is the same
    // summary computed straight from the parquet table.
    "q_orc_roundtrip" -> ordersSummarySql,
    // the zero-copy clone must read back the full source table
    "q_clone_table" -> ordersSummarySql,
    "q_json_roundtrip" -> ordersSummarySql,
    "q_xml_roundtrip" -> ordersSummarySql,

    // the testdata ships one file per table, so provenance rolls up to
    // a single literal-named row at every scale factor
    "q_file_provenance" ->
      """SELECT 'orders.parquet' AS src_file,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
        |FROM orders""".stripMargin,

    // variant path extraction must agree with plain JSON extraction
    "q_variant_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY 1""".stripMargin,

    // RFM quartile segmentation: ntile ties broken by user_id so both
    // engines deal identical quartiles
    "q_rfm" ->
      """WITH u AS (SELECT user_id,
        |    max(epoch_us(ts)) AS last_us,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS monetary_c
        |  FROM events GROUP BY 1)
        |SELECT user_id, frequency, monetary_c,
        |  CAST(ntile(4) OVER (ORDER BY last_us DESC, user_id) AS VARCHAR)
        |  || CAST(ntile(4) OVER (ORDER BY frequency ASC, user_id) AS VARCHAR)
        |  || CAST(ntile(4) OVER (ORDER BY monetary_c ASC, user_id) AS VARCHAR)
        |    AS segment
        |FROM u""".stripMargin,

    // first-order journey transition matrix in integer basis points
    "q_markov" ->
      """WITH p AS (SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT cur, sum(n) AS row_n FROM c GROUP BY 1)
        |SELECT c.cur, c.nxt, c.n, CAST(c.n * 10000 // t.row_n AS BIGINT) AS p_bp
        |FROM c JOIN t ON c.cur = t.cur""".stripMargin,

    // sketch-rollup audit: weekly distinct from unioned daily sketches,
    // verdict vs the exact recount (Monday-start weeks on both engines)
    "q_hll_rollup" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_tol
        |FROM events GROUP BY 1""".stripMargin,

    // in-plan observed metrics equal the straight aggregate
    "q_observe_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_c
        |FROM lineitem""".stripMargin,
    // compaction is content-preserving: same lossless summary oracle
    "q_compact" -> ordersSummarySql,

    // Final state after the backfill must equal the straight rollup of
    // the source: the healed day proves the partition was replaced, the
    // other days prove dynamic mode left them alone.
    "q_backfill_partition" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT)
        |    AS sum_value_c
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Both codec layouts must decode to the same lossless summary.
    "q_codec_roundtrip" ->
      """SELECT * FROM (
        |  SELECT o_orderstatus, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
        |    CAST(min(o_orderdate) AS DATE) AS first_day,
        |    CAST(max(o_orderdate) AS DATE) AS last_day,
        |    'zstd' AS codec
        |  FROM orders GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT o_orderstatus, count(*),
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE),
        |    CAST(min(o_orderdate) AS DATE), CAST(max(o_orderdate) AS DATE),
        |    'snappy'
        |  FROM orders GROUP BY o_orderstatus)""".stripMargin,

    // The v=1 generation predates o_orderpriority (every row NULL
    // there); the oracle reconstructs both generations from the
    // original table.
    "q_schema_evolution" ->
      """SELECT v, o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_evolution,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        |FROM (SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS v,
        |  o_orderstatus, o_totalprice FROM orders)
        |GROUP BY v, o_orderstatus""".stripMargin,

    // One shared scan computes every violation count; the oracle
    // recomputes each expectation independently.
    "q_expectations" ->
      """WITH a AS (SELECT count(*) AS n_rows,
        |  sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_price,
        |  sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS v_date,
        |  sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS v_status,
        |  count(*) - count(DISTINCT o_orderkey) AS v_dup
        |  FROM orders)
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  violations = 0 AS pass
        |FROM (
        |  SELECT 'totalprice_positive' AS check_name, v_price AS violations FROM a
        |  UNION ALL SELECT 'orderdate_not_null', v_date FROM a
        |  UNION ALL SELECT 'orderstatus_in_domain', v_status FROM a
        |  UNION ALL SELECT 'orderkey_unique', v_dup FROM a)""".stripMargin,

    // Bit-position sum form of the Morton interleave — algebraically
    // identical to the engine's magic-mask spreading, so the z-math is
    // checked value-for-value, not just shape.
    "q_zorder" ->
      """WITH z AS (SELECT o_orderkey,
        |  CAST(list_sum(list_transform(range(16), i ->
        |    ((((o_orderkey % 65536) >> i) & 1) << (2*i)) +
        |    ((((o_custkey % 65536) >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zvalue
        |  FROM orders)
        |SELECT CAST(zvalue >> 26 AS INTEGER) AS z_bucket,
        |  count(*) AS n_rows,
        |  min(zvalue) AS min_z,
        |  max(zvalue) AS max_z,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM z GROUP BY 1""".stripMargin,

    "q_scd2" ->
      """WITH h AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    lag(o_orderpriority) OVER w AS prev_p
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |), c AS (
        |  SELECT * FROM h WHERE prev_p IS NULL OR prev_p <> o_orderpriority
        |)
        |SELECT o_custkey AS custkey, o_orderpriority AS priority,
        |  strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
        |  strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey), '%Y-%m-%d') AS effective_to
        |FROM c""".stripMargin,

    "q_merge_upsert" ->
      """WITH b AS (
        |  SELECT user_id, event_type, ts FROM (
        |    SELECT user_id, event_type, ts, row_number() OVER
        |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16') WHERE rn = 1
        |), u AS (
        |  SELECT user_id, event_type, ts FROM (
        |    SELECT user_id, event_type, ts, row_number() OVER
        |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-16') WHERE rn = 1
        |)
        |SELECT coalesce(b.user_id, u.user_id) AS user_id,
        |  coalesce(u.event_type, b.event_type) AS last_type,
        |  strftime(coalesce(u.ts, b.ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
        |  CASE WHEN b.user_id IS NULL THEN 'insert'
        |       WHEN u.user_id IS NULL THEN 'carry'
        |       ELSE 'update' END AS merge_action
        |FROM b FULL OUTER JOIN u ON b.user_id = u.user_id""".stripMargin,

    "q_sql_api" -> sqlApiText,

    // the oracle states the same case-insensitive grouping result
    // (lower-key grouping). The third case variant is deliberately
    // spelled from upper/lower/substr — NOT initcap — because Spark's
    // initcap lowercases the remainder and capitalizes every word while
    // DuckDB has no initcap at all; building the variant from the same
    // primitive functions makes the two engines agree by construction
    // on any source value (internal capitals, multi-word, empty).
    "q_collation" ->
      """WITH m AS (SELECT
        |  CASE WHEN doc_id % 3 = 0 THEN upper(source)
        |       WHEN doc_id % 3 = 1 THEN source
        |       ELSE upper(substr(source, 1, 1)) || lower(substr(source, 2))
        |  END AS raw_source
        |  FROM documents)
        |SELECT lower(raw_source) AS source_grouped,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT raw_source) AS BIGINT) AS n_case_variants
        |FROM m GROUP BY 1""".stripMargin,

    // classic-SQL statement of the pipe-syntax query
    "q_sql_pipe" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT)
        |    AS revenue_e4
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin,

    // inlined-literal statement of the parameterized query
    "q_sql_params" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin,

    // identifiers inlined by hand
    "q_sql_identifier" ->
      """SELECT p_brand AS grouped, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(p_size) AS INTEGER) AS max_size
        |FROM part GROUP BY p_brand""".stripMargin,

    // the dynamic statement inlined with its bound parameter
    "q_sql_exec_immediate" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_big
        |FROM part WHERE p_size > 45 GROUP BY p_brand""".stripMargin,

    // the script's variable restated as an inline scalar subquery
    "q_sql_script" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_large
        |FROM part
        |WHERE p_size >= (SELECT max(p_size) FROM part) - 5
        |GROUP BY p_brand""".stripMargin,

    // the SQL-UDF bodies inlined by hand (no function definitions)
    "q_sql_udf" ->
      """SELECT concat(
        |    CASE WHEN p_retailprice < 930 THEN 'low'
        |         WHEN p_retailprice < 970 THEN 'mid' ELSE 'high' END,
        |    CASE WHEN p_size <= 25 THEN '-small' ELSE '-large' END) AS band,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) * 100 AS BIGINT)
        |    AS total_cents
        |FROM part GROUP BY band""".stripMargin,

    // the TVF decorrelated by hand: one grouped aggregate, filtered
    "q_sql_table_fn" ->
      """SELECT p_brand, p_size, CAST(count(*) AS BIGINT) AS n,
        |  max(p_retailprice) AS max_price
        |FROM part WHERE p_brand IN ('Brand#1', 'Brand#10', 'Brand#25')
        |GROUP BY p_brand, p_size""".stripMargin,

    "q_exists_subquery" -> existsSubqueryText,
    "q_lateral_topk" -> lateralTopkText,
    "q17_small_lots" -> q17Text,
    "q22_idle_balance" -> q22Text,

    "q12_ship_priority" ->
      """SELECT l.l_returnflag AS ship_mode,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,

    "q21_waiting_suppliers" ->
      """WITH late AS (
        |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
        |GROUP BY p_brand, p_size""".stripMargin,

    "q2_min_cost" ->
      """WITH sc AS (SELECT l_partkey, l_suppkey,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS cost_cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p.p_partkey, s.s_name, n.n_name, sc.cost_cents
        |FROM part p
        |JOIN sc ON sc.l_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = sc.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_size = 15
        |  AND sc.cost_cents = (SELECT min(sc2.cost_cents) FROM sc sc2
        |    WHERE sc2.l_partkey = p.p_partkey)""".stripMargin,

    "q11_important_parts" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS value_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation
        |      ON s_nationkey = n_nationkey
        |    WHERE n_name IN ('NATION_1','NATION_3','NATION_5',
        |      'NATION_7','NATION_9'))
        |  GROUP BY 1)
        |SELECT l_partkey, value_cents FROM v
        |WHERE value_cents * (SELECT count(*) FROM v)
        |  > 2 * (SELECT sum(value_cents) FROM v)""".stripMargin,

    "q20_excess_supply" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 60)""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c.c_custkey,
        |    CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count""".stripMargin,

    "q6_forecast" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)
        |    AS revenue_e4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q8_market_share" ->
      """WITH f AS (
        |  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        |    CAST(l.l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS rev,
        |    ns.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |  JOIN region r ON nc.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |  WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |    AND l.l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_type = 'PROMO'))
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev
        |    ELSE CAST(0 AS DECIMAL(12,2)) END) * 10000 AS BIGINT)
        |    AS nation_rev_e4,
        |  CAST(sum(rev) * 10000 AS BIGINT) AS total_rev_e4,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev
        |    ELSE CAST(0 AS DECIMAL(12,2)) END) * 10000 AS BIGINT) * 10000
        |    // CAST(sum(rev) * 10000 AS BIGINT) AS share_bp
        |FROM f GROUP BY o_year""".stripMargin,


    "q9_profit" ->
      """SELECT ns.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER)
        |    AS o_year,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
        |    - CAST(l.l_quantity AS DECIMAL(18,2))
        |      * CAST(p.p_retailprice AS DECIMAL(18,2)) * 0.80)
        |    * 10000 AS BIGINT) AS profit_e4
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE p.p_name LIKE '%bolt%'
        |GROUP BY 1, 2""".stripMargin,

    // Hyperbolic integer decay weights (1e6 // (1 + age_h)) — floor
    // division everywhere, so both engines split credit identically.
    "q_attribution_decay" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS value_c
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.purchase_id, p.value_c, v.view_ts, v.view_id,
        |    (epoch_us(p.purchase_ts) - epoch_us(v.view_ts)) // 3600000000
        |      AS age_h
        |  FROM p JOIN v ON p.user_id = v.user_id
        |    AND v.view_ts <= p.purchase_ts
        |    AND v.view_ts >= p.purchase_ts - INTERVAL 24 HOURS),
        |k AS (SELECT *, 1000000 // (1 + age_h) AS tw FROM j),
        |m AS (SELECT *, sum(tw) OVER (PARTITION BY purchase_id) AS w_sum,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY view_ts, view_id) AS rn
        |  FROM k),
        |b AS (SELECT *, tw * 10000 // w_sum AS bp0,
        |    sum(tw * 10000 // w_sum) OVER (PARTITION BY purchase_id) AS bp_sum
        |  FROM m),
        |c AS (SELECT view_ts, value_c, bp0 + CASE WHEN rn = 1
        |    THEN 10000 - bp_sum ELSE 0 END AS bp
        |  FROM b)
        |SELECT CAST(view_ts AS DATE) AS view_day,
        |  CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(bp) AS BIGINT) AS sum_bp,
        |  CAST(sum(value_c * bp // 10000) AS BIGINT) AS credit_c
        |FROM c GROUP BY 1""".stripMargin,

    // correlated EXISTS: orders in the quarter with at least one line
    // shipped >45 days after the order date, counted once per order
    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
        |GROUP BY 1""".stripMargin,

    "q7_nation_volume" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT)
        |    AS revenue_e4
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01'
        |  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        |    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name,
        |  CAST(r.total_rev * 10000 AS BIGINT) AS total_rev_e4
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT)
        |    AS rev_e4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  AND ((p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 10
        |        AND l.l_quantity BETWEEN 1 AND 15)
        |    OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 5 AND 20
        |        AND l.l_quantity BETWEEN 10 AND 30)
        |    OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 10 AND 40
        |        AND l.l_quantity BETWEEN 20 AND 50))""".stripMargin,

    // Both CMS verdict columns are TRUE by construction (merge is
    // counter-additive with seed-fixed hashes; collisions only inflate),
    // so the oracle pins them as count(*); the exact recount side pins
    // the data.
    "q_cms_audit" ->
      """WITH w AS (SELECT c_custkey FROM customer WHERE c_nationkey = 0),
        |e AS (SELECT w.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n
        |  FROM w LEFT OUTER JOIN orders o ON o.o_custkey = w.c_custkey
        |  GROUP BY w.c_custkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(count(*) AS BIGINT) AS n_merge_equal,
        |  CAST(count(*) AS BIGINT) AS n_est_ge_exact,
        |  CAST(coalesce(sum(n), 0) AS BIGINT) AS sum_exact_n
        |FROM e""".stripMargin,

    // The JDBC write + partitioned readback must round-trip the daily
    // aggregate unchanged — same oracle as the in-memory form.
    "q_jdbc_partitioned" ->
      """SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_event_gaps" ->
      """WITH g AS (SELECT event_type,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
        |  CAST(sum(gap_us) AS BIGINT) AS total_gap_us
        |FROM g WHERE gap_us IS NOT NULL GROUP BY event_type""".stripMargin,

    "q_gap_fill" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hr, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
        |grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr,
        |  et.event_type
        |  FROM bounds, (SELECT DISTINCT event_type FROM events) et),
        |j AS (SELECT g.hr, g.event_type, coalesce(h.n, 0) AS n, h.total_value
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.hr = h.hr AND g.event_type = h.event_type)
        |SELECT strftime(CAST(hr AS TIMESTAMP), '%Y-%m-%d %H:00') AS hour,
        |  event_type, CAST(n AS BIGINT) AS n,
        |  last_value(total_value IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value
        |FROM j""".stripMargin,

    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |lead(o_orderkey, 1) OVER w AS next_order,
        |lag(o_orderkey, 1) OVER w AS prev_order,
        |CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |  AND CURRENT ROW) AS first_order,
        |nth_value(o_orderkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |  AND CURRENT ROW) AS second_order,
        |round(percent_rank() OVER w, 6) AS pr,
        |round(cume_dist() OVER w, 6) AS cd
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT ev.user_id, min(us) AS click_us FROM ev JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > view_us GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, min(us) AS purchase_us FROM ev JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > click_us GROUP BY ev.user_id)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p""".stripMargin,

    // The salted join must equal the plain join — that equality IS the
    // pattern's correctness claim.
    "q_join_salted" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    // Each stage must land within 1h of the previous one.
    "q_funnel_1h" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT ev.user_id, min(us) AS click_us FROM ev JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > view_us
        |    AND us <= view_us + 3600000000 GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, min(us) AS purchase_us FROM ev JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > click_us
        |    AND us <= click_us + 3600000000 GROUP BY ev.user_id)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click_1h', count(*) FROM c
        |UNION ALL SELECT '3_purchase_1h', count(*) FROM p""".stripMargin,

    // Decimal-exact sums, one double division per group.
    "q_revenue_share" ->
      """WITH bn AS (SELECT n_name,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |t AS (SELECT sum(rev_dec) AS total_dec FROM bn)
        |SELECT n_name, CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(round(CAST(rev_dec AS DOUBLE) / CAST(total_dec AS DOUBLE), 6) AS DOUBLE) AS share
        |FROM bn, t""".stripMargin,

    // Same union+window as-of construction as the Spark side (NOT DuckDB's
    // native ASOF JOIN) so tie-breaking is bit-identical. The native
    // Catalyst-operator variant shares the oracle: same semantics, two
    // independent engine-side constructions checked against one SQL.
    "q_asof_join" -> asofOracleSql,
    "q_asof_join_native" -> asofOracleSql
  )

  private lazy val ordersSummarySql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
      |  CAST(min(o_orderdate) AS DATE) AS first_day,
      |  CAST(max(o_orderdate) AS DATE) AS last_day
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  private lazy val asofOracleSql: String =
      """WITH ev AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |), m AS (
        |  SELECT *,
        |    last_value(CASE WHEN is_view = 1 THEN event_id END IGNORE NULLS)
        |      OVER w AS last_view_id,
        |    last_value(CASE WHEN is_view = 1 THEN ts_us END IGNORE NULLS)
        |      OVER w AS last_view_us
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, is_view DESC, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id AS purchase_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  last_view_id AS view_id,
        |  (ts_us - last_view_us) // 1000000 AS gap_seconds
        |FROM m WHERE is_view = 0""".stripMargin
}
