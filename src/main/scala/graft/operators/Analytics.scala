package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Relational analytics operators over the star schema (SURVEY.md §2.I:
  * joins, aggregates, rollups, top-k, windows, set ops). These extend the
  * reference surface — the reference's only SQL is INSERT/SELECT * — but
  * reuse its semantics: exact decimal arithmetic everywhere money flows
  * (reference `README.md:292`), never Double.
  *
  * Scale notes (designed for 100 TB, tested at sf0.1):
  *   - Aggregations are hash aggregates with map-side partial combine;
  *     group counts here are tiny (≤ cardinality of flag×status), so the
  *     shuffle moves partial buffers, not rows.
  *   - Joins: dimension tables (nation 25 rows, region 5) are explicitly
  *     `broadcast()`; the lineitem⋈orders fact-fact join shuffles on the
  *     join key and AQE handles skew/coalescing at runtime.
  *   - Top-k compiles to TakeOrderedAndProject: per-partition heaps of k
  *     rows, no global sort, no full shuffle.
  *   - Windows shuffle once on the partition key; all window functions
  *     over the same (key, order) share that single exchange.
  */
object Analytics {

  /** Exact money type: the data carries 2-decimal values (verified across
    * all double columns), so DECIMAL(18,2) ingests them losslessly.
    *
    * Output discipline: arithmetic stays exact DECIMAL end-to-end, but
    * every FINAL projection casts to DOUBLE/BIGINT — decimal-typed output
    * columns hash differently between engines in the driver's float-repr
    * canonicalization (round-1 lesson: 21 value-correct queries hash-red
    * purely on trailing-zero/integral decimal rendering).
    */
  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** I7/q1 — pricing summary (TPC-H Q1 shape): scan-heavy group-by with
    * exact decimal sums. One wide scan, map-side combine, 6-group result.
    *
    * The (1±x) factors are cast down to DECIMAL(4,2) — exact, the
    * source columns carry two fractional digits — so the three-way
    * charge product is DECIMAL(28,6) and never trips Spark's 38-cap
    * (left at the inferred (19,2) factor width, price×disc×tax infers
    * precision 58 and Spark silently rounds each ROW under
    * allowPrecisionLoss).
    *
    * The scale-4/6 sums ship as ×10⁴/×10⁶ fixed-point BIGINTs (the
    * pagerank pattern), NOT doubles: at sf1 the exact charge sum is
    * 5.2e16 micro-units — past 2⁵³, where adjacent doubles are 7.6e-6
    * apart — so a double output column physically cannot hold the
    * exact answer and the two engines' (both correct!) conversions
    * landed on ADJACENT doubles. The scale-2 sums stay human-readable
    * doubles: their scaled integers sit under 2⁵³ until ~$9e13 of
    * revenue per group, and the single ÷100 conversion is correctly
    * rounded from an exactly-representable integer on both engines.
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val discF = (lit(1) - dec("l_discount")).cast("decimal(4,2)")
    val taxF = (lit(1) + dec("l_tax")).cast("decimal(4,2)")
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        (sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          * lit(10000)).cast("long").as("sum_disc_price_e4"),
        (sum(dec("l_extendedprice") * discF * taxF)
          * lit(1000000)).cast("long").as("sum_charge_e6"),
        count(lit(1)).as("n_rows"))
  }

  /** Incremental-rollup algebra — the lambda/kappa maintenance pattern a
    * 100 TB warehouse lives on: per-day PARTIAL aggregates (the state an
    * incremental pipeline persists per ingest batch) merged into the
    * final rollup using only algebraic re-aggregation — sum of sums,
    * sum of counts, min of mins, max of maxes, avg re-derived from
    * merged sum/count at the end. Decimal partials keep the merge
    * exact, so the result is bit-identical to a from-scratch aggregate
    * over all history — which is exactly what the oracle computes. New
    * data only ever touches its own day's partial; history is never
    * rescanned.
    */
  def mergePartialAggs(spark: SparkSession, sfDir: String): DataFrame = {
    val partials = Tables.lineitem(spark, sfDir)
      .groupBy(to_date(col("l_shipdate")).as("ship_day"), col("l_returnflag"))
      .agg(
        sum(dec("l_quantity")).as("p_qty"),
        sum(dec("l_extendedprice")).as("p_price"),
        count(lit(1)).as("p_rows"),
        min(dec("l_discount")).as("p_min_disc"),
        max(dec("l_discount")).as("p_max_disc"))
    partials
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("p_qty")).cast("double").as("sum_qty"),
        sum(col("p_price")).cast("double").as("sum_base_price"),
        sum(col("p_rows")).as("n_rows"),
        min(col("p_min_disc")).cast("double").as("min_disc"),
        max(col("p_max_disc")).cast("double").as("max_disc"),
        round(sum(col("p_qty")).cast("double") / sum(col("p_rows")), 6)
          .as("avg_qty"))
  }

  /** I6 — star-schema enrichment join: lineitem⋈orders (fact-fact,
    * shuffle) then customer (shuffle at scale) and nation/region
    * (broadcast — 25 and 5 rows at any scale factor). The orderdate
    * predicate pushes down to the orders parquet scan before the join.
    */
  def revenueByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01")
        && col("o_orderdate") < lit("1997-01-01"))
    val cust = Tables.customer(spark, sfDir)
    val nat = broadcast(Tables.nation(spark, sfDir))
    val reg = broadcast(Tables.region(spark, sfDir))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q5 shape (local supplier volume) — the CYCLIC join topology
    * the optimizer can't tree-decompose: lineitem⋈orders⋈customer and
    * lineitem⋈supplier meet again on c_nationkey = s_nationkey, so the
    * nation constraint flows through two independent join paths. Plan
    * shape at scale: the two fact-side joins (orders, supplier on their
    * keys) shuffle; nation/region broadcast at any scale factor (25/5
    * rows); the customer join is the remaining key shuffle and AQE picks
    * broadcast when the filtered side allows. The region filter prunes
    * via the broadcast join BEFORE the nation-equality cycle closes, so
    * only ASIA-nation rows reach the final constraint. Revenue stays
    * exact decimal until the last projection.
    */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01")
        && col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val nat = broadcast(Tables.nation(spark, sfDir))
    val reg = broadcast(Tables.region(spark, sfDir)
      .filter(col("r_name") === "ASIA"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q10 shape (returned-item customers): which customers returned
    * the most revenue in a quarter — filter→4-way join→aggregate→top-k.
    * Both filters push to their scans BEFORE any join (returns are a
    * small fraction of lineitem, one quarter a small fraction of
    * orders), nation broadcasts, and the top-k is TakeOrderedAndProject
    * on the EXACT decimal key (ties broken by customer key — no float
    * anywhere near the cut). Revenue ships ×10⁴ fixed-point.
    */
  def q10Returns(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01")
        && col("o_orderdate") < lit("1996-04-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .as("rev_dec"),
        count(lit(1)).as("n_items"))
      .orderBy(col("rev_dec").desc, col("c_custkey"))
      .limit(k)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        (col("rev_dec") * 10000).cast("long").as("rev_e4"), col("n_items"))
  }

  /** TPC-H Q14 shape (promotion effect): the share of one month's
    * revenue carried by promo parts — conditional aggregation over a
    * fact⋈dim join, the ratio formed from exact integer fixed-point
    * numerator/denominator (×10⁴ revenue units; the share itself in
    * ×10⁴ basis points by integer division). The date filter prunes the
    * lineitem scan; part joins on its key (AQE broadcasts the dim when
    * its runtime size allows).
    */
  def q14Promo(spark: SparkSession, sfDir: String): DataFrame = {
    // single-month query → the month-partitioned layout reads exactly
    // ONE partition directory (PartitionFilters on l_ship_month); the
    // row-level date band stays for boundary exactness
    val li = graft.sources.PartitionedTables.lineitemByShipMonth(spark, sfDir)
      .filter(col("l_ship_month") === "1996-01"
        && col("l_shipdate") >= lit("1996-01-01")
        && col("l_shipdate") < lit("1996-02-01"))
      .select(col("l_partkey"),
        (dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev"))
    li.join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast("decimal(12,2)"))) * 10000)
          .cast("long").as("promo_rev_e4"),
        (sum(col("rev")) * 10000).cast("long").as("total_rev_e4"),
        count(lit(1)).as("n_items"))
      .withColumn("promo_bp",
        expr("promo_rev_e4 * 10000 div total_rev_e4"))
  }

  /** I6/q19 — disjunctive-predicate join (TPC-H Q19 shape): the join
    * condition is an OR of three AND-bands mixing columns from BOTH
    * sides (brand × size-range × quantity-range). The planner test is
    * that Catalyst still extracts the common `l_partkey = p_partkey`
    * conjunct as the equi-join key (hash join, not a nested loop over
    * the disjunction) and pushes the single-side simplifications of the
    * OR (CNF conversion) into each scan — `p_size BETWEEN` bounds reach
    * the part scan, quantity bounds reach lineitem — so the disjunction
    * is only re-checked on join survivors.
    */
  def q19Disjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"),
        (dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev"))
    val pt = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val bands =
      (col("p_brand") === "Brand#4"
        && col("p_size").between(1, 10)
        && col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#17"
        && col("p_size").between(5, 20)
        && col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#19"
        && col("p_size").between(10, 40)
        && col("l_quantity").between(20, 50))
    li.join(pt, col("l_partkey") === col("p_partkey") && bands)
      .agg((sum(col("rev")) * 10000).cast("long").as("rev_e4"),
        count(lit(1)).as("n_items"))
  }

  /** I6/q4 — order-priority check (TPC-H Q4, adapted: the schema has no
    * commit/receipt dates, so "late" is a lineitem shipped more than 45
    * days after its order date). The shape under test is the CORRELATED
    * EXISTS — here declared directly as a LEFT SEMI join whose condition
    * mixes the equi key with a cross-side date inequality: Catalyst
    * extracts `l_orderkey = o_orderkey` as the hash-join key and keeps
    * the date comparison as the join residual, so each order is counted
    * once no matter how many late lines it has and the probe side is
    * never widened (semi joins emit the build row at FIRST match).
    *
    * Scale: the quarter filter prunes orders at its scan before the
    * only shuffle; lineitem ships just (l_orderkey, l_shipdate).
    */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    // quarter band → 3 of ~80 month partitions read (PartitionFilters)
    val o = graft.sources.PartitionedTables.ordersByMonth(spark, sfDir)
      .filter(col("o_month") >= "1996-01" && col("o_month") < "1996-04"
        && col("o_orderdate") >= lit("1996-01-01")
        && col("o_orderdate") < lit("1996-04-01"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    // the residual implies l_shipdate > min(o_orderdate) + 45 d =
    // 1996-02-15 — a lossless derived bound the partition layout can
    // prune on (the optimizer cannot derive cross-column bounds across
    // the join itself), cutting every pre-Feb-1996 ship month from the
    // 600 M-row probe side before it shuffles
    val li = graft.sources.PartitionedTables.lineitemByShipMonth(spark, sfDir)
      .filter(col("l_ship_month") >= "1996-02"
        && col("l_shipdate") > lit("1996-02-15"))
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("l_orderkey") === col("o_orderkey")
        && col("l_shipdate") > col("o_orderdate") + expr("interval 45 days"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** I6/q6 — the canonical scan benchmark (TPC-H Q6): no join at all —
    * one predicate-dense lineitem scan, every filter pushed to parquet
    * (shipdate range, discount band, quantity cap), one global exact-
    * decimal aggregate. This is the query whose cost IS the I/O path;
    * anything beyond scan+pushdown+partial-agg in the plan is a bug.
    */
  def q6Forecast(spark: SparkSession, sfDir: String): DataFrame =
    // the scan-benchmark query reads the month-partitioned layout: the
    // year band prunes to 12 of ~84 partition dirs before any footer
    graft.sources.PartitionedTables.lineitemByShipMonth(spark, sfDir)
      .filter(col("l_ship_month") >= "1996-01"
        && col("l_ship_month") < "1997-01"
        && col("l_shipdate") >= lit("1996-01-01")
        && col("l_shipdate") < lit("1997-01-01")
        // raw-double band FIRST so it reaches the parquet scan
        // (PushedFilters can't hold the decimal-cast form); the exact
        // decimal band below re-checks survivors for the contract
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && dec("l_discount").between(
          lit(BigDecimal("0.05")), lit(BigDecimal("0.07")))
        && col("l_quantity") < 24)
      .agg((sum(dec("l_extendedprice") * dec("l_discount")) * 10000)
          .cast("long").as("revenue_e4"),
        count(lit(1)).as("n_items"))

  /** I6/q8 — national market share (TPC-H Q8): the most join-dense
    * TPC-H topology expressible on this schema — lineitem joins orders,
    * part, supplier, customer, and NATION TWICE under different roles
    * (supplier's nation for the measure, customer's nation → region for
    * the filter). The share is a conditional-sum ratio inside one
    * aggregate, in integer basis points from exact decimal partials.
    * Dims broadcast; the fact pays its join shuffles once per fact-fact
    * edge and the two nation probes are both broadcast hash joins on
    * ALIASED copies — Catalyst plans them independently.
    */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1995-01-01")
        && col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val promoParts = Tables.part(spark, sfDir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val supNation = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val custRegion = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))),
        col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.region(spark, sfDir)
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(promoParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(custRegion, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_2", col("rev"))
          .otherwise(lit(0).cast("decimal(12,2)"))) * 10000)
          .cast("long").as("nation_rev_e4"),
        (sum(col("rev")) * 10000).cast("long").as("total_rev_e4"))
      .withColumn("share_bp",
        expr("nation_rev_e4 * 10000 div total_rev_e4"))
  }

  /** I6/q7 — bilateral trade volume (TPC-H Q7 shape): revenue shipped
    * between a nation PAIR, in both directions, per ship year. The
    * topology forces both ends of the fact row to resolve to a nation —
    * supplier side directly, customer side through orders — and the
    * pair filter is symmetric, so neither side's filter alone decides
    * membership.
    *
    * Scale: the nation-name filter is applied to each 25-row nation dim
    * BEFORE its broadcast join, so the supplier and customer probes
    * shrink to the two named nations' members and the orders⋈customer
    * join discards ~23/25 of orders before the fact shuffle. The
    * lineitem⋈orders join is the only fact-fact shuffle; the ship-year
    * column rides along from the scan (no post-join recompute).
    */
  def q7NationVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_2")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1995-01-01")
        && col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        (dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev"))
    val supN = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .filter(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val custN = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .filter(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    li.join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === "NATION_1"
          && col("cust_nation") === "NATION_2")
        || (col("supp_nation") === "NATION_2"
          && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg((sum(col("rev")) * 10000).cast("long").as("revenue_e4"))
  }

  /** I6/q15 — top supplier by quarterly revenue (TPC-H Q15 shape): a
    * grouped aggregate compared against ITS OWN global max — the
    * revenue view is referenced twice (once grouped, once reduced to a
    * scalar). The max ships back as a broadcast 1-row join, never a
    * partition-less window (the q_revenue_share discipline); the
    * equality is on exact DECIMAL, so a revenue tie returns every tied
    * supplier on both engines instead of an arbitrary winner.
    *
    * Scale: the aggregate is O(|suppliers|) rows. The twice-named view
    * re-runs its quarter-pruned scan + partial agg per reference
    * (verified: AQE plans the two shuffles separately, exchange reuse
    * does not fire across the differently-shaped consumers) — cheap
    * here, but the production form persists the O(|suppliers|) revenue
    * view once and reads it twice.
    */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    def revenue = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01")
        && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
        .as("total_rev"))
    val maxRev = revenue.agg(max(col("total_rev")).as("max_rev"))
    revenue.join(broadcast(maxRev), col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("total_rev") * 10000).cast("long").as("total_rev_e4"))
  }

  /** I6/q13 — customer order-count distribution (TPC-H Q13 shape): the
    * canonical OUTER-JOIN-then-aggregate-twice topology. The priority
    * filter lives in the JOIN CONDITION, not a WHERE — an outer-join
    * subtlety Catalyst must NOT push below the join (a WHERE would turn
    * the join inner and silently drop the zero-order customers that are
    * the whole point of the query).
    *
    * Scale: one shuffle on c_custkey for the outer join + first count
    * (both share the key), then the second aggregate groups by c_count —
    * cardinality ≤ max orders per customer, so it collapses to partial
    * buffers. No row ever carries more than two BIGINTs past the first
    * aggregate.
    */
  def q13CustDist(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    cust.join(ord,
        col("c_custkey") === col("o_custkey")
          && col("o_orderpriority") =!= "1-URGENT",
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** Count-min-sketch point-frequency audit — the last classic sketch in
    * the family (HLL = distinct, bloom = membership, space-saving =
    * top-k, KLL/GK = quantiles, CMS = POINT FREQUENCY). A 100 TB
    * pipeline answers "how many orders does THIS key have" from a
    * ~100 KB mergeable counter array instead of re-scanning the fact
    * table per lookup.
    *
    * The audit pins the two properties that make CMS usable distributed:
    *   1. MERGE EXACTNESS — a sketch built per half-partition and merged
    *      must answer every point query identically to a single-pass
    *      build (counters are additive, hash functions seed-determined),
    *      which is exactly the map-side-combine contract;
    *   2. NO UNDERESTIMATE — est ≥ exact for every key, with certainty
    *      (collisions only ever inflate counters).
    * Both verdicts are deterministic TRUE by construction, so the oracle
    * pins them as count(*); the estimates themselves stay out of the
    * contract (engine-internal sketch state), like the HLL audit. The
    * exact recount side is one aggregate + a bounded watchlist join.
    */
  def cmsPointCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val eps = 0.001; val conf = 0.9999; val seed = 42
    val whole = ord.stat.countMinSketch(col("o_custkey"), eps, conf, seed)
    val early = ord.filter(col("o_orderdate") < lit("1996-07-01"))
      .stat.countMinSketch(col("o_custkey"), eps, conf, seed)
    val late = ord.filter(col("o_orderdate") >= lit("1996-07-01"))
      .stat.countMinSketch(col("o_custkey"), eps, conf, seed)
    val merged = early.mergeInPlace(late)

    val estWhole = udf((k: Long) => whole.estimateCount(k))
    val estMerged = udf((k: Long) => merged.estimateCount(k))
    Tables.customer(spark, sfDir)
      .filter(col("c_nationkey") === 0).select(col("c_custkey"))
      .join(ord.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_exact")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        estWhole(col("c_custkey")).as("e_whole"),
        estMerged(col("c_custkey")).as("e_merged"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("e_whole") === col("e_merged"), 1L).otherwise(0L))
          .as("n_merge_equal"),
        sum(when(col("e_whole") >= col("n_exact"), 1L).otherwise(0L))
          .as("n_est_ge_exact"),
        sum(col("n_exact")).as("sum_exact_n"))
  }

  /** HLL cardinality with an exactness audit — the sketch every 100 TB
    * pipeline substitutes for COUNT(DISTINCT): approx_count_distinct
    * (HyperLogLog++, mergeable partials, one narrow pass instead of a
    * distinct shuffle) next to the exact count, emitting whether the
    * estimate landed inside 3× the configured 5% rsd. The oracle pins
    * the exact counts and asserts the audit verdict is `true` for every
    * group — Spark's HLL is deterministic on fixed data, so this is a
    * stable bound check, not a flaky tolerance. The estimate itself is
    * deliberately NOT an output column: it's implementation-defined
    * engine state, and pinning it would freeze a Spark version's sketch
    * internals into the contract.
    */
  def approxDistinctCheck(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.05).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact"))
          <= col("n_exact") * lit(0.15)).as("within_tol"))

  /** Approximate-median audit — the t-digest-style sketch every 100 TB
    * pipeline substitutes for an exact global sort: percentile_approx
    * (mergeable quantile summaries, one narrow pass) audited by its own
    * RANK guarantee. The estimate's exact rank — count(value ≤ v̂),
    * computed with one more aggregate over the same key partitioning —
    * must sit within the accuracy-parameter band around 0.5·n (±1% here
    * for accuracy=1000, tolerance 10× the nominal bound). All-integer
    * verdict arithmetic; the estimate itself stays out of the contract
    * (it is engine-internal sketch state), exactly like the HLL audit.
    */
  def approxPercentileCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val appr = ev.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("va"))
    ev.join(appr, "event_type")
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("n_values"),
        sum(when(col("value") <= col("va"), 1L).otherwise(0L)).as("n_le"))
      .select(col("event_type"), col("n_values"),
        (col("n_le") * 1000 >= col("n_values") * 490
          && col("n_le") * 1000 <= col("n_values") * 510).as("rank_ok"))
  }

  /** Mergeable quantile-sketch audit — [[graft.functions.QuantileSketchAgg]]
    * (deterministic MRL/KLL compactor ladder) estimating p25/p50/p75 of
    * integer-cents values per event type in ONE narrow pass, each
    * estimate then audited by its EXACT rank: count(value ≤ v̂) must sit
    * within ±5 points of the target fraction — 4× the sketch's worst-
    * case rank error at k=1024, so the verdict holds under any partial-
    * merge order Spark chooses. Same contract discipline as the HLL/CMS
    * audits: exact counts + verdicts in the contract, estimates out.
    * Where percentile_approx is the engine's built-in (q_approx
    * _percentile audits that one), this is the ENGINE-EXTENSION proof:
    * a custom TypedImperativeAggregate whose partials ride the normal
    * partial/final aggregation machinery — the only shape that answers
    * quantiles on 100 TB without a global sort.
    */
  def quantileSketchAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents.as("c"))
    val est = ev.groupBy(col("event_type"))
      .agg(graft.functions.QuantileSketch.quantile_sketch(col("c")).as("est"))
      .select(col("event_type"), col("est")(0).as("e25"),
        col("est")(1).as("e50"), col("est")(2).as("e75"))
    quantileRankAudit(ev, est)
  }

  /** Shared exact-rank audit tail for quantile estimates: given the
    * per-type (e25, e50, e75) estimates — however produced, batch
    * aggregate or streaming state snapshot — recompute each estimate's
    * exact rank over `ev` (event_type, c) and pin the ±5-point verdicts.
    */
  private[graft] def quantileRankAudit(ev: DataFrame, est: DataFrame): DataFrame = {
    def okBand(rank: org.apache.spark.sql.Column, lo: Int, hi: Int) =
      rank * 100 >= col("n_values") * lo && rank * 100 <= col("n_values") * hi
    ev.join(broadcast(est), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_values"),
        sum(when(col("c") <= col("e25"), 1L).otherwise(0L)).as("r25"),
        sum(when(col("c") <= col("e50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("c") <= col("e75"), 1L).otherwise(0L)).as("r75"))
      .select(col("event_type"), col("n_values"),
        okBand(col("r25"), 20, 30).as("p25_ok"),
        okBand(col("r50"), 45, 55).as("p50_ok"),
        okBand(col("r75"), 70, 80).as("p75_ok"))
  }

  /** KMV (k-minimum-values) distinct-count sketch, audited — the third
    * sketch family next to HLL (cardinality) and CMS/SpaceSaving
    * (frequency): keep the k smallest hash values per group; the kth
    * smallest, as a fraction of hash space, estimates density, so
    * n̂ = (k−1)/kmv. Where HLL gives a fixed-size register array, KMV's
    * charm is MERGEABILITY BY UNION (k-min of a union = k-min of pooled
    * k-mins) and exact set operations on the samples themselves.
    *
    * Declarative shape: the distinct (group, hash) aggregate partial-
    * combines map-side so the exchange carries distinct pairs, and the
    * rank-≤-k predicate compiles to WindowGroupLimit — each map task
    * pre-trims to ITS k smallest before the window exchange, the same
    * partial-top-k physics as the domain cap. The audit contract
    * mirrors the HLL one: exact count (recomputed from the same
    * distinct relation) + a tolerance verdict; the estimate itself
    * stays out of the hash contract. k=256 → σ ≈ n/√(k−2) ≈ 6.3%;
    * the 25% gate is ~4σ. Groups with < k distinct values carry the
    * full sample, so the "estimate" is exact there by construction.
    */
  def kmvDistinctAudit(spark: SparkSession, sfDir: String, k: Int = 256): DataFrame = {
    // 48-bit hash as a long: big enough that collisions are ~n²/2^48
    // (immaterial), small enough for exact integer arithmetic
    val hv = graft.functions.TextFunctions.md5Int(col("user_id").cast("string"), 12)
    val distinctHashes = Tables.events(spark, sfDir)
      .select(col("event_type"), hv.as("hv"))
      .groupBy(col("event_type"), col("hv")).agg(count(lit(1)).as("_n"))
      .select(col("event_type"), col("hv"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hv"))
    val sketch = distinctHashes
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_in_sketch"), max(col("hv")).as("kmv"))
      .select(col("event_type"),
        when(col("n_in_sketch") < k, col("n_in_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble * math.pow(2.0, 48)) / col("kmv"))
          .as("est"))
    // exact side counts USERS (the contract), not hashes — a 48-bit
    // collision would only nudge `est`, which the 4σ gate absorbs
    val exact = Tables.events(spark, sfDir).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(sketch, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * lit(0.25))
          .as("within_tol"))
  }

  /** Join-key skew profile — the diagnostic you run BEFORE deciding
    * whether a join needs salting/AQE-skew handling: per-key group
    * sizes reduced to the numbers that matter (key count, max group,
    * exact discrete p50/p90/p99 of group size, max/avg skew ratio in
    * ×1000 integer). The first aggregate shuffles the fact ONCE on the
    * key; everything after operates on one row per DISTINCT key — the
    * global rank sort is bounded by key cardinality, not fact volume,
    * which is exactly why a key profile is cheap where a row profile
    * is not. All-integer outputs (ceil-index percentile positions,
    * integer ratio) — nothing for engines to disagree on.
    *
    * The rank itself comes from [[DataPrep.withGlobalIndex]]'s
    * range-partition + prefix-sum (the q_exact_percentiles shape), NOT
    * `row_number()` over an empty-key window: "bounded by key
    * cardinality" stops being a defense when the join key is a fact id
    * with 10⁷–10⁸ distinct values, and the distributed rank costs the
    * same two scans here.
    */
  def skewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("c"))
    val n = broadcast(g.agg(count(lit(1)).as("n_keys"),
      sum(col("c")).as("total_rows"), max(col("c")).as("max_g")))
    val ranked = graft.operators.DataPrep
      .withGlobalIndex(g, Seq(col("c"), col("l_suppkey")))._1
      .withColumn("rn", col("global_idx") + 1)
    ranked.crossJoin(n)
      .agg(
        max(col("n_keys")).as("n_keys"),
        max(col("total_rows")).as("total_rows"),
        max(col("max_g")).as("max_g"),
        max(when(col("rn") === expr("(50 * n_keys + 99) div 100"), col("c")))
          .as("p50_g"),
        max(when(col("rn") === expr("(90 * n_keys + 99) div 100"), col("c")))
          .as("p90_g"),
        max(when(col("rn") === expr("(99 * n_keys + 99) div 100"), col("c")))
          .as("p99_g"))
      .withColumn("skew_x1000",
        expr("max_g * 1000 * n_keys div total_rows"))
  }

  /** Calendar dimension generator — the date dim every warehouse joins
    * against, derived from the fact table's own bounds so it never
    * drifts: one row per day between min and max order date with the
    * standard attributes. The bounds ride the plan as a broadcast 1-row
    * aggregate and `sequence` explodes INSIDE the plan — no driver
    * round-trip, grid size is calendar-bounded regardless of fact
    * volume (the q_gap_fill pattern, reified as a reusable dimension).
    */
  def calendarDim(spark: SparkSession, sfDir: String): DataFrame = {
    val bounds = broadcast(Tables.orders(spark, sfDir)
      .agg(to_date(min(col("o_orderdate"))).as("d0"),
        to_date(max(col("o_orderdate"))).as("d1")))
    bounds
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .select(col("day"),
        year(col("day")).as("year"),
        quarter(col("day")).as("quarter"),
        month(col("day")).as("month"),
        dayofweek(col("day")).as("dow"),
        (dayofweek(col("day")).isin(1, 7)).as("is_weekend"))
  }

  /** TPC-H Q3 shape (shipping priority): top-k unshipped orders by
    * revenue for one customer segment — the canonical
    * filter→join→aggregate→top-k OLAP headline. Both date predicates
    * push into their parquet scans before the joins; the segment
    * dimension broadcasts; revenue stays EXACT decimal through the sort
    * (ties impossible to mis-order across engines) and casts to double
    * only in the final projection. Top-k is TakeOrderedAndProject.
    *
    * Both fact sides read the MONTH-PARTITIONED layout
    * ([[graft.sources.PartitionedTables]]): the coarse month band
    * prunes whole partition directories at the file listing while the
    * exact date predicate keeps boundary rows right — at 100 TB the
    * orders side reads ~42/80 months and lineitem ~2/84 instead of
    * every file.
    */
  def q3Shipping(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val cutoff = "1998-06-30"
    val cust = broadcast(Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")))
    val ord = graft.sources.PartitionedTables.ordersByMonth(spark, sfDir)
      .filter(col("o_month") <= "1998-06"
        && col("o_orderdate") < lit(cutoff))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_orderpriority"))
    val li = graft.sources.PartitionedTables.lineitemByShipMonth(spark, sfDir)
      .filter(col("l_ship_month") >= "1998-06"
        && col("l_shipdate") > lit(cutoff))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // broadcast-prune orders by segment BEFORE the fact-fact shuffle:
    // the customer join is a narrow map-side filter, so only the
    // BUILDING fifth of orders pays the orderkey exchange (sf100
    // measured the unpruned order shuffling 5x the rows it needed)
    li.join(ord.join(cust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
        .as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("l_orderkey"))
      .limit(k)
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"),
        col("rev_dec").cast("double").as("revenue"))
  }

  /** TPC-H Q18 shape (large-volume orders): orders whose total quantity
    * clears a threshold — the aggregate-then-filter (HAVING) pattern —
    * enriched with their customer. The HAVING filter runs on the
    * aggregate BEFORE the customer join, so only qualifying orders
    * (a tiny fraction) reach it.
    */
  def largeOrders(spark: SparkSession, sfDir: String, minQty: Int = 150): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    big.join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("total_qty").cast("double").as("total_qty"))
  }

  /** Time-RANGE window frame — per user, each event's trailing-1-hour
    * value sum: `rangeBetween` over the event-time axis (a ROWS frame
    * counts rows; a RANGE frame covers an interval regardless of how
    * many events fall in it — the correct semantics for rate/volume
    * monitoring). One shuffle on the partition key; decimal-exact sums.
    */
  def trailingHourSum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-hourUs, 0)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), dec("value").as("v"))
      .withColumn("trailing_1h", sum(col("v")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("trailing_1h"))
  }

  /** I7 — hierarchical rollup: (flag, status) → flag subtotals → grand
    * total, with an explicit grouping id so the levels are addressable.
    */
  def pricingRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("int").as("gid"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** Co-located join via bucketing: both fact tables written bucketed +
    * sorted on the join key, then sort-merge-joined with NO exchange on
    * either side — at 100 TB this converts the dominant fact-fact
    * shuffle into a local merge per bucket. The `merge` hint pins SMJ so
    * the bucket layout (not broadcast) is what's exercised; the spec
    * asserts the executed plan is exchange-free above the scans.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // Bucketed-table prep is IDEMPOTENT per sfDir (names carry the sf
    // tag; write only if the catalog doesn't have the table yet):
    // bucketing exists precisely so the fact layout is paid for once and
    // every subsequent join is the exchange-free merge — re-bucketing
    // per query invocation is the anti-pattern at 100 TB (and was this
    // query's 30 s bench outlier: table prep, not the join).
    val tag = sfDir.hashCode.abs
    val wh = s"${sys.props("java.io.tmpdir")}/graft_bucketed_$tag"
    def prep(name: String, df: => DataFrame, key: String): Unit =
      if (!spark.catalog.tableExists(name)) {
        df.write.mode("overwrite").format("parquet")
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$wh/$name").saveAsTable(name)
      }
    val li = s"graft_li_bucketed_$tag"
    val ord = s"graft_ord_bucketed_$tag"
    prep(li, Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")), "l_orderkey")
    prep(ord, Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus")), "o_orderkey")
    spark.table(li)
      .hint("merge")
      .join(spark.table(ord),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("double").as("revenue"))
  }

  /** Revenue by part brand: fact ⋈ broadcast part dim on l_partkey —
    * the canonical star-schema probe (dim broadcast, fact never
    * shuffles for the join; the only exchange is the small group-by).
    */
  def partBrandRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("double").as("revenue"))

  /** Revenue by supplier nation: fact ⋈ broadcast supplier ⋈ broadcast
    * nation — a two-hop dim chain resolved entirely map-side.
    */
  def supplierNationRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("double").as("revenue"))

  /** Full cube over (flag, status) — all four grouping levels. */
  def pricingCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("int").as("gid"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** Full outer join: every customer and every 1997 order, matched where
    * possible — exercises null-completing join sides + coalesce.
    */
  def customerOrdersOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val ord = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("spend"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0d)).as("spend"))
  }

  /** Top-k: highest-value orders, deterministic tie-break on the key.
    * Plans as TakeOrderedAndProject — no global sort at any scale.
    */
  def topOrders(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** Window ranking: top-3 orders per customer. One shuffle on custkey;
    * rank + filter prune inside the window operator.
    */
  def topOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
  }

  /** Running per-customer spend — cumulative window aggregate with exact
    * decimals, ordered by (date, key) for determinism.
    */
  def runningSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec("o_totalprice")).over(w).cast("double").as("running_spend"))
  }

  /** Semi/anti joins: segment customers by 1996 order activity. At scale
    * these stay shuffle joins on the key; no data is widened (semi/anti
    * never duplicate the probe side).
    */
  def customerActivity(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val o96 = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01")
        && col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_custkey"))
    val active = cust.join(o96, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("active_1996").as("status"))
    val inactive = cust.join(o96, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("inactive_1996").as("status"))
    active.unionByName(inactive)
  }

  /** Set operations: market segments present in both 1995 and 1997 order
    * cohorts (intersect) and the 1995-only remainder (except).
    */
  def segmentSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    // Each cohort is materialized once (localCheckpoint): intersect AND
    // except both consume both cohorts, and without the barrier each of
    // the four set-op legs would re-run the join+distinct — 8 scans
    // instead of 2 in the executed plan.
    def seg(yr: Int) = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
        .filter(year(col("o_orderdate")) === yr).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .localCheckpoint()
    val s95 = seg(1995); val s97 = seg(1997)
    val both = s95.intersect(s97).withColumn("set_op", lit("in_both"))
    val only95 = s95.except(s97).withColumn("set_op", lit("only_1995"))
    both.unionByName(only95)
  }

  /** Relational pivot: linestatus columns out of rows, exact sums. The
    * pivot values are declared (F/O), so the plan is a single hash
    * aggregate with conditional sums — no extra pass at any scale.
    */
  def pricingPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec("l_quantity")).cast("double"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")

  /** Skew-resistant two-stage aggregation: salt the hot key, partial-sum
    * per (key, salt), then merge partials per key. Results are exactly
    * the plain group-by (decimal sums are associative) — the oracle
    * checks that — while the shuffle fans a skewed key across 8 reducers
    * instead of one. The manual form of what AQE skew-join does for
    * joins, applicable to aggregations.
    */
  def saltedAgg(spark: SparkSession, sfDir: String, salts: Int = 8): DataFrame =
    Tables.lineitem(spark, sfDir)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(salts)))
      .groupBy(col("l_partkey"), col("salt"))
      .agg(sum(dec("l_quantity")).as("part_qty"), count(lit(1)).as("part_n"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("part_qty")).cast("double").as("sum_qty"),
        sum(col("part_n")).as("n_rows"))

  /** Scalar-function surface over the nation dimension: string ops,
    * integer math, null handling — the everyday builtins a user of any
    * engine expects, all with engine-portable semantics (no locale-
    * dependent or implementation-defined functions).
    */
  def scalarFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir).select(
      col("n_nationkey"),
      upper(col("n_name")).as("up"),
      lower(col("n_name")).as("lo"),
      reverse(col("n_name")).as("rev"),
      lpad(col("n_name"), 12, "*").as("padded"),
      substring(col("n_name"), 2, 3).as("sub23"),
      regexp_replace(col("n_name"), "A", "@").as("subst"),
      length(col("n_name")).as("len"),
      concat(col("n_name"), lit("#"), col("n_regionkey").cast("string")).as("tagged"),
      greatest(col("n_nationkey"), col("n_regionkey") * 5).as("biggest"),
      coalesce(nullif(col("n_regionkey"), lit(2)), lit(-1)).as("region_or_default"),
      abs(col("n_nationkey") - 12).as("dist12"),
      (col("n_nationkey") % 7).as("mod7"),
      sqrt(col("n_nationkey").cast("double")).as("root")) // sqrt is IEEE-exact

  /** Explicit grouping sets — the generalized form of rollup/cube:
    * flag-level totals, status-level totals, and the grand total in one
    * pass (Spark expands to a single Expand + hash aggregate).
    */
  def groupingSetsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_li_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS INT) AS gid,
        |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |count(*) AS n_rows
        |FROM graft_li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  /** Statistical moments per group — sample stddev/variance, correlation
    * and covariance between quantity and price, rounded to absorb
    * last-ulp summation-order differences.
    */
  def statsMoments(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))

  /** Exact percentiles (sort-based, linear interpolation) per group —
    * rounded so Spark's `percentile` and DuckDB's `quantile_cont` agree
    * through their last-ulp differences.
    */
  def quantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.95)"), 6).as("p95_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_price"))

  /** Winsorization — outlier clipping at the exact DISCRETE p05/p95 per
    * event type, the feature-hygiene pass a training pipeline runs
    * before normalizing numeric columns (a single corrupt 10⁹ reading
    * otherwise dominates a mean or a minmax scale). Discrete (ceil-rank
    * element) cuts, not interpolated: the cut IS a value from the data,
    * selected by pure integer rank arithmetic (`(5n+99) div 100`), so
    * both engines pick the identical element — interpolation would
    * manufacture a float midway through division. Clamped sums stay in
    * exact decimal cents.
    *
    * Shape: one event_type window shuffle (shared by rank and count),
    * a |types|-row cut table joined back broadcast, one final aggregate.
    * The per-type total order bounds this exact form to bounded-
    * cardinality group keys; the 100 TB path for wide keys is the
    * audited sketch (q_approx_percentile), same contract.
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val cuts = ranked.groupBy(col("event_type")).agg(
      max(when(col("rn") <= expr("(5 * n + 99) div 100"), col("value"))).as("lo"),
      max(when(col("rn") <= expr("(95 * n + 99) div 100"), col("value"))).as("hi"))
    val clipped = greatest(least(dec("value"), dec("hi")), dec("lo"))
    ranked.join(broadcast(cuts), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        (sum(clipped) * 100).cast("long").as("clipped_cents"))
  }

  /** Sketch SET ALGEBRA: distinct-user overlap of two behavior segments
    * by inclusion–exclusion over HLL sketches — |A∩B| ≈ |A|+|B|−|A∪B|
    * with the union taken by merging the two sketches, never
    * re-scanning raw ids. This is the segment-overlap question
    * (clickers who also purchase) answered from stored per-segment
    * sketches at 100 TB; exact counts ride the same single pass via
    * conditional countDistinct so the oracle pins them, and the
    * estimate stays OUT of the contract (engine sketch state) behind an
    * integer tolerance verdict — the house audit discipline.
    */
  def hllIntersect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .agg(
        countDistinct(when(col("event_type") === "click", col("user_id")))
          .as("n_click"),
        countDistinct(when(col("event_type") === "purchase", col("user_id")))
          .as("n_buy"),
        countDistinct(when(col("event_type").isin("click", "purchase"),
          col("user_id"))).as("n_union"),
        hll_sketch_agg(
          when(col("event_type") === "click", col("user_id"))).as("sk_a"),
        hll_sketch_agg(
          when(col("event_type") === "purchase", col("user_id"))).as("sk_b"))
      .select(col("n_click"), col("n_buy"),
        (col("n_click") + col("n_buy") - col("n_union")).as("n_both_exact"),
        (hll_sketch_estimate(col("sk_a"))
          + hll_sketch_estimate(col("sk_b"))
          - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .as("est"))
      .select(col("n_click"), col("n_buy"), col("n_both_exact"),
        (abs(col("est") - col("n_both_exact"))
          <= col("n_both_exact") * lit(0.2) + lit(5)).as("within_tol"))

  /** Referential-integrity audit across the star schema's FK spokes —
    * the trust-but-verify pass before joins are allowed to assume
    * containment (a broadcast inner join silently DROPS orphaned fact
    * rows; this query is what tells you whether that loss is zero).
    * Each FK costs one LEFT ANTI probe with the dimension side
    * broadcast where small; counts land in one long-format report.
    */
  def fkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def orphans(name: String, fact: DataFrame, factKey: String,
        dim: DataFrame, dimKey: String): DataFrame = {
      val n = fact.count()
      fact.join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("fk"), lit(n).as("n_fact_rows"),
          col("n_orphans"))
    }
    orphans("lineitem.l_orderkey->orders",
        Tables.lineitem(spark, sfDir).select(col("l_orderkey")),
        "l_orderkey", Tables.orders(spark, sfDir), "o_orderkey")
      .unionAll(orphans("orders.o_custkey->customer",
        Tables.orders(spark, sfDir).select(col("o_custkey")),
        "o_custkey", Tables.customer(spark, sfDir), "c_custkey"))
      .unionAll(orphans("customer.c_nationkey->nation",
        Tables.customer(spark, sfDir).select(col("c_nationkey")),
        "c_nationkey", Tables.nation(spark, sfDir), "n_nationkey"))
  }

  /** Right-to-erasure propagation (the GDPR/CCPA deletion pass): a
    * bounded deletion list fans out across every table keyed by the
    * subject, and the ledger reports per-table before/deleted/after
    * counts — the audit artifact a compliance run must emit. The
    * deletion list BROADCASTS (it is always tiny next to the fact
    * tables), each table pays one scan with the membership test as a
    * map-side semi/anti probe, and nothing reshuffles fact data; the
    * actual rewrite at scale is `q_backfill_partition`'s dynamic
    * partition overwrite applied to the partitions the ledger names.
    */
  def userErasure(spark: SparkSession, sfDir: String): DataFrame = {
    val del = broadcast(Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("k")))
    def ledger(name: String, df: DataFrame, key: String): DataFrame =
      df.join(del, col(key) === col("k"), "left")
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_deleted"))
        .select(lit(name).as("table_name"), col("n_before"),
          col("n_deleted"),
          (col("n_before") - col("n_deleted")).as("n_after"))
    ledger("customer", Tables.customer(spark, sfDir), "c_custkey")
      .unionAll(ledger("orders", Tables.orders(spark, sfDir), "o_custkey"))
  }

  /** Sliding-window distinct from STORED daily sketches: 7-day rolling
    * distinct users per day answered by unioning seven daily HLL
    * sketches — the window-algebra form. Raw events aggregate into
    * |days| sketches ONCE; every window after that unions constant-size
    * sketch blobs, so a year of 7-day windows costs 365 scans of
    * nothing but sketch rows — the only affordable rolling-distinct at
    * 100 TB (distinct does not decompose over windows; sketches do).
    * The day×day range join is bounded by |days|², and the exact
    * audit rides (day, user) DISTINCT pairs joined to the same spine —
    * bounded by days × users, the audit's cost, not the query's.
    * Estimate out of the contract behind the tolerance verdict.
    */
  def hllSliding(spark: SparkSession, sfDir: String, window: Int = 7): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = daily.as("a")
      .join(daily.as("b"),
        datediff(col("a.day"), col("b.day")).between(0, window - 1))
      .groupBy(col("a.day").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("b.sk"))).as("est"))
    val exact = ev.distinct().as("u")
      .join(daily.select(col("day").as("d")).as("s"),
        datediff(col("s.d"), col("u.day")).between(0, window - 1))
      .groupBy(col("s.d").as("day"))
      .agg(countDistinct(col("u.user_id")).as("n_exact"))
    exact.join(est, "day")
      .select(col("day").cast("string").as("day"), col("n_exact"),
        (abs(col("est") - col("n_exact"))
          <= col("n_exact") * lit(0.1) + lit(5)).as("within_tol"))
  }

  /** CUSUM changepoint detection on the daily event volume — the
    * level-shift monitor beside [[anomalyMad]]'s spike fence: a
    * sustained small upward drift that never trips a per-day outlier
    * fence accumulates in S_t = max(0, S_{t−1}) + (x_t − μ) (Page 1954,
    * public literature; this restart-at-zero variant has the same
    * positive maxima as the fully-clipped form). The recursion is NOT
    * run sequentially — it has the closed form
    * S_t = P_t − min(0, min_{j<t} P_j) over prefix sums
    * P of the centered series, so the whole detector is two windows
    * (prefix sum + running min), both PARTITIONED by event_type and
    * bounded by |days|. Centering is exact: d_i = n·x_i − Σx (the
    * per-type mean multiplied through by n), so every P and S is an
    * exact n-scaled BIGINT and the argmax day — the detected
    * changepoint — is engine-independent, ties to the earliest day.
    *
    * Scale shape: the corpus collapses to (type, day) counts in one
    * map-side-combined aggregate; windows and the final argmax run on
    * the |types|×|days| table. s_max is n-scaled (divide by n_days for
    * the mean-units magnitude); the detected day is where the maximum
    * cumulative positive drift ends.
    */
  def cusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val perType = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("t_x"))
    val wSum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val s = daily.join(broadcast(perType), "event_type")
      .withColumn("d", col("n_days") * col("x") - col("t_x"))
      .withColumn("p", sum(col("d")).over(wSum))
      .withColumn("base", least(lit(0L), coalesce(min(col("p")).over(wPrev), lit(0L))))
      .withColumn("s_t", col("p") - col("base"))
    val sMax = s.groupBy(col("event_type")).agg(max(col("s_t")).as("s_max"))
    s.join(sMax, "event_type")
      .filter(col("s_t") === col("s_max"))
      .groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"), max(col("s_max")).as("s_max"),
        min(col("day")).cast("string").as("cp_day"))
      .select(col("event_type"), col("n_days"), col("s_max"), col("cp_day"))
  }

  /** Theil–Sen robust trend — the slope companion to [[cusumChangepoint]]
    * (level shift) and [[anomalyMad]] (spikes): the median of all
    * pairwise slopes (x_j − x_i)/(t_j − t_i) over the daily volume
    * series, the estimator with a 29% breakdown point where OLS is
    * dragged by a single anomalous day (Theil 1950 / Sen 1968, public
    * literature). Slopes are ×10⁶ fixed-point integers via the
    * positive-offset floor trick ((num·10⁶ + K·den) div den − K with
    * K = 10¹⁴) so TRUNC-vs-FLOOR integer division can never split
    * engines on a negative slope, and the median is the exact discrete
    * rank-(n+1) div 2 pick under a fully deterministic total order
    * (slope, num, den, t_i, t_j) — the winsorize/MAD selection rule.
    *
    * Scale shape: the corpus collapses to (type, day) counts first;
    * the pair join and the rank window are PARTITIONED by type and
    * bounded by |days|² (~10⁶ pairs even at three years of daily
    * points — this never touches corpus rows). For decade-scale series
    * swap in the repeated-median variant per t_i; same plan shape.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val t0 = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), count(lit(1)).as("n_days"))
    val pts = daily.join(broadcast(t0), "event_type")
      .select(col("event_type"), col("n_days"),
        datediff(col("day"), col("d0")).cast("long").as("t"), col("x"))
    val pairs = pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type")
          && col("a.t") < col("b.t"))
      .select(col("a.event_type").as("event_type"),
        col("a.n_days").as("n_days"),
        (col("b.x") - col("a.x")).as("num"),
        (col("b.t") - col("a.t")).as("den"),
        col("a.t").as("ti"), col("b.t").as("tj"))
      .withColumn("slope_fp",
        expr("(num * 1000000 + 100000000000000 * den) div den" +
          " - 100000000000000"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope_fp"), col("num"), col("den"), col("ti"), col("tj"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1))
        .over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope_fp").as("med_slope_fp"))
  }

  /** Robust anomaly detection on the daily flow: median + MAD (median
    * absolute deviation) instead of mean + stddev — the detector that
    * still works when the anomalies themselves pollute the baseline
    * (one 100× day drags a mean-based z-score's threshold, but moves
    * the median not at all). Both medians are exact DISCRETE picks
    * (rank (n+1) div 2 under a deterministic total order, winsorize's
    * rule), deviations and the 3×MAD fence are exact integer cents —
    * both engines select the identical data elements, so the flag set
    * is bit-stable. Per-type total orders bound the windows by
    * |days|, not corpus size; the raw scan aggregates once.
    */
  def anomalyMad(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(col("ts")).cast("string").as("day"))
      .agg((sum(dec("value")) * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("day"))
    val ranked = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val med = ranked.filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("cents").as("med_cents"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("cents") - col("med_cents")))
    val wd = Window.partitionBy(col("event_type"))
      .orderBy(col("dev"), col("day"))
    val mad = dev
      .withColumn("rn", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad_cents"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        first(col("med_cents")).as("med_cents"),
        first(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") > col("mad_cents") * 3, 1L).otherwise(0L))
          .as("n_anomalies"))
  }

  /** Daily exact distinct users via the PUBLIC `Aggregator`/`udaf`
    * extension tier ([[graft.functions.BitmapDistinctAgg]]) — alongside
    * the exact COUNT(DISTINCT) so the oracle checks the bitmap path
    * bit-for-bit. The bitmap partial-aggregates map-side: each map task
    * ships one fixed-size bitmap per day, not its id stream — the
    * count-distinct shape that survives fan-in at 100 TB for bounded
    * id domains (unbounded domains use the audited HLL/KMV sketches).
    */
  def bitmapDistinctDaily(spark: SparkSession, sfDir: String): DataFrame = {
    // The bitmap capacity is the id ALLOCATOR's bound, not a fixture
    // constant: derive it here from max(user_id) (one map-side-combined
    // column scan — milliseconds next to the group-by) rounded up to a
    // power of two with 2× headroom, so the operator holds at any sf
    // instead of silently coupling to the sf1 id range. A production
    // caller passes its allocator's declared bound directly.
    val maxId = Tables.events(spark, sfDir)
      .agg(max(col("user_id"))).head().getLong(0)
    val capacity = java.lang.Long.highestOneBit(
      math.max(maxId * 2 + 1, 64L)).toInt * 2
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
    // The bitmap agg and the exact audit MUST be separate plans joined
    // on the |days|-row key, never one mixed `agg(bitmap, countDistinct)`:
    // Spark rewrites mixed distinct/non-distinct aggregates to run the
    // NON-distinct function's partial at (group, distinct-key)
    // granularity, which turns "one buffer per day per task" into one
    // capacity-sized buffer PER (day, user) GROUP — measured 280 GB of
    // buffer ser/de and 228 s at sf10 where the split form is ~6 s.
    // Also the hot path is the TypedImperativeAggregate tier (live
    // word-array buffer, serialized only at exchange boundaries); the
    // public-Aggregator tier stays as the library-user example,
    // spec-pinned equal (BitmapDistinctSpec / Round9OpsSpec).
    val bm = ev.groupBy(col("day"))
      .agg(graft.functions.BitmapDistinct
        .bitmapDistinctFast(col("user_id"), capacity)
        .as("n_users_bitmap"))
    val ex = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    bm.join(ex, "day")
      .select(col("day"), col("n_users_bitmap"), col("n_users_exact"))
  }

  /** Typed `KeyValueGroupedDataset.cogroup` — the Dataset API for
    * per-key logic over TWO co-partitioned streams without building the
    * join product: orders and their lineitems arrive as per-key
    * iterators after ONE hash shuffle per side, and the lambda emits
    * one reconciliation row per order (header total vs items gross,
    * item count). The logic here is deliberately relational-equivalent
    * so the LEFT JOIN + GROUP BY oracle checks it; cogroup's real
    * purchase is per-key code that ISN'T — sequence alignment, ordered
    * merges, per-key state machines — which rides this exact shuffle
    * shape. Amounts stay exact integer cents end-to-end.
    */
  def cogroupReconcile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        (dec("o_totalprice") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    val items = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      .as[(Long, Long)]
    orders.groupByKey(_._1).cogroup(items.groupByKey(_._1)) {
      (key, os, is) =>
        val o = os.toList
        if (o.isEmpty) Iterator.empty // item without header: not this row's job
        else {
          var n = 0L
          var gross = 0L
          is.foreach { i => n += 1; gross += i._2 }
          Iterator((key, o.head._2, gross, n))
        }
    }.toDF("o_orderkey", "total_cents", "gross_cents", "n_items")
  }

  /** Spark 4 `Dataset.transpose`: flip a small per-type metrics
    * aggregate so metrics become rows and event types become columns —
    * the report-layout step BI surfaces want without a client-side
    * pivot. Transpose is driver-bounded by design (the new column set
    * is the index column's VALUES), so it belongs strictly AFTER an
    * aggregation that bounds cardinality — here 5 event types × 2
    * metrics; the heavy lifting stays in the distributed aggregate.
    */
  def transposeMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(dec("value")) * 100).cast("long").as("total_cents"))
    wide.transpose(col("event_type"))
  }

  /** 2-D skyline (Pareto frontier) of the part catalog: the parts no
    * other part dominates on (cheaper-or-equal price, larger-or-equal
    * size, at least one strict). The naive formulation is an all-pairs
    * NOT EXISTS; this one is O(n log n) and distributed: aggregate to
    * per-price max size (hash shuffle), run the frontier scan as a
    * running-max window over the PRICE-DISTINCT aggregate — cardinality
    * bounded by |distinct prices|, not rows — and broadcast-join the
    * tiny frontier back to pick the winning parts. A price survives iff
    * its max size strictly beats every strictly-cheaper price's max;
    * equal-price equal-size parts are mutually non-dominating, so all
    * of them surface.
    *
    * The frontier scan is the TWO-PASS partition-prefix running max,
    * never a partition-less window: prices hash into B contiguous
    * value bands (integer cents arithmetic off broadcast bounds — no
    * float edge can move a band boundary), pass 1 takes each band's
    * max in a hash aggregate, the band-level prefix max is a
    * triangular join over the B-row band table (B² = constant), and
    * pass 2 runs the within-band running max as a window PARTITIONED
    * by band. prev_max = greatest(within-band prefix, previous bands'
    * max) — identical to the sequential scan, but every stage is
    * either bounded by the constant B or spread across B partitions.
    */
  def skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = 64
    val pp = Tables.part(spark, sfDir)
      .groupBy(col("p_retailprice")).agg(max(col("p_size")).as("msz"))
      .withColumn("cents",
        (col("p_retailprice").cast("decimal(12,2)") * 100).cast("long"))
    val bounds = broadcast(pp.agg(
      min(col("cents")).as("lo"), max(col("cents")).as("hi")))
    val banded = pp.crossJoin(bounds)
      .withColumn("band",
        expr(s"(cents - lo) * $bands div (hi - lo + 1)"))
      .select(col("p_retailprice"), col("msz"), col("cents"), col("band"))
    val bandMax = banded.groupBy(col("band")).agg(max(col("msz")).as("bmax"))
    // prefix max over STRICTLY EARLIER bands: B² pairs, B constant
    val prevBand = bandMax.as("cur")
      .join(bandMax.as("prev"), col("prev.band") < col("cur.band"), "left")
      .groupBy(col("cur.band").as("band"))
      .agg(max(col("prev.bmax")).as("prev_band_max"))
    val inBandW = Window.partitionBy(col("band"))
      .orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = banded
      .withColumn("prev_in_band", max(col("msz")).over(inBandW))
      .join(prevBand, Seq("band"), "left")
      // greatest() skips NULLs: first row of first band has neither
      .withColumn("prev_max",
        greatest(col("prev_in_band"), col("prev_band_max")))
      .filter(col("prev_max").isNull || col("msz") > col("prev_max"))
      .select(col("p_retailprice"), col("msz"))
    Tables.part(spark, sfDir)
      .join(broadcast(frontier),
        Seq("p_retailprice"))
      .filter(col("p_size") === col("msz"))
      .select(col("p_partkey"), col("p_brand"),
        col("p_retailprice"), col("p_size"))
  }

  /** Fixed-width histogram of order values — integer-exact bucketing
    * (floor of a double division is deterministic across engines).
    */
  def histogram(spark: SparkSession, sfDir: String, width: Double = 50000.0): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(floor(col("o_totalprice") / width).cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Exact distinct counting per group (the approx_count_distinct HLL
    * variant is exercised in the spec — approximate answers can't be
    * oracle-hashed).
    */
  def distinctCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))

  /** I5 — tumbling daily event aggregation (the streaming-shaped table's
    * batch form; `EventsStreaming` runs the same plan incrementally).
    */
  def eventsDaily(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec("value")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("total_value"))

  /** The date-banded production form of [[eventsDaily]] — a dashboard
    * never re-aggregates all of history; it asks for a week. The band
    * rides the day-partitioned layout ([[graft.sources
    * .PartitionedTables.eventsByDay]]): the coarse `e_day` predicate
    * prunes partition DIRECTORIES at the file listing (at 100 TB,
    * 7/30ths of the corpus is even listed, the rest never touches a
    * footer), while the exact `ts` row predicate keeps boundary
    * semantics — the layout contract. Under the size gate the same
    * code runs as a flat scan with a row filter.
    */
  def eventsDailyBand(spark: SparkSession, sfDir: String,
      fromDay: String = "2024-01-08", toDay: String = "2024-01-15"): DataFrame =
    graft.sources.PartitionedTables.eventsByDay(spark, sfDir)
      .filter(col("e_day") >= fromDay && col("e_day") < toDay)
      .filter(col("ts") >= lit(fromDay).cast("timestamp")
        && col("ts") < lit(toDay).cast("timestamp"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec("value")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("total_value"))

  /** SLIDING windows — each event lands in 24h/6h = 4 overlapping
    * windows (tumbling is the slide == width special case, covered by
    * `eventsDaily`). Spark expands the row per covering window before
    * the hash aggregate, so the shuffle grows by the overlap factor —
    * the reason production slides are small multiples, and the oracle
    * reproduces the same expansion arithmetically (window starts are
    * the 4 preceding 6-hour epoch slots).
    */
  def eventsSliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec("value")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("w_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Time-series gap fill + forward fill: the hourly event grid is made
    * dense (every hour × every event type, via one 1-row bounds
    * aggregate exploded into the calendar — no driver round-trip), then
    * missing hours take n = 0 and carry the last observed hourly total
    * forward (`last` with ignoreNulls over an ordered per-type window).
    * The standard resample→fill shape of time-series pipelines; grid
    * size is calendar × types, independent of event volume.
    */
  def eventsGapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec("value")).cast("double").as("total_value"))
    val bounds = hourly.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
    val grid = bounds
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hr"))
      .crossJoin(Tables.events(spark, sfDir).select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("hr", "event_type"), "left")
      .select(
        date_format(col("hr"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("total_value"), ignoreNulls = true).over(w).as("carried_value"))
  }

  /** Windowed-analytics breadth over orders: lead/lag, quartile ntile,
    * running first, positional nth, percent_rank/cume_dist — one
    * (custkey) exchange shared by every function.
    */
  def windowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.orders(spark, sfDir).filter(col("o_custkey") <= 100)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey")).over(run).as("first_order"),
        nth_value(col("o_orderkey"), 2).over(run).as("second_order"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
  }

  /** Inter-event interval statistics per event type: integer-microsecond
    * gaps between consecutive events of the same user+type — min/max/
    * count exact, the latency-profile query of an event stream.
    */
  def interEventGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us")).as("total_gap_us"))
  }

  /** Conversion funnel view → click → purchase: each stage's first time
    * must strictly follow the previous stage's. Three aggregations +
    * two key joins on user_id — at scale the joins reuse one hash
    * partitioning on the key. All-integer microsecond comparisons.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame =
    funnelChain(spark, sfDir, within = None, suffix = "")

  /** The funnel's one stage-chained min-aggregate: each stage is the
    * user's first event of its type strictly after the previous stage's
    * time and, with `within`, at most that many microseconds after it.
    * `suffix` labels the bounded stages.
    */
  private def funnelChain(spark: SparkSession, sfDir: String,
      within: Option[Long], suffix: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
    def next(prev: DataFrame, prevUs: String, t: String): DataFrame = {
      val after = col("event_type") === t && col("us") > col(prevUs)
      ev.join(prev, "user_id")
        .filter(within.fold(after)(b => after && col("us") <= col(prevUs) + b))
        .groupBy(col("user_id")).agg(min(col("us")).as(s"${t}_us"))
    }
    val c = next(v, "view_us", "click")
    val p = next(c, "click_us", "purchase")
    def stage(df: DataFrame, label: Column) =
      df.agg(count(lit(1)).as("n_users")).select(label.as("stage"), col("n_users"))
    stage(v, lit("1_view"))
      .unionByName(stage(c, lit(s"2_click$suffix")))
      .unionByName(stage(p, lit(s"3_purchase$suffix")))
  }

  /** Explicitly salted join — the skew pattern for when a hot key would
    * overwhelm one task and runtime skew-splitting (AQE) can't apply
    * (e.g. the build side can't be subdivided): the FACT side key gains
    * a deterministic salt `hash(row) % S`, the DIMENSION side replicates
    * each row S times (one per salt value), and the join runs on
    * (key, salt) — the hot key's rows spread across S tasks. Result is
    * provably identical to the unsalted join, which is what the oracle
    * checks. Replication cost is S × |dim|, paid only on the small side.
    */
  def saltedJoin(spark: SparkSession, sfDir: String, salts: Int = 8): DataFrame = {
    val fact = Tables.orders(spark, sfDir)
      .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(salts)).cast("int"))
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    fact.join(dim,
        col("o_custkey") === col("c_custkey") && fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("sum_total"))
  }

  /** Time-bounded funnel — the industry funnel definition: each stage
    * must follow the previous one WITHIN the conversion window (1 h
    * here); a purchase a week after the click is organic, not funnel
    * conversion. The same [[funnelChain]] as [[funnel]], with the upper
    * time bound added to each stage filter.
    */
  def funnelTimeBound(spark: SparkSession, sfDir: String): DataFrame =
    funnelChain(spark, sfDir, within = Some(3600L * 1000000L), suffix = "_1h")

  /** Share-of-total (ratio-to-report): each nation's revenue as a share
    * of the whole — the grand total rides the plan as a broadcast 1-row
    * aggregate (no partition-less window, which would funnel every row
    * through one task). Decimal-exact sums; one double division per
    * group at the end.
    */
  def revenueShare(spark: SparkSession, sfDir: String): DataFrame = {
    val byNation = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
        .as("rev_dec"))
    val total = broadcast(byNation.agg(sum(col("rev_dec")).as("total_dec")))
    byNation.crossJoin(total)
      .select(col("n_name"),
        col("rev_dec").cast("double").as("revenue"),
        round(col("rev_dec").cast("double") / col("total_dec").cast("double"), 6)
          .as("share"))
  }

  /** The session gap of every sessionizer, batch and streaming: a
    * user's next event more than this many microseconds after the
    * previous one opens a new session.
    */
  private[graft] val SessionGapUs: Long = 30L * 60 * 1000000
  /** [[SessionGapUs]] as a `session_window` gap duration. */
  private[graft] val SessionGap: String = s"${SessionGapUs / 1000000} seconds"

  /** `events` with an int `session_id`, numbering each user's sessions
    * from 1 in (ts, event_id) order: the user's first event and every
    * event more than [[SessionGapUs]] after its predecessor opens one —
    * gaps-and-islands with lag + running sum over one (user_id, ts)
    * exchange, the gap compared in integer microseconds.
    */
  private def withSessionId(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    events
      .withColumn("prev_us", lag(us, 1).over(byUser))
      .withColumn("new_session",
        (col("prev_us").isNull || (us - col("prev_us") > SessionGapUs)).cast("int"))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0))
          .cast("int"))
  }

  /** Sessionization: 30-minute-gap sessions per user ([[withSessionId]]).
    * The streaming analogue is `session_window` /
    * flatMapGroupsWithState.
    */
  def eventsSessionized(spark: SparkSession, sfDir: String): DataFrame =
    withSessionId(Tables.events(spark, sfDir))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        sum(dec("value")).cast("double").as("session_value"))

  /** Range join (point-in-interval / interval-overlap), by interval
    * decomposition: how many 30-min-gap sessions are ACTIVE in each hour
    * of the calendar. The naive formulation is an inequality join
    * (`grid.hr BETWEEN session.start AND session.end`) which Spark can
    * only run as a broadcast-nested-loop — O(sessions × hours). Instead
    * each session explodes into the hour buckets it covers (bounded by
    * session length / bucket width, here ≤ a few buckets) and the grid
    * joins EQUI on the bucket key — shuffle-hash scaling at 100 TB, with
    * bucket width as the knob trading explode factor against join
    * selectivity. Hours no session touches report 0.
    */
  def activeSessionsPerHour(spark: SparkSession, sfDir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val sessions = withSessionId(Tables.events(spark, sfDir))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("start_us"), max(unix_micros(col("ts"))).as("end_us"))
    val covered = sessions.select(
      explode(sequence(expr(s"start_us div $hourUs"), expr(s"end_us div $hourUs")))
        .as("hour_idx"))
      .groupBy(col("hour_idx")).agg(count(lit(1)).as("n_active"))
    val grid = sessions
      .agg(min(expr(s"start_us div $hourUs")).as("lo"), max(expr(s"end_us div $hourUs")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hour_idx"))
    grid.join(covered, Seq("hour_idx"), "left")
      .select(
        date_format(expr(s"timestamp_micros(hour_idx * $hourUs)"), "yyyy-MM-dd HH:00:00")
          .as("hour"),
        coalesce(col("n_active"), lit(0L)).as("n_active"))
  }

  /** Semi-structured props extraction: JSON field → typed column →
    * distribution. `get_json_object` evaluates inside codegen; no UDF.
    */
  def eventsPropsDistribution(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  /** Semi-structured props via the VARIANT type (Spark 4): `parse_json`
    * once into the binary variant encoding, then typed `variant_get`
    * path extraction — unlike `get_json_object`, the JSON text is parsed
    * ONCE per row no matter how many paths are later read, and the
    * open-schema column survives keys the pipeline has never seen
    * (`from_json` would need the schema declared up front; new keys
    * silently null out). At 100 TB, ingest-parse-once-then-bytes is the
    * difference between one text parse and one per downstream path.
    */
  def variantProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'int')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Ingest-gate metrics via `Observation`/`observe` — data-quality
    * counters collected as a CollectMetrics node INSIDE the ingest job's
    * own plan: zero extra scans, no second query racing the data. The
    * "ingest" here is a noop-format write (all partitions processed);
    * the RESULT is the observation itself — at scale these metrics feed
    * the expectations gate (`q_expectations`) without re-reading 100 TB.
    */
  def observedIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation("ingest_gate")
    Tables.lineitem(spark, sfDir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("n_bad_qty"),
        (sum(dec("l_extendedprice")) * 100).cast("long").as("sum_price_c"))
      .write.mode("overwrite").format("noop").save()
    val m = obs.get
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("n_bad_qty").asInstanceOf[Long],
      m("sum_price_c").asInstanceOf[Long]))
      .toDF("n_rows", "n_bad_qty", "sum_price_c")
  }

  /** RFM customer segmentation — the standard lifecycle-marketing
    * rollup: per-user Recency (days since last event), Frequency (event
    * count), Monetary (purchase cents), each cut into integer quartiles
    * and concatenated into a segment code ('444' = best). Each quartile
    * is NTILE semantics — but a bare `ntile(4) OVER (ORDER BY …)` is an
    * empty-key window: every user row lands on ONE task. Instead each
    * quartile is derived ARITHMETICALLY
    * ([[graft.operators.DataPrep.ntileFromRank]]) from a distributed
    * global rank and the user count that comes with it
    * ([[graft.operators.DataPrep.withGlobalIndex]]: range-partition +
    * local sort + broadcast prefix-sum — the `q_curriculum` pattern) —
    * bit-identical to the window form the oracle states, with ties
    * broken by user_id so every engine deals the same quartiles. The
    * three rank passes chain (no joins, no cache: the first pass's
    * checkpoint is the one materialization of the per-user aggregate);
    * recency orders by NEGATED last_us so every sort is ascending
    * (withGlobalIndex keys its offset lookup on per-partition MIN). All
    * three sorts are user-cardinality, never event-scale.
    *
    * SIZE-GATED (the PartitionedTables routing-gate discipline): the
    * three rank passes cost 18 build-time jobs of fixed overhead
    * (measured with `jobsOf` at sf0.01 and sf0.1; the window form
    * costs 2), a 4× regression at sf0.1 where users number 1.5k. Up
    * to `windowMaxEventRows` event rows (default 2 M — a single-task
    * sort still clears in ~1 s) the plan IS the oracle's three ntile
    * windows; above it the distributed rank passes take over. The gate
    * probe is the events row count — a parquet metadata-only count that
    * upper-bounds user cardinality without a pre-aggregation job.
    */
  def rfmSegments(spark: SparkSession, sfDir: String,
      windowMaxEventRows: Long = 2000000L): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("frequency"),
        sum(when(col("event_type") === "purchase",
          (dec("value") * 100).cast("long")).otherwise(lit(0L)))
          .as("monetary_c"))
    val eventRows = Tables.events(spark, sfDir).count() // metadata-only
    if (eventRows <= windowMaxEventRows) {
      import org.apache.spark.sql.expressions.Window
      def w(c: org.apache.spark.sql.Column) =
        Window.orderBy(c, col("user_id"))
      perUser.select(col("user_id"), col("frequency"), col("monetary_c"),
        concat(
          ntile(4).over(w(col("last_us").desc)).cast("string"),
          ntile(4).over(w(col("frequency"))).cast("string"),
          ntile(4).over(w(col("monetary_c"))).cast("string")).as("segment"))
    } else {
      // each rank pass materializes its input once (the prefix-sum
      // core's truncateLineage) and returns the user count with the rank
      def rankPass(df: DataFrame, key: String, out: String) = {
        val (indexed, n) =
          DataPrep.withGlobalIndex(df, Seq(col(key), col("user_id")))
        indexed.withColumn(out, DataPrep.ntileFromRank("global_idx", n, 4))
          .drop("global_idx")
      }
      val staged = rankPass(rankPass(rankPass(
        perUser.withColumn("neg_last_us", -col("last_us")), "neg_last_us", "r_q"),
        "frequency", "f_q"), "monetary_c", "m_q")
      staged.select(col("user_id"), col("frequency"), col("monetary_c"),
        concat(col("r_q").cast("string"), col("f_q").cast("string"),
          col("m_q").cast("string")).as("segment"))
    }
  }

  /** Event-type transition matrix — first-order Markov journey model:
    * P(next = b | cur = a) over each user's time-ordered stream, with
    * probabilities in integer basis points (count×10⁴ div row-total) so
    * both engines floor identically. One window pass (lead over the
    * per-user order) + one tiny aggregate; the matrix is |types|² rows
    * no matter how many events feed it.
    */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("cur")).agg(sum(col("n")).as("row_n"))
    pairs.join(totals, "cur")
      .select(col("cur"), col("nxt"), col("n"),
        expr("n * 10000 div row_n").as("p_bp"))
  }

  /** Mergeable-sketch rollup via the DataSketches HLL surface
    * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`) — the
    * pattern that makes distinct counts ROLLUP-ABLE: a daily materialized
    * table stores each day's user SKETCH (a few KB), and any coarser
    * grain (weekly here) is answered by UNIONING stored sketches —
    * exact distinct counts cannot be rolled up from partials at all
    * (|A ∪ B| ≠ |A| + |B|), so without sketches every new grain
    * re-scans raw history. Audited like the other sketch queries: the
    * contract carries the exact recount and the tolerance verdict, the
    * estimate stays engine-internal.
    */
  def hllRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val weekly = daily
      .groupBy(date_format(date_trunc("week", col("day")), "yyyy-MM-dd")
        .as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = Tables.events(spark, sfDir)
      .groupBy(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd")
        .as("week"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(weekly, "week")
      .select(col("week"), col("n_exact"),
        // HLL with default lgK=12 is far tighter than 5% at these
        // cardinalities; the verdict is the contract
        (abs(col("est") - col("n_exact")) * 20 <= col("n_exact"))
          .as("within_tol"))
  }

  /** The attribution family's one touch join: each purchase of
    * `purchases` paired with every view of `views` by the same user in its
    * 24 h lookback (`view_ts <= purchase_ts`, at most 24 h earlier).
    * Both inputs are event frames; `carry` adds purchase-side columns.
    */
  private def touches(views: DataFrame, purchases: DataFrame,
      carry: Column*): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val p = purchases.filter(col("event_type") === "purchase")
      .select(Seq(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts")) ++ carry: _*)
    p.join(v,
      col("user_id") === col("p_user")
        && col("view_ts") <= col("purchase_ts")
        && col("view_ts") >= col("purchase_ts") - expr("interval 24 hours"))
  }

  /** Each purchase's earliest [[touches]] touch (by view_ts, view_id).
    * The per-purchase rank filter plans as a partial WindowGroupLimit
    * exactly like the kNN join, so the interval join's
    * row-per-candidate output is pruned to one row per purchase per
    * input partition before the exchange.
    */
  private def firstTouch(views: DataFrame, purchases: DataFrame): DataFrame =
    touches(views, purchases)
      .withColumn("rn", row_number().over(Window.partitionBy(col("purchase_id"))
        .orderBy(col("view_ts"), col("view_id"))))
      .filter(col("rn") === 1)
      .select(col("purchase_id"), col("view_id").as("first_view_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("touch_to_buy_us"))

  /** First-touch attribution — each purchase credited to the EARLIEST
    * view in its 24 h lookback (the as-of join is the last-touch dual:
    * latest view before the event).
    */
  def firstTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    firstTouch(ev, ev)
  }

  /** Date-banded first-touch attribution — the production lookback
    * shape: attribute the purchases of ONE reporting band, not all of
    * history. Both scans ride the day-partitioned layout: purchases
    * prune to the band's day directories, views prune to the band
    * WIDENED by the 24 h lookback (one extra day on the left — the
    * days a band purchase can possibly touch). The exact `ts`
    * predicates and the interval join keep boundary semantics; the
    * `e_day` bands only decide which directories are listed. At 100 TB
    * this is the difference between joining a week against eight days
    * and joining a week against a year.
    */
  def firstTouchAttributionBand(spark: SparkSession, sfDir: String,
      fromDay: String = "2024-01-08", toDay: String = "2024-01-15"): DataFrame = {
    val ev = graft.sources.PartitionedTables.eventsByDay(spark, sfDir)
    val lookbackFrom = java.time.LocalDate.parse(fromDay).minusDays(1).toString
    firstTouch(
      ev.filter(col("e_day") >= lookbackFrom && col("e_day") < toDay),
      ev.filter(col("e_day") >= fromDay && col("e_day") < toDay)
        .filter(col("ts") >= lit(fromDay).cast("timestamp")
          && col("ts") < lit(toDay).cast("timestamp")))
  }

  /** Basis-point credit of the purchases of `ev` over their [[touches]],
    * rolled up per view day. Each touch earns `tw * 10000 div Σtw` bp of
    * its purchase for weight `tw`, and the floor remainder goes to the
    * earliest touch, so each purchase sums to exactly 10000 bp and every
    * credited cent is integer-exact — distributed summation order cannot
    * move a thing. All three windows (Σtw, Σbp, time rank) share one
    * purchase_id exchange+sort; the rollup then shuffles only (day,
    * credit) longs.
    */
  private def creditByViewDay(ev: DataFrame, tw: Column): DataFrame = {
    val w = Window.partitionBy(col("purchase_id"))
    touches(ev, ev, (dec("value") * 100).cast("long").as("value_c"))
      .withColumn("tw", tw)
      .withColumn("w_sum", sum(col("tw")).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("view_ts"), col("view_id"))))
      .withColumn("bp0", expr("tw * 10000 div w_sum"))
      .withColumn("bp_sum", sum(col("bp0")).over(w))
      .withColumn("bp", col("bp0")
        + when(col("rn") === 1, lit(10000) - col("bp_sum")).otherwise(lit(0)))
      .groupBy(to_date(col("view_ts")).as("view_day"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("bp")).as("sum_bp"),
        sum(expr("value_c * bp div 10000")).as("credit_c"))
  }

  /** Linear multi-touch attribution — the fractional dual of
    * [[firstTouchAttribution]]: each purchase's credit splits EQUALLY
    * across every view in its 24 h lookback ([[creditByViewDay]] with
    * weight 1: `10000 div n` bp per touch).
    */
  def linearAttribution(spark: SparkSession, sfDir: String): DataFrame =
    creditByViewDay(Tables.events(spark, sfDir), lit(1L))

  /** Time-decay multi-touch attribution — completes the attribution
    * family (first-touch / linear / decay): recent touches earn more
    * credit. The decay weight is HYPERBOLIC in whole hours of age —
    * `1e6 div (1 + age_h)` — pure integer floor-division, because an
    * exponential `pow(2, -age/halflife)` double would make credit
    * splits hostage to last-ulp `pow` differences across engines.
    */
  def decayAttribution(spark: SparkSession, sfDir: String): DataFrame =
    creditByViewDay(Tables.events(spark, sfDir), expr(
      "1000000 div (1 + (unix_micros(purchase_ts) - unix_micros(view_ts)) div 3600000000)"))

  /** I6/q9 — product-line profit by nation and year (TPC-H Q9 shape,
    * adapted: the schema has no partsupp, so supply cost is modeled as
    * 80% of the part's retail price — the join topology, the LIKE
    * part filter, and the two-term profit expression are the point).
    * Profit stays exact DECIMAL end-to-end and ships ×10⁴ fixed-point.
    * Scale: the LIKE-filtered part dim (carrying retailprice into the
    * profit expression) and the supplier→nation chain both broadcast;
    * the only fact-fact shuffle is lineitem⋈orders.
    */
  def q9Profit(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        dec("l_extendedprice").as("ep"), dec("l_discount").as("disc"),
        dec("l_quantity").as("qty"))
    val parts = Tables.part(spark, sfDir)
      .filter(col("p_name").like("%bolt%"))
      .select(col("p_partkey"), dec("p_retailprice").as("rp"))
    val supN = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("nation"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    li.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg((sum(col("ep") * (lit(1) - col("disc"))
          - col("qty") * col("rp") * lit(BigDecimal("0.80"))) * 10000)
        .cast("long").as("profit_e4"))
  }

  /** Per-group aggregate: the group's event types in (ts, event_id)
    * order, joined by `>`. `collect_list` gives no ordering guarantee,
    * so the struct list is `array_sort`ed AFTER collection —
    * deterministic on any executor layout.
    */
  private def journeyPath: Column =
    array_join(
      transform(
        array_sort(collect_list(struct(
          unix_micros(col("ts")).as("t"),
          col("event_id").as("e"),
          col("event_type").as("et")))),
        x => x.getField("et")), ">")

  /** User-journey path analysis — each user's ordered event-type
    * sequence collapsed to a path string, counted per distinct journey
    * (the funnel-free view of how users actually move), via
    * [[journeyPath]].
    *
    * Per-user state is that user's own event list, which at 100 TB is
    * unbounded in the worst case: one bot user with millions of events
    * turns the collect into a single straggler/OOM task. The cap
    * `maxEvents` bounds it: a window-rank prune keeps each user's FIRST
    * cap events (by ts, event_id) before the collect, and truncation is
    * surfaced as a `truncated` output column rather than silently hidden — capped
    * journeys group separately so downstream consumers can exclude or
    * re-process them. The rank and the per-user count share one
    * (user_id) exchange+sort.
    */
  def userPaths(spark: SparkSession, sfDir: String, maxEvents: Int = 10000): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(byUser))
      .withColumn("n_ev", count(lit(1)).over(byUser
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rn") <= maxEvents)
      .groupBy(col("user_id"))
      .agg(journeyPath.as("path"),
        (max(col("n_ev")) > maxEvents).as("truncated"))
      // The per-journey count groups on md5(path), NOT the raw path: a
      // capped journey is a ~100 KB string, and a raw-keyed exchange
      // would shuffle-sort and byte-compare those as group keys. The
      // 16-byte digest keys the exchange; the string itself rides as an
      // aggregation-buffer exemplar (min over identical values — every
      // member of a digest group holds the same string, so min IS the
      // path, not a sample). md5 collisions would need 2^64 distinct
      // journeys to matter — far beyond any user population.
      .groupBy(md5(col("path")).as("path_key"), col("truncated"))
      .agg(min(col("path")).as("path"), count(lit(1)).as("n_users"))
      .select(col("path"), col("truncated"), col("n_users"))
  }

  /** Journey pattern matching — the MATCH_RECOGNIZE shape without the
    * clause: each user's ordered event-type journey rendered as a
    * delimited string, then classified by REGULAR EXPRESSIONS into
    * mutually-exclusive funnel outcomes (a CASE ladder, first match
    * wins). Regex over a synthesized sequence string is the portable
    * way to express "a view EVENTUALLY followed by a purchase" — order
    * constraints that no per-row predicate can state — and both engines
    * share the POSIX subset used here (`.*` reachability only).
    *
    * Scale shape: one user-key shuffle builds the journeys (the same
    * exchange q_user_paths pays), the regex classification is per-row
    * narrow work on |users| strings, and the result aggregate moves
    * 4 partial rows. Journey length is bounded by the q_user_paths cap
    * argument in production; the classification itself never needs the
    * corpus again.
    */
  def pathPattern(spark: SparkSession, sfDir: String, prefix: Int = 5): DataFrame = {
    // classify the first-`prefix` events of each journey — the onboarding
    // funnel window (whole-journey regexes saturate on long histories);
    // row_number + filter is the WindowGroupLimit pre-limit shape again
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val paths = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= prefix)
      .groupBy(col("user_id"))
      .agg(journeyPath.as("path"),
        count(lit(1)).as("n_ev"))
    paths
      .withColumn("pattern",
        when(col("path").rlike("view.*purchase"), "view_then_purchase")
          .when(col("path").rlike("purchase"), "purchase_no_prior_view")
          .when(col("path").rlike("view"), "view_no_purchase")
          .otherwise("neither"))
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("n_events"))
  }

  /** Daily-volume anomaly detection — per event type, z-scores of daily
    * value totals against that type's own mean/stddev. The moments are
    * derived from EXACT integer sums (Σx, Σx², n) in fixed-point cents —
    * the pagerank pattern: decimal `total*total` would exceed width 38
    * and silently promote to order-dependent DOUBLE on the oracle side
    * (and lose precision under Spark's 38-cap), while BIGINT cents
    * squared into a wide exact integer stays bit-identical on both
    * engines. The only float math is per-group scalar division/sqrt at
    * the end, so no distributed summation order can move a z-score
    * across the |z| > 2 flag boundary. The daily rollup is the same
    * partial-aggregate shape as q_agg_merge_partial — in production the
    * z-pass reads the maintained daily table, not raw events.
    */
  def anomalyZscore(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(dec("value")).as("total"))
      .withColumn("cents", (col("total") * 100).cast("long"))
    val stats = daily.groupBy(col("event_type"))
      .agg(sum(col("cents")).as("s1c"),
        // decimal(18)² = decimal(37): exact product, exact decimal(38) sum
        sum(col("cents").cast("decimal(18,0)")
          * col("cents").cast("decimal(18,0)")).as("s2c"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        (col("s1c").cast("double") / 100.0 / col("n")).as("mean"),
        sqrt(col("s2c").cast("double") / 10000.0 / col("n")
          - pow(col("s1c").cast("double") / 100.0 / col("n"), 2)).as("std"))
    daily.join(stats, "event_type")
      .select(col("event_type"), col("day"),
        col("total").cast("double").as("total"),
        round((col("total").cast("double") - col("mean")) / col("std"), 6)
          .as("zscore"),
        (abs((col("total").cast("double") - col("mean")) / col("std")) > 2.0)
          .as("is_anomaly"))
  }

  /** Welch two-sample t-test per event_type — the experimentation
    * readout every product-analytics engine ships: users hash into
    * control/treatment arms (user_id % 2 — a stable unit-level split,
    * never per-event, or a user's events straddle arms), the per-user
    * metric is their exact cents total, and the t statistic comes from
    * exact integer moments per arm (n, Σx, Σx² — the anomalyZscore
    * discipline: cents are BIGINT, squares DECIMAL(38,0), so the
    * distributed sums are order-exempt and the float appears only in
    * the final per-group scalar). Welch's form (unpooled variances)
    * because arms at scale are never variance-matched.
    *
    * Scale shape: one (event_type, user_id) shuffle with map-side
    * partial sums, then a |types|-row conditional pivot — no join, no
    * second shuffle; the arm split rides the same aggregate.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val user = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg((sum(dec("value")) * 100).cast("long").as("cents"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    def n(a: Int) = sum(when(col("arm") === a, 1L))
    def s1(a: Int) = sum(when(col("arm") === a, col("cents")))
    def s2(a: Int) = sum(when(col("arm") === a,
      col("cents").cast("decimal(18,0)") * col("cents")))
    val g = user.groupBy(col("event_type")).agg(
      n(0).as("n_a"), n(1).as("n_b"), s1(0).as("s1a"), s1(1).as("s1b"),
      s2(0).as("s2a"), s2(1).as("s2b"))
    def mean(s1c: Column, nc: Column) = s1c.cast("double") / 100.0 / nc
    // sample variance in value² units from the exact integer moments
    def vr(nc: Column, s2c: Column, s1c: Column) =
      (nc.cast("decimal(38,0)") * s2c
        - s1c.cast("decimal(38,0)") * s1c).cast("double") /
        (nc.cast("double") * (nc.cast("double") - 1.0)) / 10000.0
    val t = (mean(col("s1a"), col("n_a")) - mean(col("s1b"), col("n_b"))) /
      sqrt(vr(col("n_a"), col("s2a"), col("s1a")) / col("n_a")
        + vr(col("n_b"), col("s2b"), col("s1b")) / col("n_b"))
    g.select(col("event_type"), col("n_a"), col("n_b"),
      // + 0.0 canonicalizes IEEE -0.0 — t and lift are sign-indefinite
      (round(mean(col("s1a"), col("n_a")), 6) + lit(0.0)).as("mean_a"),
      (round(mean(col("s1b"), col("n_b")), 6) + lit(0.0)).as("mean_b"),
      (round(mean(col("s1b"), col("n_b"))
        - mean(col("s1a"), col("n_a")), 6) + lit(0.0)).as("lift"),
      (round(t, 6) + lit(0.0)).as("t_stat"))
  }

  /** CUPED variance reduction (Deng et al., "Improving the Sensitivity
    * of Online Controlled Experiments by Utilizing Pre-Experiment
    * Data", WSDM 2013 — public literature): each user's pre-period
    * spend is the covariate x, post-period spend the metric y, the
    * experiment window splitting the fixture's day span in half by
    * exact date arithmetic. θ = cov(x,y)/var(x) pooled over both arms
    * (the standard choice — θ from a pooled fit keeps the estimator
    * unbiased under randomization), adjusted means
    * ȳ*ₐ = ȳₐ − θ(x̄ₐ − x̄), and ρ² = cov²/(var·var) — the fraction of
    * metric variance the covariate removes, i.e. how much smaller the
    * experiment can be. Every distributed sum is an exact integer
    * (cents BIGINT, squares/cross-products DECIMAL(38,0)); the floats
    * are final per-table scalars, rounded with +0 on the
    * sign-indefinite ones.
    *
    * Scale shape: one (user) shuffle with map-side partials, then ONE
    * global aggregate carrying the 11 exact moments; the bounds row is
    * a broadcast scalar. Nothing here grows with users except the
    * per-user aggregate every experimentation readout already pays.
    */
  def cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        dec("value").as("v"))
    val bounds = ev.agg(min(col("day")).as("mn"),
      datediff(max(col("day")), min(col("day"))).as("span"))
    val zero = lit(0).cast("decimal(18,2)")
    val user = ev.crossJoin(broadcast(bounds))
      .withColumn("cutoff", expr("date_add(mn, CAST(span div 2 AS INT))"))
      .groupBy(col("user_id"))
      .agg(
        (coalesce(sum(when(col("day") < col("cutoff"), col("v"))), zero)
          * 100).cast("long").as("x"),
        (coalesce(sum(when(col("day") >= col("cutoff"), col("v"))), zero)
          * 100).cast("long").as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g = user.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(d38(col("x")) * col("x")).as("sxx"),
      sum(d38(col("y")) * col("y")).as("syy"),
      sum(d38(col("x")) * col("y")).as("sxy"),
      sum(when(col("arm") === 0, 1L)).as("n_a"),
      sum(when(col("arm") === 1, 1L)).as("n_b"),
      sum(when(col("arm") === 0, col("x"))).as("sxa"),
      sum(when(col("arm") === 1, col("x"))).as("sxb"),
      sum(when(col("arm") === 0, col("y"))).as("sya"),
      sum(when(col("arm") === 1, col("y"))).as("syb"))
    // exact integer numerators, float only in the final scalars
    def m(num: Column, den: Column) = num.cast("double") / den
    val covN = d38(col("n")) * col("sxy") - d38(col("sx")) * col("sy")
    val varxN = d38(col("n")) * col("sxx") - d38(col("sx")) * col("sx")
    val varyN = d38(col("n")) * col("syy") - d38(col("sy")) * col("sy")
    val theta = covN.cast("double") / varxN.cast("double")
    def adj(syArm: Column, sxArm: Column, nArm: Column) =
      (m(syArm, nArm) - theta * (m(sxArm, nArm) - m(col("sx"), col("n")))) / 100.0
    val adjA = adj(col("sya"), col("sxa"), col("n_a"))
    val adjB = adj(col("syb"), col("sxb"), col("n_b"))
    g.select(col("n_a"), col("n_b"),
      (round(theta, 6) + lit(0.0)).as("theta"),
      (round(adjA, 6) + lit(0.0)).as("mean_adj_a"),
      (round(adjB, 6) + lit(0.0)).as("mean_adj_b"),
      (round(adjB - adjA, 6) + lit(0.0)).as("adj_lift"),
      round(covN.cast("double") * covN.cast("double")
        / varxN.cast("double") / varyN.cast("double"), 6).as("rho2"))
  }

  /** Cohort retention matrix — the standard product-analytics shape:
    * users grouped by first-seen day (cohort), activity counted as
    * distinct users per (cohort, days-since-cohort). Two shuffles: the
    * per-user min(ts) dimension, then the distinct-count aggregate of
    * the activity join. The cohort dimension is one row per USER —
    * billions at full scale — so no broadcast hint: AQE broadcasts it
    * when its runtime size allows and falls back to a key-partitioned
    * join when it doesn't.
    */
  def retentionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("days_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Corrupt-record quarantine — the parse-level form of the reference's
    * schema-drift guard (B2): malformed payloads must never kill the
    * pipeline OR silently vanish; they route to a quarantine bucket with
    * full accounting while clean rows flow on. `from_json` in its
    * default PERMISSIVE mode yields null fields on malformed input; the
    * fixture's props are all valid, so corruption is injected
    * deterministically (event_id % 7 → truncated JSON) and the oracle
    * reproduces the same injection arithmetically. One narrow scan, one
    * 2-group aggregate.
    */
  def parseQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val propsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    Tables.events(spark, sfDir)
      .select(col("event_id"),
        when(col("event_id") % 7 === 0, substring(col("props"), 1, 4))
          .otherwise(col("props")).as("raw"))
      .withColumn("k", from_json(col("raw"), propsSchema).getField("k"))
      // props always carries a non-null k, so a null k IS a parse failure
      .withColumn("disposition",
        when(col("k").isNull, "quarantined").otherwise("ok"))
      .groupBy(col("disposition"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("bigint").as("sum_k"))
  }

  /** I6/q12 — shipping-mode priority mix (TPC-H Q12 shape, adapted: this
    * schema has no l_shipmode/l_receiptdate, so l_returnflag stands in as
    * the mode axis and "late" = shipped more than 60 days after the order
    * date). The interesting plan property Q12 exercises survives the
    * adaptation: a fact-fact join whose selective predicate SPANS both
    * sides (shipdate vs orderdate), so it cannot push into either scan —
    * only the single-sided year band prunes lineitem at the parquet
    * level; the cross-side comparison runs as a join residual on the
    * orderkey hash join. Conditional counts fold both priority classes
    * into ONE aggregate pass (no second join, no self-union). At 100 TB:
    * one orderkey shuffle, AQE-coalesced; 6-row result.
    */
  def q12ShipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    // the single-sided year band prunes the month-partitioned layout at
    // the directory listing; the cross-side lateness predicate stays a
    // join residual as before
    val li = graft.sources.PartitionedTables.lineitemByShipMonth(spark, sfDir)
      .filter(col("l_ship_month") >= "1996-01"
        && col("l_ship_month") < "1997-01"
        && col("l_shipdate") >= lit("1996-01-01")
        && col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(o, col("l_orderkey") === col("o_orderkey")
        && col("l_shipdate") > col("o_orderdate") + expr("interval 60 days"))
      .groupBy(col("l_returnflag").as("ship_mode"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** I6/q21 — suppliers who kept orders waiting (TPC-H Q21 shape,
    * adapted: "late" = shipped more than 90 days after the order date).
    * The signature topology is the DOUBLE correlated quantifier over the
    * same relation — for each late (order, supplier): EXISTS another
    * supplier on the order (multi-supplier orders only) AND NOT EXISTS
    * another LATE supplier on the order (this supplier is solely at
    * fault). Declared as left-semi + left-anti hash joins on l_orderkey
    * with the supplier inequality as the join residual — Catalyst plans
    * exactly what the manual decorrelation would write, and the
    * `late` relation is computed ONCE and reused for both the probe and
    * the anti side. At 100 TB: the late set is a small fraction of
    * lineitem (date-band filtered before the join), so the two
    * quantifier joins shuffle late-rows + distinct (orderkey, suppkey)
    * pairs, never raw lineitem twice; the 100-row supplier dim
    * broadcasts for the name.
    */
  def q21WaitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    // EXISTS other-supplier ∧ NOT-EXISTS other-LATE-supplier is, per
    // order, a statement about two cardinalities: |suppliers| ≥ 2 and
    // |late suppliers| = 1 (blame the lone late one). The semi+anti
    // self-join form pays a corpus-wide distinct plus two orderkey
    // joins over skewed per-order supplier lists — measured 25× for
    // 10× data at the sf100 probe. The grouped form pays ONE li⋈o
    // shuffle; both aggregates then reuse its orderkey partitioning
    // (hash(orderkey) satisfies the (orderkey, suppkey) clustering),
    // so nothing re-exchanges until the |blamed|-sized tail.
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val perSupp = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max((col("l_shipdate") >
        col("o_orderdate") + expr("interval 90 days")).cast("int"))
        .as("is_late"))
    val blamed = perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("is_late")).as("n_late"),
        max(when(col("is_late") === 1, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
    blamed
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** I6/q16 — supplier count per part slice (TPC-H Q16 shape, adapted:
    * no partsupp table, so lineitem is the part↔supplier link). The plan
    * shape this adds to the join family is NOT IN over a subquery — the
    * NULL-AWARE anti join, a genuinely different operator from q22's
    * NOT EXISTS anti join: NOT IN must return zero rows if the subquery
    * ever yields NULL, so Catalyst plans a broadcast null-aware anti
    * join (s_suppkey is non-null here, but the OPERATOR must prove it at
    * runtime, which NOT EXISTS never checks). Distinct suppliers per
    * (brand, size) after excluding the blacklist. At 100 TB: the
    * blacklist subquery is a tiny broadcast; part is the only other dim;
    * lineitem pays one (brand, size, suppkey) distinct shuffle.
    */
  def q16SupplierCount(spark: SparkSession, sfDir: String): DataFrame = {
    // The Dataset API has no NOT IN surface — left_anti is NOT the same
    // operator (it silently keeps rows when the subquery yields NULL).
    // Routing through SQL makes Catalyst plan the real null-aware anti
    // join (BroadcastHashJoin ... LeftAnti, isNullAwareAntiJoin=true).
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    Tables.part(spark, sfDir).createOrReplaceTempView("part")
    Tables.supplier(spark, sfDir).createOrReplaceTempView("supplier")
    spark.sql(
      """SELECT p_brand, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
        |GROUP BY p_brand, p_size""".stripMargin)
  }

  /** I6/q20 — suppliers with excess supply of a part family (TPC-H Q20
    * shape, adapted to the lineitem link). The topology: a NESTED
    * membership chain — suppliers IN (pairs grouped-HAVING over lineitem
    * semi-joined to a LIKE-filtered part dim). Each IN level becomes a
    * LEFT SEMI hash join, so "membership" never duplicates supplier rows
    * no matter how many qualifying parts a supplier has. The HAVING
    * aggregate runs on (suppkey, partkey) pairs AFTER the part filter
    * prunes ~1/9 of lineitem via broadcast semi join — the grouped
    * relation is bounded by |qualifying pairs|, not |lineitem|. At
    * 100 TB: one pair-key shuffle over the filtered fact, then
    * broadcast-size results the rest of the way.
    */
  /** I6/q2 — min-cost supplier per part (TPC-H Q2 shape, adapted: no
    * partsupp, so a part's supply cost from a supplier = the minimum
    * exact-decimal price that supplier ever charged for it in lineitem).
    * The topology: a correlated scalar subquery ("= (SELECT min(...)
    * WHERE partkey = outer.partkey)") expressed the way Catalyst itself
    * rewrites it — the per-part min as ONE grouped aggregate joined
    * back on (partkey, cost equality), returning every tied supplier.
    * Exact integer cents make the tie set engine-identical. At 100 TB:
    * the (partkey, suppkey) aggregate is the only fact shuffle; the
    * min-join-back reuses its partitioning, and part/supplier/nation
    * dims broadcast.
    */
  def q2MinCost(spark: SparkSession, sfDir: String): DataFrame = {
    // Pre-prune lineitem to qualifying parts BEFORE the pair aggregate
    // (guide §3.2: reduce the big side before shuffling it): the final
    // inner join keeps only p_size=15 parts (~2% of the part space) and
    // a part's min cost never depends on other parts, so the broadcast
    // LEFT SEMI here is result-identical while the (partkey, suppkey)
    // shuffle — the query's only fact exchange — shrinks ~50x. Round 15;
    // previously the filter ran after the corpus-wide aggregate.
    val sizedParts = Tables.part(spark, sfDir)
      .filter(col("p_size") === 15).select(col("p_partkey"))
    val sc = Tables.lineitem(spark, sfDir)
      .join(broadcast(sizedParts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg((min(dec("l_extendedprice")) * 100).cast("long").as("cost_cents"))
    val scMin = sc.groupBy(col("l_partkey"))
      .agg(min(col("cost_cents")).as("min_cents"))
    sc.join(scMin, "l_partkey")
      .filter(col("cost_cents") === col("min_cents"))
      .join(broadcast(Tables.part(spark, sfDir).filter(col("p_size") === 15)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("s_name"), col("n_name"),
        col("cost_cents"))
  }

  /** I7/q11 — important stock parts (TPC-H Q11 shape, adapted: part
    * value = exact-decimal Σ(price × qty) over lineitem, suppliers from
    * a 5-nation region slice). The topology: a grouped aggregate
    * compared against a FRACTION of its own global total — an
    * uncorrelated scalar subquery in HAVING. The fraction test is an
    * integer cross-multiplication (part_cents × 10⁴ > total_cents ×
    * threshold_bp), never `total * 0.0001` — a float fraction of a
    * 100 TB total is exactly where engines drift. The global total is a
    * 1-row broadcast, so the HAVING probe adds no exchange; ReuseExchange
    * collapses the value table's two uses onto one shuffle.
    */
  def q11ImportantParts(spark: SparkSession, sfDir: String): DataFrame = {
    val suppNations = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .filter(col("n_name").isin("NATION_1", "NATION_3", "NATION_5",
            "NATION_7", "NATION_9"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(spark, sfDir)
      .join(broadcast(suppNations), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .groupBy(col("l_partkey"))
      .agg((sum(dec("l_extendedprice") * dec("l_quantity")) * 100)
        .cast("long").as("value_cents"))
    val total = value.agg(sum(col("value_cents")).as("total_cents"),
      count(lit(1)).as("n_parts"))
    value.join(broadcast(total))
      // scale-free threshold (TPC-H's fraction/SF intent): share > 2x
      // the uniform share, by integer cross-multiplication
      .filter(col("value_cents") * col("n_parts") > col("total_cents") * 2)
      .select(col("l_partkey"), col("value_cents"))
  }

  def q20ExcessSupply(spark: SparkSession, sfDir: String): DataFrame = {
    val redParts = Tables.part(spark, sfDir)
      .filter(col("p_name").like("red%")).select(col("p_partkey"))
    val pairs = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01")
        && col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      .filter(col("qty") > 60)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, sfDir)
      .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }
}
