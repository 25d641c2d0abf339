package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Schemas, TwseFixtures}
import graft.operators.{TwseAnalytics, TwsePipeline}

/** The reference-surface operator queries (SURVEY.md §2 A–G) and their
  * DuckDB oracles. These run against the checked-in golden fixtures (the
  * reference's own manual test dates, `README.md:545-552`), so the
  * oracles are closed-form `VALUES` relations — the expected outputs are
  * part of the reference's observable contract.
  *
  * Every Spark query aliases its columns identically to the oracle SQL
  * (the driver's compare sorts columns by name before hashing).
  */
object TwseQueries {

  private def golden12 = Seq(
    "2279109983", "1817670433", "461439550",
    "5567838537", "5073450525", "494388012",
    "4094216360", "2519550872", "1574665488",
    "52999169995", "60297278126", "-7298108131")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — the DataSource V2 daily-payload source (one input partition
    // per date; fixture-backed in tests, HTTP in production). Byte-exact
    // content check via md5 of the body.
    "q_http_json_source" -> ((s, _) =>
      s.read.format("graft.sources.TwseFixtureSource").load()
        .select(col("dt"), length(col("body")).as("body_len"),
          md5(col("body")).as("body_md5"))),

    // A2 — nested JSON parse with explicit schema.
    "q_json_parse" -> ((s, _) =>
      TwsePipeline.parsed(s).select(
        col("date").as("dt"), col("stat"), col("title"),
        when(col("data").isNull, lit(null)).otherwise(size(col("data"))).as("n_rows"),
        when(col("fields").isNull, lit(null)).otherwise(size(col("fields"))).as("n_fields"))),

    // A4 — idempotent DDL: CREATE TABLE IF NOT EXISTS, run twice, then
    // describe. Mirrors create_table.sql:2-16 (13 TEXT columns).
    "q_create_table" -> ((s, _) => {
      val loc = s"${sys.props("java.io.tmpdir")}/graft_investment_data_tbl"
      // external-table DDL races a missing location dir (transient
      // FileNotFoundException observed when a tmp reaper removed it
      // between runs) — pre-create it; CREATE stays idempotent
      new java.io.File(loc).mkdirs()
      val ddlCols = Schemas.investmentCols.map(c => s"$c STRING").mkString(", ")
      val ddl = s"CREATE TABLE IF NOT EXISTS graft_investment_data ($ddlCols) " +
        s"USING parquet LOCATION '$loc'"
      s.sql(ddl); s.sql(ddl) // idempotent by contract
      s.catalog.listColumns("graft_investment_data")
        .select(col("name"), col("dataType").as("data_type"))
    }),

    // Map-typed surface of the payload: key lookup, cardinality, sorted
    // key list (§1.1a's map<string,string> — includes a null value).
    "q_map_params" -> ((s, _) =>
      TwsePipeline.parsed(s).select(
        col("date").as("dt"),
        element_at(col("params"), "dayDate").as("day_date"),
        size(map_keys(col("params"))).as("n_params"),
        array_join(array_sort(map_keys(col("params"))), ",").as("param_keys"))),

    // B1 — market-open filter.
    "q_filter_market_open" -> ((s, _) =>
      TwsePipeline.open(s).select(col("date").as("dt"), col("stat"))),

    // B3 — drop the 合計 grand-total row (array slice [:-1]).
    "q_filter_drop_total" -> ((s, _) =>
      TwsePipeline.open(s)
        .select(col("date").as("dt"),
          posexplode(slice(col("data"), lit(1), size(col("data")) - 1)).as(Seq("pos", "row")))
        .select(col("dt"), col("pos"), element_at(col("row"), 1).as("unit"))),

    // C1 — drop the unit-label column of each row.
    "q_drop_label_col" -> ((s, _) =>
      TwsePipeline.open(s)
        .select(col("date").as("dt"), posexplode(col("data")).as(Seq("pos", "row")))
        .select(col("dt"), col("pos"),
          concat_ws("|", slice(col("row"), lit(2), size(col("row")) - 1)).as("amounts"))),

    // C2 — row-major flatten (before comma-strip).
    "q_flatten" -> ((s, _) =>
      TwsePipeline.open(s)
        .select(col("date").as("dt"),
          posexplode(flatten(transform(
            slice(col("data"), lit(1), size(col("data")) - 1),
            r => slice(r, lit(2), size(r) - 1)))).as(Seq("pos", "val")))),

    // D1 — thousands-separator strip on the flattened vector.
    "q_strip_commas" -> ((s, _) =>
      TwsePipeline.cleaned(s)
        .select(col("date").as("dt"), posexplode(col("vec")).as(Seq("pos", "val")))),

    // B2 — arity validation (schema-drift detection).
    "q_validate_arity" -> ((s, _) =>
      TwsePipeline.validated(s).select(
        col("date").as("dt"), size(col("vec")).as("vec_len"), col("arity_ok"))),

    // C3 — positional pivot to the 13 named columns.
    "q_pivot_wide" -> ((s, _) => TwsePipeline.flagship(s)),

    // C3 inverse — melt the wide contract row back to long form.
    "q_unpivot" -> ((s, _) => TwsePipeline.unpivotLong(s)),

    // The full flagship plan (source→…→pivot) — same contract output.
    "q_flagship" -> ((s, _) => TwsePipeline.flagship(s)),

    // C4 — development row-wise view of the payload.
    "q_explode_rows" -> ((s, _) => TwseAnalytics.explodeRows(s)
      .select(col("date").as("dt"), col("pos"), col("unit"),
        col("buy"), col("sell"), col("dif"))),

    // D2 — exact DECIMAL(38,0) casts of the 12 amounts.
    "q_cast_exact" -> ((s, _) => TwseAnalytics.castExact(s)),

    // D5/D3 — yyyyMMdd ↔ date round-trip.
    "q_parse_date" -> ((s, _) => TwseAnalytics.parseDate(s)),

    // D4 — UTC → Asia/Taipei conversion at the daily run instant.
    "q_tz_convert" -> ((s, _) => TwseAnalytics.tzConvert(s)),

    // Date-arithmetic surface over the golden dates.
    "q_date_arith" -> ((s, _) => TwseAnalytics.dateArith(s)),

    // Array-function surface over the cleaned vector.
    "q_array_funcs" -> ((s, _) => TwseAnalytics.arrayFuncs(s)),

    // D6 — dif = buy − sell consistency in exact decimals.
    "q_sign_math" -> ((s, _) => TwseAnalytics.signMath(s)
      .select(col("date").as("dt"), col("unit"), col("buy"), col("sell"),
        col("dif"), col("derived_dif"), col("consistent"))),

    // E1 + A3 — append-sink then full-scan readback round-trip.
    "q_sink_roundtrip" -> ((s, _) =>
      TwsePipeline.sinkRoundtrip(s, Staging.runDir("graft_sink_roundtrip").toString)),

    // E1 at scale — dt-partitioned layout + partition-pruned readback.
    "q_sink_partitioned" -> ((s, _) =>
      TwsePipeline.sinkPartitioned(s, Staging.runDir("graft_sink_part").toString)),

    // A-series breadth — CSV interchange round-trip of the contract row.
    "q_csv_roundtrip" -> ((s, _) =>
      TwsePipeline.csvRoundtrip(s, Staging.runDir("graft_sink_csv").toString)),

    // B2 at the reader: PERMISSIVE CSV with per-row corrupt-record
    // quarantine of ragged/untypeable lines.
    "q_csv_malformed" -> ((s, _) => graft.operators.Formats.csvMalformed(s)),

    // E1/A3 against a real JDBC store (embedded Derby standing in for
    // the reference's Postgres): DDL + append + full readback.
    "q_jdbc_roundtrip" -> ((s, _) => graft.sources.JdbcStore.roundtrip(s)),

    // E2 — success-notification message rows.
    "q_notify_success" -> ((s, _) =>
      TwsePipeline.notifySuccess(s).select(col("date").as("dt"), col("message"))),

    // E3 — drift-alert message rows.
    "q_notify_alert" -> ((s, _) =>
      TwsePipeline.notifyAlert(s).select(col("date").as("dt"), col("message"))),

    // E4 — explicit no-op terminal for the market-closed branch.
    "q_noop_sink" -> ((s, _) =>
      TwsePipeline.parsed(s).filter(col("stat") === "OK")
        .filter(col("stat") =!= "OK") // the branch-not-taken: provably empty
        .select(col("date").as("dt"))),

    // F1 — the 13 keyed scalars of the XCom exchange, as (key, value).
    "q_xcom_exchange" -> ((s, _) => {
      val kvs = Schemas.investmentCols.flatMap(c => Seq(s"'$c'", c)).mkString(", ")
      TwsePipeline.flagship(s)
        .select(expr(s"stack(13, $kvs) AS (key, value)"))
    }),

    // F2 — the rendered INSERT statement (reference renders it via Jinja;
    // we derive it from the same lineage — mechanism superseded).
    "q_sql_templating" -> ((s, _) => TwsePipeline.insertSql(TwsePipeline.flagship(s))),

    // G1 — market-open routing.
    "q_branch_market" -> ((s, _) => TwsePipeline.branchMarket(s)
      .select(col("date").as("dt"), col("branch"))),

    // G2 — arity routing.
    "q_branch_arity" -> ((s, _) => TwsePipeline.branchArity(s)
      .select(col("date").as("dt"), col("branch"))),

    // G3/E1-E3 composed — the deployable daily driver end-to-end: one
    // scheduler tick over the golden 3-day window, emitting each day's
    // TERMINAL route (the DAG's leaf actually taken, where
    // q_branch_market/q_branch_arity check each split in isolation).
    "q_daily_routes" -> ((s, _) => {
      import s.implicits._
      DailyApp.runTick(s, goldenTick("graft_daily_q")).routes.toDF("dt", "route")
    })
  )

  /** A `DailyApp` tick over the golden 3-day window in a fresh run dir
    * named `name`: the tick is checkpoint-idempotent, so a reused dir
    * would correctly yield an empty second tick.
    */
  private[graft] def goldenTick(name: String): DailyApp.Config =
    DailyApp.Config(base = Staging.runDir(name), useFixtures = true, sleep = _ => ())

  private val goldenRowSql: String = {
    val vals = ("'20220819'" +: golden12.map(v => s"'$v'")).mkString(", ")
    s"SELECT * FROM (VALUES ($vals)) t(${Schemas.investmentCols.mkString(", ")})"
  }

  val oracleSql: Map[String, String] = Map(
    "q_http_json_source" -> {
      // fixture bodies embedded verbatim (they contain no single quotes);
      // DuckDB recomputes length + md5 from the same bytes
      val rows = Seq(("20220819", TwseFixtures.ok),
        ("20220820", TwseFixtures.closed), ("20100106", TwseFixtures.drift))
        .map { case (dt, b) =>
          s"('$dt', CAST(length('$b') AS INTEGER), md5('$b'))"
        }
      s"SELECT * FROM (VALUES ${rows.mkString(", ")}) t(dt, body_len, body_md5)"
    },

    "q_json_parse" ->
      """SELECT * FROM (VALUES
        |('20220819', 'OK', '111年08月19日 三大法人買賣金額統計表', 5, 4),
        |('20220820', '很抱歉，沒有符合條件的資料!', NULL, NULL, NULL),
        |('20100106', 'OK', '99年01月06日 三大法人買賣金額統計表', 4, 3)
        |) t(dt, stat, title, n_rows, n_fields)""".stripMargin,

    "q_create_table" ->
      ("SELECT * FROM (VALUES " +
        Schemas.investmentCols.map(c => s"('$c', 'string')").mkString(", ") +
        ") t(name, data_type)"),

    "q_filter_market_open" ->
      """SELECT * FROM (VALUES ('20220819', 'OK'), ('20100106', 'OK')) t(dt, stat)""",

    "q_map_params" ->
      """SELECT * FROM (VALUES
        |('20220819', '20220819', 8, 'action,controller,dayDate,format,lang,monthDate,response,weekDate'),
        |('20220820', '20220820', 2, 'dayDate,response'),
        |('20100106', '20100106', 2, 'dayDate,response')
        |) t(dt, day_date, n_params, param_keys)""".stripMargin,

    "q_filter_drop_total" ->
      """SELECT * FROM (VALUES
        |('20220819', 0, '自營商(自行買賣)'), ('20220819', 1, '自營商(避險)'),
        |('20220819', 2, '投信'), ('20220819', 3, '外資及陸資'),
        |('20100106', 0, '自營商'), ('20100106', 1, '投信'), ('20100106', 2, '外資及陸資')
        |) t(dt, pos, unit)""".stripMargin,

    "q_drop_label_col" ->
      """SELECT * FROM (VALUES
        |('20220819', 0, '2,279,109,983|1,817,670,433|461,439,550'),
        |('20220819', 1, '5,567,838,537|5,073,450,525|494,388,012'),
        |('20220819', 2, '4,094,216,360|2,519,550,872|1,574,665,488'),
        |('20220819', 3, '52,999,169,995|60,297,278,126|-7,298,108,131'),
        |('20220819', 4, '64,940,334,875|69,707,949,956|-4,767,615,081'),
        |('20100106', 0, '4,521,333,000|4,380,932,000'),
        |('20100106', 1, '2,980,163,000|2,313,892,000'),
        |('20100106', 2, '21,652,624,000|15,622,596,000'),
        |('20100106', 3, '29,154,120,000|22,317,420,000')
        |) t(dt, pos, amounts)""".stripMargin,

    "q_flatten" ->
      """SELECT * FROM (VALUES
        |('20220819', 0, '2,279,109,983'), ('20220819', 1, '1,817,670,433'),
        |('20220819', 2, '461,439,550'), ('20220819', 3, '5,567,838,537'),
        |('20220819', 4, '5,073,450,525'), ('20220819', 5, '494,388,012'),
        |('20220819', 6, '4,094,216,360'), ('20220819', 7, '2,519,550,872'),
        |('20220819', 8, '1,574,665,488'), ('20220819', 9, '52,999,169,995'),
        |('20220819', 10, '60,297,278,126'), ('20220819', 11, '-7,298,108,131'),
        |('20100106', 0, '4,521,333,000'), ('20100106', 1, '4,380,932,000'),
        |('20100106', 2, '2,980,163,000'), ('20100106', 3, '2,313,892,000'),
        |('20100106', 4, '21,652,624,000'), ('20100106', 5, '15,622,596,000')
        |) t(dt, pos, val)""".stripMargin,

    "q_strip_commas" -> {
      val ok = golden12.zipWithIndex
        .map { case (v, i) => s"('20220819', $i, '$v')" }
      val drift = Seq("4521333000", "4380932000", "2980163000",
        "2313892000", "21652624000", "15622596000").zipWithIndex
        .map { case (v, i) => s"('20100106', $i, '$v')" }
      s"SELECT * FROM (VALUES ${(ok ++ drift).mkString(", ")}) t(dt, pos, val)"
    },

    "q_validate_arity" ->
      """SELECT * FROM (VALUES
        |('20220819', 12, true), ('20100106', 6, false)
        |) t(dt, vec_len, arity_ok)""".stripMargin,

    "q_pivot_wide" -> goldenRowSql,
    "q_unpivot" -> {
      // melt = union of one SELECT per value column over the golden row
      val parts = Schemas.investmentCols.tail.map(c =>
        s"SELECT dt, '$c' AS series, $c AS amount FROM g")
      s"WITH g AS ($goldenRowSql) " + parts.mkString(" UNION ALL ")
    },
    "q_flagship" -> goldenRowSql,
    "q_sink_roundtrip" -> goldenRowSql,
    "q_sink_partitioned" -> goldenRowSql,
    "q_csv_roundtrip" -> goldenRowSql,
    // the fixture file's five lines under PERMISSIVE semantics: typed
    // fields survive where parseable, ragged/untypeable rows carry the
    // raw line in the quarantine column
    "q_csv_malformed" ->
      """SELECT * FROM (VALUES
        |  ('20220819', CAST(52999169995 AS BIGINT), 'dealer', false, ''),
        |  ('20220819', CAST(NULL AS BIGINT), 'foreign', true,
        |     '20220819,notanumber,foreign'),
        |  ('20220819', CAST(60297278126 AS BIGINT), CAST(NULL AS VARCHAR),
        |     true, '20220819,60297278126'),
        |  ('20220820', CAST(123 AS BIGINT), 'trust', false, ''),
        |  ('badlineonly', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |     true, 'badlineonly')
        |) t(dt, amount, unit, quarantined, raw_line)""".stripMargin,
    "q_jdbc_roundtrip" -> goldenRowSql,

    "q_explode_rows" ->
      """SELECT * FROM (VALUES
        |('20220819', 0, '自營商(自行買賣)', '2,279,109,983', '1,817,670,433', '461,439,550'),
        |('20220819', 1, '自營商(避險)', '5,567,838,537', '5,073,450,525', '494,388,012'),
        |('20220819', 2, '投信', '4,094,216,360', '2,519,550,872', '1,574,665,488'),
        |('20220819', 3, '外資及陸資', '52,999,169,995', '60,297,278,126', '-7,298,108,131'),
        |('20220819', 4, '合計', '64,940,334,875', '69,707,949,956', '-4,767,615,081'),
        |('20100106', 0, '自營商', '4,521,333,000', '4,380,932,000', NULL),
        |('20100106', 1, '投信', '2,980,163,000', '2,313,892,000', NULL),
        |('20100106', 2, '外資及陸資', '21,652,624,000', '15,622,596,000', NULL),
        |('20100106', 3, '合計', '29,154,120,000', '22,317,420,000', NULL)
        |) t(dt, pos, unit, buy, sell, dif)""".stripMargin,

    "q_cast_exact" -> {
      val casts = Schemas.investmentCols.tail.zip(golden12)
        .map { case (c, v) => s"CAST(CAST('$v' AS DECIMAL(38,0)) AS BIGINT) AS $c" }
      s"SELECT '20220819' AS dt, ${casts.mkString(", ")}"
    },

    "q_parse_date" ->
      """SELECT dt, CAST(strptime(dt, '%Y%m%d') AS DATE) AS day,
        |CAST(year(strptime(dt, '%Y%m%d')) AS INTEGER) AS yr,
        |CAST(month(strptime(dt, '%Y%m%d')) AS INTEGER) AS mo,
        |strftime(strptime(dt, '%Y%m%d'), '%Y%m%d') AS roundtrip
        |FROM (VALUES ('20220819'), ('20220820'), ('20100106')) t(dt)""".stripMargin,

    "q_tz_convert" ->
      """SELECT dt,
        |strftime(strptime(dt, '%Y%m%d') + INTERVAL 18 HOUR, '%Y-%m-%d %H:%M:%S') AS tw_time,
        |strftime(strptime(dt, '%Y%m%d') + INTERVAL 18 HOUR, '%Y%m%d') AS request_date
        |FROM (VALUES ('20220819'), ('20220820'), ('20100106')) t(dt)""".stripMargin,

    "q_date_arith" ->
      """WITH d AS (SELECT dt, CAST(strptime(dt, '%Y%m%d') AS DATE) AS day
        |  FROM (VALUES ('20220819'), ('20220820'), ('20100106')) t(dt))
        |SELECT dt, day + 30 AS plus30,
        |  CAST(DATE '2023-01-01' - day AS INTEGER) AS days_to_2023,
        |  last_day(day) AS month_end,
        |  CAST(date_trunc('month', day) AS DATE) AS month_start,
        |  CAST(dayofweek(day) + 1 AS INTEGER) AS dow
        |FROM d""".stripMargin,

    "q_array_funcs" -> {
      val lst = golden12.map(v => s"'$v'").mkString("[", ", ", "]")
      s"""WITH v AS (SELECT '20220819' AS dt, $lst AS a)
         |SELECT dt, array_to_string(list_sort(a), ',') AS sorted_csv,
         |  list_contains(a, '461439550') AS has_dealer_dif,
         |  CAST(coalesce(list_position(a, '461439550'), 0) AS BIGINT) AS pos_dealer_dif,
         |  array_to_string(a[2:4], ',') AS slice24,
         |  CAST(len(list_distinct(a)) AS INTEGER) AS n_distinct,
         |  a[-1] AS last_amount
         |FROM v""".stripMargin
    },

    "q_sign_math" ->
      """SELECT dt, unit,
        |CAST(CAST(replace(buy, ',', '') AS DECIMAL(38,0)) AS BIGINT) AS buy,
        |CAST(CAST(replace(sell, ',', '') AS DECIMAL(38,0)) AS BIGINT) AS sell,
        |CAST(CAST(replace(dif, ',', '') AS DECIMAL(38,0)) AS BIGINT) AS dif,
        |CAST(CAST(replace(buy, ',', '') AS DECIMAL(38,0)) - CAST(replace(sell, ',', '') AS DECIMAL(38,0)) AS BIGINT) AS derived_dif,
        |CAST(replace(dif, ',', '') AS DECIMAL(38,0)) = CAST(replace(buy, ',', '') AS DECIMAL(38,0)) - CAST(replace(sell, ',', '') AS DECIMAL(38,0)) AS consistent
        |FROM (VALUES
        |('20220819', '自營商(自行買賣)', '2,279,109,983', '1,817,670,433', '461,439,550'),
        |('20220819', '自營商(避險)', '5,567,838,537', '5,073,450,525', '494,388,012'),
        |('20220819', '投信', '4,094,216,360', '2,519,550,872', '1,574,665,488'),
        |('20220819', '外資及陸資', '52,999,169,995', '60,297,278,126', '-7,298,108,131'),
        |('20220819', '合計', '64,940,334,875', '69,707,949,956', '-4,767,615,081')
        |) t(dt, unit, buy, sell, dif)""".stripMargin,

    "q_notify_success" ->
      "SELECT * FROM (VALUES ('20220819', '20220819 資料以正確爬取')) t(dt, message)",

    "q_notify_alert" ->
      "SELECT * FROM (VALUES ('20100106', '資料格式有變動，請重新設計爬蟲')) t(dt, message)",

    "q_noop_sink" ->
      "SELECT dt FROM (VALUES ('never')) t(dt) WHERE false",

    "q_xcom_exchange" -> {
      val kvs = (Schemas.investmentCols zip ("20220819" +: golden12))
        .map { case (k, v) => s"('$k', '$v')" }.mkString(", ")
      s"SELECT * FROM (VALUES $kvs) t(key, value)"
    },

    "q_sql_templating" -> {
      val rendered = s"INSERT INTO investment_data(${Schemas.investmentCols.mkString(", ")}) " +
        s"VALUES (${("20220819" +: golden12).map(v => s"''$v''").mkString(", ")})"
      s"SELECT '$rendered' AS rendered_sql"
    },

    "q_branch_market" ->
      """SELECT * FROM (VALUES
        |('20220819', 'scrapy'), ('20220820', 'do_nothing'), ('20100106', 'scrapy')
        |) t(dt, branch)""".stripMargin,

    "q_branch_arity" ->
      """SELECT * FROM (VALUES
        |('20220819', 'insert_data'), ('20100106', 'alert')
        |) t(dt, branch)""".stripMargin,

    "q_daily_routes" ->
      """SELECT * FROM (VALUES
        |('20220819', 'insert_data'), ('20100106', 'alert'),
        |('20220820', 'do_nothing')
        |) t(dt, route)""".stripMargin
  )
}
