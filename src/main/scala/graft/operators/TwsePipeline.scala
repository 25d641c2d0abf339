package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Schemas, TwseFixtures}

/** The reference pipeline, re-expressed as one declarative Spark plan.
  *
  * Reference dataflow (`dags/Final_app.py:22-149`):
  * HTTP JSON source → filter(stat='OK') → drop grand-total row → drop
  * label column → flatten row-major → strip thousands separators →
  * validate arity==12 → pivot to 13 named columns → append sink +
  * success notification | alert notification.
  *
  * Where the reference forks a process per task and round-trips every
  * value through the Airflow meta-DB (XCom), this is a single narrow
  * no-shuffle plan: Catalyst fuses all stages into one whole-stage-codegen
  * pipeline, and the branch semantics (Airflow *skips* untaken branches,
  * `Final_app.py:89-92`) are preserved as filter-splits — each branch is a
  * filtered DataFrame with its own sink, so the untaken side produces no
  * rows rather than evaluating both sides.
  *
  * At 100 TB scale this shape holds: the source becomes one partition per
  * trading day (a date-partitioned DataSource), every transform is
  * per-row/narrow, and the only exchange is the final sink write.
  */
object TwsePipeline {

  import TwseFixtures._

  /** A1 — source. The reference fetches one ~2 KB JSON payload per day
    * over HTTP (`Final_app.py:22-28,41-47`). In tests the three golden
    * scenario payloads stand in for three daily fetches; each row of the
    * source frame is one day's raw response body. At scale: a driver-side
    * fetch per date feeding `spark.read.json(ds)`, or a DataSource V2
    * provider with one input partition per date.
    */
  def raw(spark: SparkSession): DataFrame =
    spark.read.format("graft.sources.TwseFixtureSource").load()
      .select(col("body"))

  /** A2 — parse the response body into the typed nested record
    * (`res.json()`, `Final_app.py:28,47`). Explicit schema, never
    * inference; nested-schema pruning then lets Catalyst read only the
    * fields downstream operators touch.
    */
  def parsed(spark: SparkSession): DataFrame =
    raw(spark)
      .select(from_json(col("body"), Schemas.twsePayload).as("p"))
      .select(col("p.*"))

  /** B1 — keep only market-open payloads (`res['stat'] == 'OK'`,
    * `Final_app.py:29`). The market-closed branch simply produces no rows
    * — the Spark analogue of the reference's early pipeline termination.
    */
  def open(spark: SparkSession): DataFrame = parsed(spark).filter(marketOpen)

  private val marketOpen: Column = col("stat") === "OK"

  /** B3 + C1 + C2 + D1 — the clean transform (`Final_app.py:48-51`,
    * ipynb cell-5): drop the 合計 grand-total row (slice `[:-1]`), drop
    * the unit-label column (inner loop from index 1), flatten row-major,
    * strip thousands separators. All higher-order array functions —
    * per-row, no shuffle. An empty table or row slices to empty instead
    * of a negative length, so a ragged payload routes to alert rather
    * than failing the batch.
    */
  private val vec: Column =
    transform(
      flatten(transform(
        slice(col("data"), lit(1), greatest(size(col("data")) - 1, lit(0))), // B3: drop last row
        row => slice(row, lit(2), greatest(size(row) - 1, lit(0)))           // C1: drop label col
      )),                                                  // C2: row-major flatten
      v => regexp_replace(v, ",", "")                      // D1: strip commas
    )

  /** B2 — the arity predicate over the cleaned vector (`len(data) == 12`). */
  private val arityOk: Column = size(col("vec")) === 12

  /** The cleaned 12-vector of every market-open payload. Source-agnostic:
    * the same transform runs over the batch fixture source and the
    * streaming file source.
    */
  def cleanedFrom(parsedDf: DataFrame): DataFrame =
    parsedDf.filter(marketOpen).withColumn("vec", vec)

  def cleaned(spark: SparkSession): DataFrame = cleanedFrom(parsed(spark))

  /** B2 — schema-drift validation: cleaned vector must have exactly 12
    * elements (`len(data) == 12`, `Final_app.py:53`). Produces the flag;
    * G2 splits on it.
    */
  def validatedFrom(parsedDf: DataFrame): DataFrame =
    cleanedFrom(parsedDf).withColumn("arity_ok", arityOk)

  def validated(spark: SparkSession): DataFrame =
    validatedFrom(parsed(spark))

  /** Valid half of the split — the insert path (`Final_app.py:71-76`). */
  def valid(spark: SparkSession): DataFrame =
    validated(spark).filter(col("arity_ok"))

  /** Invalid half — the alert path. */
  def invalid(spark: SparkSession): DataFrame =
    validated(spark).filter(!col("arity_ok"))

  /** C3 — positional pivot: vector[0..11] + payload date → the 13 named
    * columns of `investment_data` (`ti.xcom_push` ×13,
    * `Final_app.py:54-66`). Pure projection, no shuffle. Output schema is
    * exactly the reference DDL: 13 TEXT columns.
    */
  def pivotWide(df: DataFrame): DataFrame = {
    val amounts = Schemas.investmentCols.tail.zipWithIndex.map {
      // element_at is 1-based; vector position i ↔ column i+1
      case (name, i) => element_at(col("vec"), i + 1).as(name)
    }
    df.select(col("date").as("dt") +: amounts: _*)
  }

  /** The flagship end-to-end plan: all three golden scenarios in, exactly
    * the golden `investment_data` row out (FIXTURES.md §1d).
    */
  def flagship(spark: SparkSession): DataFrame = pivotWide(valid(spark))

  /** The inverse of [[pivotWide]]: melt the wide 13-column contract row
    * back to long (series, amount) form — `Dataset.unpivot`, the
    * shuffle-free per-row transform (C3's positional pivot run in
    * reverse). Round-trip closure over the golden row is oracle-checked.
    */
  def unpivotLong(spark: SparkSession): DataFrame = {
    val wide = flagship(spark)
    wide.unpivot(
      Array(col("dt")),
      graft.model.Schemas.investmentCols.tail.map(col).toArray,
      "series", "amount")
  }

  /** E1 — append sink + A3 readback round-trip. The reference appends one
    * row per day into Postgres (`Final_app.py:106-128`) and verifies by
    * `SELECT *` readback (`insert_data.py:53-61`). Here: append Parquet
    * (JDBC in production — same `df.write` API), then scan it back. At
    * scale the layout is `dt`-partitioned Parquet so per-day reads prune
    * to one partition.
    */
  def sinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    flagship(spark).write.mode("overwrite").parquet(dir)
    spark.read.schema(Schemas.investmentData).parquet(dir)
  }

  /** E1 at scale — the production layout: `dt`-partitioned parquet, so a
    * per-day read prunes to one partition (the reference reads back the
    * whole table, `insert_data.py:57`; at 100 TB only partition pruning
    * makes that viable). The readback's declared schema keeps `dt` the
    * contract's TEXT instead of an inferred integer partition column.
    */
  def sinkPartitioned(spark: SparkSession, dir: String): DataFrame = {
    flagship(spark).write.mode("overwrite").partitionBy("dt").parquet(dir)
    spark.read.schema(Schemas.investmentData).parquet(dir)
      .filter(col("dt") === "20220819") // prunes to the single partition
      .select(Schemas.investmentCols.map(col): _*)
  }

  /** F2 — each `investment_data` row of `wide` as the INSERT statement
    * the reference renders with Jinja (`Final_app.py:106-128`), in the
    * column `rendered_sql`. Values are quoted, not escaped: the
    * contract's values are digits and a date.
    */
  def insertSql(wide: DataFrame): DataFrame = {
    val quoted = Schemas.investmentCols.map(c => concat(lit("'"), col(c), lit("'")))
    wide.select(concat(
      lit(s"INSERT INTO investment_data(${Schemas.investmentCols.mkString(", ")}) VALUES ("),
      concat_ws(", ", quoted: _*),
      lit(")")).as("rendered_sql"))
  }

  /** CSV source/sink round-trip — same contract row through a second
    * interchange format (explicit schema on read; header on).
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    flagship(spark).write.mode("overwrite").option("header", "true").csv(dir)
    spark.read.schema(Schemas.investmentData).option("header", "true").csv(dir)
  }

  /** G1 — market-open routing (`scrapy_condition`, `Final_app.py:34-39`):
    * payload → downstream task name. Value-level `when/otherwise` view of
    * the branch; task-level semantics are the `open`/closed filter-split.
    */
  def branchMarket(spark: SparkSession): DataFrame = branchMarketFrom(parsed(spark))

  def branchMarketFrom(parsedDf: DataFrame): DataFrame =
    parsedDf.select(
      col("date"),
      when(marketOpen, lit("scrapy")).otherwise(lit("do_nothing")).as("branch")
    )

  /** G2 — arity routing (`length_condition`, `Final_app.py:71-76`). */
  def branchArity(spark: SparkSession): DataFrame = branchArityFrom(parsed(spark))

  def branchArityFrom(parsedDf: DataFrame): DataFrame =
    validatedFrom(parsedDf).select(
      col("date"),
      when(col("arity_ok"), lit("insert_data"))
        .otherwise(lit("alert")).as("branch")
    )

  /** G1 + G2 in one projection: every payload's terminal task —
    * `do_nothing` (market closed), `insert_data` (a 12-vector) or
    * `alert` (format drift) — beside its date and cleaned `vec`, by the
    * same predicates as [[branchMarket]] and [[branchArity]]. One pass
    * routes a whole batch; only `insert_data` rows may reach
    * [[pivotWide]], whose `element_at` throws on a short vector under
    * ANSI.
    */
  def routedFrom(parsedDf: DataFrame): DataFrame =
    parsedDf.withColumn("vec", vec).select(col("date"), col("vec"),
      when(marketOpen, when(arityOk, lit("insert_data")).otherwise(lit("alert")))
        .otherwise(lit("do_nothing")).as("route"))

  /** E2 — success-notification sink (`notice_bot`, `Final_app.py:137-142`):
    * one message row per successfully-inserted day. Modeled as a message
    * DataFrame; the side-effecting POST is [[NotifySink.send]] of each
    * row's `message`.
    */
  def notifySuccess(spark: SparkSession): DataFrame =
    valid(spark).select(
      col("date"),
      concat(col("date"), lit(successMsgSuffix)).as("message")
    )

  /** E3 — drift-alert sink (`alert_bot`, `Final_app.py:130-135`), fed by
    * the invalid half of the B2 split. Constant message, one row per
    * drifted day.
    */
  def notifyAlert(spark: SparkSession): DataFrame =
    invalid(spark).select(col("date"), lit(alertMsg).as("message"))
}
