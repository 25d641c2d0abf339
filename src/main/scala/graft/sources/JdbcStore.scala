package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.DailyApp
import graft.model.Schemas

/** A real JDBC storage path — the reference's actual store is Postgres
  * written through a DB API (`/root/reference/dags/insert_data.py:53-61`,
  * `dags/Final_app.py:106-128`); everywhere else in this engine the
  * parquet sink stands in for it. Here the SAME `spark.read/write
  * .format("jdbc")` surface runs against embedded Derby (ships in
  * Spark's jars), so the full DDL + append + readback semantics are
  * exercised end-to-end; production swaps the URL/driver for Postgres
  * and nothing else changes.
  *
  * Scale notes: the single-row contract table is trivially fine; the
  * events table demonstrates the part that matters at volume — a JDBC
  * read split into `numPartitions` concurrent range scans on a numeric
  * partition column, which is the only way a JDBC source feeds a large
  * cluster without serializing through one connection.
  */
object JdbcStore {

  // Keep Derby's log out of the repo working dir.
  System.setProperty("derby.system.home", sys.props("java.io.tmpdir"))

  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private def url(db: String) =
    s"jdbc:derby:${sys.props("java.io.tmpdir")}/graft_derby_$db;create=true"

  /** The production write configuration — Postgres, pinned to the
    * reference's DDL (`database/sql/create_table.sql:2-16`: table
    * `investment_data`, 13 TEXT NOT NULL columns led by `dt`). The same
    * `write.format("jdbc")` call used in `roundtrip` takes exactly these
    * options; Spark's PostgresDialect maps the StringType columns to
    * TEXT, so the created table matches the reference DDL column for
    * column. No Postgres server exists in the sandbox — the spec asserts
    * this mapping; Derby below exercises the identical codepath live.
    */
  def postgresWriteOptions(host: String, db: String): Map[String, String] = Map(
    "url" -> s"jdbc:postgresql://$host/$db",
    "driver" -> "org.postgresql.Driver",
    "dbtable" -> "investment_data",
    "createTableColumnTypes" ->
      Schemas.investmentCols.map(c => s"$c TEXT").mkString(", "))

  /** E1/A3 over JDBC: create the reference DDL (13 TEXT columns —
    * `README.md:292` stores amounts as text; VARCHAR here), append the
    * flagship row, read the table back.
    */
  def roundtrip(spark: SparkSession): DataFrame = {
    val ddl = Schemas.investmentCols.map(c => s"$c VARCHAR(32)").mkString(", ")
    graft.operators.TwsePipeline.flagship(spark).write
      .format("jdbc").mode(SaveMode.Overwrite).options(investmentTable(url("twse")))
      .option("createTableColumnTypes", ddl)
      .save()
    investmentData(spark, url("twse"))
  }

  /** Options naming `investment_data` in the Derby database at `jdbcUrl`. */
  private def investmentTable(jdbcUrl: String): Map[String, String] =
    Map("url" -> jdbcUrl, "driver" -> driver, "dbtable" -> "investment_data")

  /** The `investment_data` table of the Derby database at `jdbcUrl`. */
  def investmentData(spark: SparkSession, jdbcUrl: String): DataFrame =
    spark.read.format("jdbc").options(investmentTable(jdbcUrl)).load()

  /** The reference table over JDBC as a daily tick's append target:
    * `investment_data` is created on first use with the reference DDL —
    * 13 text columns led by `dt`, all NOT NULL, and no other column
    * (VARCHAR on Derby, which has no TEXT; the names quoted so they stay
    * lower case, as Postgres folds them). `held` is a `dt IN (...)` read
    * the JDBC source pushes to the database, `append` Spark's JDBC
    * writer. One row per day, so a day's append is one row committed or
    * absent, which is what the tick's dt guard needs.
    */
  final class InvestmentTarget(spark: SparkSession, jdbcUrl: String)
      extends DailyApp.AppendTarget {
    locally {
      Class.forName(driver)
      val conn = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = conn.getMetaData.getTables(null, null, "INVESTMENT_DATA", null)
        if (!(try rs.next() finally rs.close())) {
          val st = conn.createStatement()
          try st.executeUpdate("CREATE TABLE investment_data (" + Schemas.investmentCols
            .map(c => s""""$c" VARCHAR(32) NOT NULL""").mkString(", ") + ")")
          finally st.close()
        }
      } finally conn.close()
    }
    def held(dates: Seq[String]): Set[String] =
      investmentData(spark, jdbcUrl).select(col("dt")).filter(col("dt").isin(dates: _*))
        .collect().map(_.getString(0)).toSet
    def append(rows: DataFrame): Unit =
      rows.write.format("jdbc").mode(SaveMode.Append).options(investmentTable(jdbcUrl)).save()
  }

  /** The JDBC scale path: persist the daily event aggregate, then read
    * it back as FOUR concurrent range scans over a numeric partition
    * column (`yyyymmdd` as int64). Bounds are static span-of-calendar
    * values — they only shape the ranges; rows outside them still land
    * in the first/last partition, so no driver-side min/max scan is
    * needed.
    */
  def eventsDailyPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    graft.operators.Analytics.eventsDaily(spark, sfDir)
      .withColumn("day_num", regexp_replace(col("day"), "-", "").cast("bigint"))
      .write.format("jdbc").mode(SaveMode.Overwrite)
      .option("url", url("events")).option("driver", driver)
      .option("dbtable", "events_daily")
      .option("createTableColumnTypes",
        "day VARCHAR(10), event_type VARCHAR(32), n BIGINT, " +
          "total_value DOUBLE, day_num BIGINT")
      .save()
    spark.read.format("jdbc")
      .option("url", url("events")).option("driver", driver)
      .option("dbtable", "events_daily")
      .option("partitionColumn", "day_num")
      .option("lowerBound", "19700101")
      .option("upperBound", "20500101")
      .option("numPartitions", "4")
      .load()
      .select(col("day"), col("event_type"), col("n"), col("total_value"))
  }
}
