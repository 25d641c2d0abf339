package graft.streaming

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.Staging
import graft.model.Schemas

/** Exactly-once JDBC streaming terminal — the production form of the
  * reference's append-only Postgres INSERT (`Final_app.py:106-128`) as a
  * `foreachBatch` sink.
  *
  * Structured Streaming's checkpoint replays a micro-batch after a crash
  * or restart, so delivery into the sink is at-least-once; exactly-once
  * requires the SINK to be idempotent per batch. The standard pattern,
  * implemented here: stamp every row with its `batch_id` and make the
  * write *delete-then-append* keyed by that id — a replayed batch first
  * deletes whatever any earlier (possibly partial) delivery of the same
  * batch left behind, then appends the full batch. Net effect: each
  * micro-batch's rows appear in the table exactly once, no matter how
  * many times the batch is re-delivered or where a crash landed.
  *
  * Derby here; production swaps the URL/driver for Postgres (see
  * `JdbcStore.postgresWriteOptions`) and nothing else changes.
  */
object JdbcStreamSink {

  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Driver-side statement against the sink database (DDL, batch-replay
    * delete). Row data never flows through here — appends run
    * executor-side through the Spark JDBC writer.
    */
  private def execUpdate(jdbcUrl: String, sql: String): Unit = {
    Class.forName(driver)
    val conn = DriverManager.getConnection(jdbcUrl)
    try { val st = conn.createStatement(); try st.executeUpdate(sql) finally st.close() }
    finally conn.close()
  }

  private def tableExists(jdbcUrl: String, table: String): Boolean = {
    Class.forName(driver)
    val conn = DriverManager.getConnection(jdbcUrl)
    try {
      val rs = conn.getMetaData.getTables(null, null, table.toUpperCase, null)
      try rs.next() finally rs.close()
    } finally conn.close()
  }

  /** Idempotent per-batch append: delete any earlier delivery of this
    * `batchId`, then append the batch with the id stamped on every row.
    */
  def exactlyOnceAppend(batch: DataFrame, batchId: Long, jdbcUrl: String,
      table: String, ddl: String): Unit = {
    // Spark's JDBC writer quotes column identifiers on CREATE, so the
    // stored column is the case-sensitive "batch_id" — quote it here too
    if (tableExists(jdbcUrl, table))
      execUpdate(jdbcUrl, s"""DELETE FROM $table WHERE "batch_id" = $batchId""")
    batch.withColumn("batch_id", lit(batchId))
      .write.format("jdbc").mode(SaveMode.Append)
      .option("url", jdbcUrl).option("driver", driver)
      .option("dbtable", table)
      .option("createTableColumnTypes", s"$ddl, batch_id BIGINT")
      .save()
  }

  /** The delete-then-append delivery of ONE batch, rendered as portable
    * ANSI SQL text — the PROTOCOL with the transport factored out. The
    * Spark-JDBC path above is the executor-parallel production writer;
    * this rendering exists so the same idempotence contract can be
    * driven over any statement channel — PostgresRealSpec executes these
    * statements against a LIVE PostgreSQL 15 through the psql wire path
    * (the sandbox ships no Postgres JDBC driver jar, so the Spark writer
    * itself can only be exercised against Derby). Values are escaped by
    * SQL's only string-literal rule (doubled single quotes).
    */
  def renderBatchStatements(rows: Seq[Seq[String]], cols: Seq[String],
      batchId: Long, table: String): Seq[String] = {
    val colList = (cols :+ "batch_id").mkString(", ")
    val del = s"DELETE FROM $table WHERE batch_id = $batchId"
    val inserts = rows.map { r =>
      val vals = (r.map(v => "'" + v.replace("'", "''") + "'")
        :+ batchId.toString).mkString(", ")
      s"INSERT INTO $table($colList) VALUES ($vals)"
    }
    del +: inserts
  }

  /** The flagship pipeline streamed into the exactly-once JDBC terminal:
    * file-source micro-batches → parse/validate/pivot → delete-then-
    * append into the `investment_data`-shaped table → readback (without
    * the bookkeeping column).
    */
  def flagshipStreamJdbc(spark: SparkSession): DataFrame = {
    // fresh DB per run: no stale replays
    val jdbcUrl = s"jdbc:derby:${Staging.runDir("graft_stream_derby")};create=true"
    val table = "investment_stream"
    val ddl = Schemas.investmentCols.map(c => s"$c VARCHAR(32)").mkString(", ")

    TwseStreaming.flagshipStreamInto(spark, (batch: DataFrame, batchId: Long) =>
      exactlyOnceAppend(batch, batchId, jdbcUrl, table, ddl))

    spark.read.format("jdbc")
      .option("url", jdbcUrl).option("driver", driver)
      .option("dbtable", table)
      .load()
      .select(Schemas.investmentCols.map(col): _*)
  }
}
