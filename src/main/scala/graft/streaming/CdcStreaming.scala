package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Staging
import graft.sources.Tables

/** Streaming CDC consumer — the online form of `Formats.cdcApply`: an
  * ORDERED insert/update/delete log arrives in micro-batches and is
  * MERGEd into a maintained keyed table, batch by batch, exactly once.
  *
  * The merge is generational: each `foreachBatch` reads the previous
  * generation, resolves per-key winners (highest change version;
  * DELETE tombstones are RETAINED so a replayed older change can never
  * resurrect a deleted key), and writes generation `gen=<n>` gated on
  * its `_SUCCESS` marker — a crashed half-write is invisible and the
  * checkpoint replays the batch onto the last durable generation, so
  * at-least-once delivery still yields an exactly-once table (the
  * version resolution is idempotent). This is MERGE INTO's streaming
  * loop without a table format: on Delta/Iceberg the generation dir is
  * one atomic commit.
  *
  * Scale: each merge shuffles previous ∪ batch on the key — cost tracks
  * the TABLE size, the right trade when batches touch scattered keys;
  * day-partitioned upserts (q_stream_daily_rollup) are the other point
  * in that space, rewriting only touched partitions.
  */
object CdcStreaming {

  private val logSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("p_cents", LongType),
    StructField("v", IntegerType),
    StructField("op", StringType)))

  /** Stage the cdcApply change log as two mtime-ordered files: the v=1
    * insert snapshot, then the v=2 update/delete batch.
    */
  private def stagedLogDir(spark: SparkSession, sfDir: String): String =
    Staging.landingFiles(spark, "cdclog", sfDir, Seq(s"$sfDir/orders.parquet")) {
      val base = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("p_cents"))
      Seq("batch1.parquet" -> base.select(col("o_orderkey"), col("o_orderstatus"),
          col("p_cents"), lit(1).as("v"), lit("I").as("op")),
        "batch2.parquet" -> base.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("p_cents"),
            lit(2).as("v"), lit("D").as("op"))
          .union(base.filter(col("o_orderkey") % 10 === 1)
            .select(col("o_orderkey"), col("o_orderstatus"),
              (col("p_cents") * 2).as("p_cents"),
              lit(2).as("v"), lit("U").as("op"))))
    }

  private def latestGen(tableDir: java.nio.file.Path): Option[java.nio.file.Path] =
    if (!java.nio.file.Files.exists(tableDir)) None
    else {
      val gens = graft.FsUtil.listDir(tableDir)
        .filter(p => p.getFileName.toString.startsWith("gen=")
          && java.nio.file.Files.exists(p.resolve("_SUCCESS")))
      if (gens.isEmpty) None
      else Some(gens.maxBy(_.getFileName.toString.drop(4).toLong))
    }

  /** Run the CDC stream to completion and return the live-row rollup
    * (same contract as the batch `q_cdc_apply`).
    */
  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    val run = Staging.runDir("graft_stream_cdc")
    val tableDir = run.resolve("table")
    val byKey = Window.partitionBy(col("o_orderkey"))
      .orderBy(col("v").desc, col("op").desc)
    val log = spark.readStream.schema(logSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedLogDir(spark, sfDir))
    EventsStreaming.runAvailableNow(run, log) { (batch, batchId) =>
      val prev = latestGen(tableDir)
        .map(p => Tables.parquet(batch.sparkSession, p.toString))
      val merged = prev.map(_.union(batch)).getOrElse(batch)
        .withColumn("rn", row_number().over(byKey))
        .filter(col("rn") === 1).drop("rn")
      merged.write.mode("overwrite")
        .parquet(tableDir.resolve(s"gen=$batchId").toString)
    }
    val live = latestGen(tableDir) match {
      case Some(p) => Tables.parquet(spark, p.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        logSchema)
    }
    live.filter(col("op") =!= "D")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("p_cents")).cast("long").as("sum_total_c"))
  }
}
