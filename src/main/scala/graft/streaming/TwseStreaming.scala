package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Staging
import graft.model.{Schemas, TwseFixtures}
import graft.operators.TwsePipeline

/** The flagship TWSE pipeline as a Structured Streaming job — the
  * reference's actual operating mode: one new payload lands per trading
  * day and is incrementally appended (`@daily` schedule + append-only
  * INSERT, reference `Final_app.py:17,109`).
  *
  * Shape: file-source micro-batch (one JSON payload file per day landing
  * in a directory) → the SAME parse/filter/clean/validate/pivot transform
  * chain as the batch plan → `foreachBatch` sink doing the idempotent
  * append (JDBC in production, parquet here) — with
  * `Trigger.AvailableNow` standing in for the daily scheduler tick.
  */
object TwseStreaming {

  /** The flagship pipeline streamed through a pluggable per-batch
    * deliverer: the three golden fixtures land in a fresh run dir, then
    * file-source micro-batches → parse/validate/pivot →
    * `deliver(batch, batchId)`. Shared by the parquet terminal below, the
    * Derby JDBC terminal (`JdbcStreamSink`) and PostgresRealSpec's
    * live-Postgres psql deliverer.
    */
  private[graft] def flagshipStreamInto(spark: SparkSession,
      deliver: (DataFrame, Long) => Unit): Unit = {
    val run = Staging.runDir("graft_stream_flagship")
    val landing = run.resolve("landing")
    Files.createDirectories(landing)
    TwseFixtures.all.zipWithIndex.foreach { case (payload, i) =>
      Files.write(landing.resolve(s"day_$i.json"),
        payload.getBytes(StandardCharsets.UTF_8))
    }
    val parsedStream = spark.readStream
      .schema(Schemas.twsePayload)
      .json(landing.toString)
    val validRows = TwsePipeline.pivotWide(
      TwsePipeline.validatedFrom(parsedStream).filter(col("arity_ok")))
    EventsStreaming.runAvailableNow(run, validRows)(deliver)
  }

  /** Run the stream over the three golden fixtures and return the
    * appended `investment_data` readback — which must equal the batch
    * flagship output (the golden row).
    */
  def flagshipStream(spark: SparkSession): DataFrame = {
    val sink = Staging.runDir("graft_stream_flagship_sink").toString
    // the reference's PostgresOperator append (E1), per micro-batch
    flagshipStreamInto(spark, (batch, _) => batch.write.mode("append").parquet(sink))
    spark.read.parquet(sink) // A3 readback — the verification path
  }
}
