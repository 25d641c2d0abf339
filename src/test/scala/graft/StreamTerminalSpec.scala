package graft

import org.apache.spark.sql.functions.col

import graft.model.Schemas
import graft.streaming.EventsStreaming

/** Every stream that once hand-rolled its own `Trigger.AvailableNow`
  * terminal now runs through `EventsStreaming.runAvailableNow`: one run
  * dir, one checkpoint, and a progress trail whose input rows account for
  * every row of the landing the stream read.
  */
class StreamTerminalSpec extends SparkTestBase {

  private def parquetRows(landing: String): Long = spark.read.parquet(landing).count()

  /** The flagship's JSON scan applies the pipeline's pushed `stat = 'OK'`
    * predicate while parsing, so its input rows are the OK payloads: two
    * of the three golden fixtures (the third is the market-closed day).
    */
  private def okPayloads(landing: String): Long =
    spark.read.schema(Schemas.twsePayload).json(landing)
      .filter(col("stat") === "OK").count()

  /** (query key, the rows its landing yields to the stream's file source) */
  private val table: Seq[(String, String => Long)] = Seq(
    "q_stream_daily_rollup" -> parquetRows,
    "q_stream_quarantine" -> parquetRows,
    "q_stream_cdc_apply" -> parquetRows,
    "q_stream_dedup_minhash" -> parquetRows,
    "q_stream_flagship" -> okPayloads,
    "q_stream_flagship_jdbc" -> okPayloads,
    "q_state_inspect" -> parquetRows)

  table.foreach { case (key, landingRows) =>
    test(s"$key leaves a trail whose input rows equal its landing's rows") {
      val before = EventsStreaming.trails.size
      SparkEntry.queries(key)(spark, sf())
      val Seq(trail) = EventsStreaming.trails.drop(before)
      assert(trail.progress.nonEmpty, s"$key left an empty trail")
      // a file source describes itself as FileStreamSource[<landing uri>]
      val Seq(source) = trail.progress.head.sources.toSeq
      val landing = source.description.stripPrefix("FileStreamSource[").stripSuffix("]")
      val landed = landingRows(landing)
      assert(landed > 0)
      assert(trail.progress.map(_.numInputRows).sum === landed, key)
    }
  }
}
