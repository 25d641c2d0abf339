package graft

import graft.model.Schemas
import graft.streaming.EventsStreaming

/** Every stream that once hand-rolled its own `Trigger.AvailableNow`
  * terminal, and every `DailyApp` tick, runs through
  * `EventsStreaming.runAvailableNow`: one run dir, one checkpoint, and a
  * progress trail whose input rows account for every row of the landing
  * the stream read. The three keys that run a tick over the golden
  * window read each of its three landed payloads, the market-closed day
  * included: the tick routes a closed day, it does not filter it out.
  */
class StreamTerminalSpec extends SparkTestBase {

  private def parquetRows(landing: String): Long = spark.read.parquet(landing).count()

  private def payloads(landing: String): Long =
    spark.read.schema(Schemas.twsePayload).json(landing).count()

  /** (query key, the rows its landing yields to the stream's file source) */
  private val table: Seq[(String, String => Long)] = Seq(
    "q_stream_daily_rollup" -> parquetRows,
    "q_stream_quarantine" -> parquetRows,
    "q_stream_cdc_apply" -> parquetRows,
    "q_stream_dedup_minhash" -> parquetRows,
    "q_stream_flagship" -> payloads,
    "q_stream_flagship_jdbc" -> payloads,
    "q_daily_routes" -> payloads,
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
