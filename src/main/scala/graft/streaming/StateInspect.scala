package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** State-store introspection via Spark's `statestore` data source — the
  * observability half of stateful streaming: the store is not a black
  * box, it is a TABLE. Reading a checkpoint's state directly answers the
  * operational questions a 100 TB streaming deployment asks — how many
  * keys, which keys are hot, is state growing without bound — without
  * touching (or even running) the query that owns it, and it is how a
  * stuck job's state gets audited or repaired offline.
  */
object StateInspect {

  /** Run a keyed streaming aggregation to completion, then read its
    * RESULT back out of the checkpoint's state store and verify it
    * against the batch contract: per-event-type counts and exact
    * purchase cents. The query's own sink is a no-op — every output row
    * here comes from `format("statestore")` on the checkpoint, proving
    * the state table IS the aggregate (update-mode streaming aggs keep
    * the full buffer per key; the final micro-batch's store holds the
    * complete answer).
    *
    * Scale: the state source reads one store shard per state partition
    * in parallel — same parallelism as the query that wrote it.
    */
  def aggStateReadback(spark: SparkSession, sfDir: String): DataFrame = {
    // fresh run dir per call: a stale checkpoint from an earlier run
    // would make AvailableNow consider the source fully processed and
    // leave this run reading another run's state
    val run = graft.Staging.runDir("graft_state_inspect")
    val agg = EventsStreaming.eventsStream(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase",
          (col("value").cast("decimal(12,2)") * 100).cast("long"))
          .otherwise(lit(0L))).as("spend_c"))
    // the sink is a full-scan no-op: every partition must be processed
    // or the state store never commits (commit validation enforces it)
    EventsStreaming.runAvailableNow(run, agg, OutputMode.Update)((b, _) =>
      b.write.mode("overwrite").format("noop").save())

    // the checkpoint's state store, read as a table
    // value holds the raw aggregation buffer — fields are named for the
    // buffer functions (count, sum), not the query's output aliases
    spark.read.format("statestore").load(run.resolve("checkpoint").toString)
      .select(col("key.event_type").as("event_type"),
        col("value.count").as("n_events"),
        col("value.sum").as("spend_c"))
  }
}
