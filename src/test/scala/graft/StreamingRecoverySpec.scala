package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** G3 resilience semantics, end-to-end: a checkpointed file-sink stream
  * stopped and restarted processes each input file exactly once. The
  * restart resumes from the checkpoint's offset log and the file sink's
  * own metadata log makes output files atomic — the production recovery
  * story (the reference's `retries: 2` maps to task re-attempts inside a
  * run; the checkpoint covers whole-run restarts). The outer-join restart
  * runs through the engine's stream terminal, so its state is recovered
  * from the RocksDB changelog checkpoints every engine stream writes.
  */
class StreamingRecoverySpec extends SparkTestBase {

  test("checkpointed restart is exactly-once: no loss, no duplicates") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_recovery")
    val srcDir = root.resolve("src").toString
    val sinkDir = root.resolve("sink").toString
    val chkDir = root.resolve("chk").toString

    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, i * 2.0)).toDF("id", "v")

    def runOnce(): Unit = {
      val q = spark.readStream.schema("id LONG, v DOUBLE").parquet(srcDir)
        .withColumn("v10", col("v") * 10)
        .writeStream.format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", chkDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    part(1, 100).coalesce(1).write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(sinkDir).count() === 100)

    // new data lands while the stream is DOWN; the restart must pick up
    // exactly the new file — rerunning the old one would double rows
    part(101, 150).coalesce(1).write.mode("append").parquet(srcDir)
    runOnce()
    val out = spark.read.parquet(sinkDir)
    assert(out.count() === 150)
    assert(out.select(countDistinct(col("id"))).head.getLong(0) === 150)
    // values flowed through the transform, not just the row count
    val expected = (1 to 150).map(i => i * 2.0 * 10).sum
    assert(out.select(sum(col("v10"))).head.getDouble(0) === expected)

    // a third restart with NO new input must be a clean no-op
    runOnce()
    assert(spark.read.parquet(sinkDir).count() === 150)
  }

  test("outer-join STATE survives a checkpointed restart: cross-run match, then null-emission") {
    val root = Files.createTempDirectory("graft_recovery_join")
    val srcDir = root.resolve("src").toString
    val sinkDir = root.resolve("sink").toString
    new java.io.File(srcDir).mkdirs()

    var fileNo = 0
    def writeFile(rows: Seq[(Long, String, Long, String)]): Unit = {
      import spark.implicits._
      fileNo += 1
      rows.toDF("user", "kind", "id", "ts_s")
        .select(col("user"), col("kind"), col("id"),
          to_timestamp(col("ts_s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      // the file source orders by mod time; keep arrival order explicit
      Thread.sleep(1100)
    }

    def runOnce(): Unit = {
      def side(kind: String, idAs: String, tsAs: String) =
        spark.readStream
          .schema("user LONG, kind STRING, id LONG, ts TIMESTAMP")
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
          .select(col("user").as(s"${kind}_user"), col("kind"),
            col("id").as(idAs), col("ts").as(tsAs))
          .withWatermark(tsAs, "10 minutes")
          // watermark rows pass the collector, never the join
          .filter(col("kind") === kind || col(tsAs).isNull)
          .drop("kind")
      val joined = side("view", "view_id", "view_ts")
        .join(side("purchase", "purchase_id", "purchase_ts"),
          col("view_user") === col("purchase_user")
            && col("purchase_ts") >= col("view_ts")
            && col("purchase_ts") <= col("view_ts") + expr("interval 30 minutes"),
          "leftOuter")
        .select(col("view_user").as("user"), col("view_id"), col("purchase_id"))
      // the engine's stream terminal: the join state runs in the scope
      // every engine stream gets (RocksDB, changelog checkpointing), with
      // the checkpoint in `root/checkpoint` across the restarts
      graft.streaming.EventsStreaming.runAvailableNow(root, joined)((batch, _) =>
        batch.write.mode("append").parquet(sinkDir))
    }

    // run 1: two views, no purchases — nothing can emit yet
    writeFile(Seq((1L, "view", 100L, "2024-01-01 10:00:00"),
      (2L, "view", 200L, "2024-01-01 10:00:00")))
    runOnce()

    // run 2 (RESTART): user 1's purchase arrives within the interval —
    // the match can only emit if run 1's buffered view state was
    // recovered from the checkpoint
    writeFile(Seq((1L, "purchase", 500L, "2024-01-01 10:20:00")))
    runOnce()
    val afterMatch = spark.read.parquet(sinkDir)
      .filter(col("purchase_id").isNotNull).collect()
    assert(afterMatch.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((1L, 100L, 500L)), "cross-restart join match must emit from recovered state")

    // run 3 (RESTART): watermark pushed far past every view's expiry by
    // two successive marker files — user 2's unmatched view must emit
    // exactly once WITH a null purchase
    writeFile(Seq((9L, "wm", -1L, "2024-01-01 20:00:00")))
    writeFile(Seq((9L, "wm", -2L, "2024-01-01 21:00:00")))
    runOnce()
    val out = spark.read.parquet(sinkDir).collect()
    assert(out.length === 2, s"expected exactly 2 rows, got ${out.toSeq}")
    val nullRow = out.filter(_.isNullAt(2))
    assert(nullRow.length === 1 && nullRow.head.getLong(1) === 200L,
      "watermark-expired view must null-emit exactly once after restart")
    val walk = Files.walk(root.resolve("checkpoint"))
    try assert(walk.iterator.asScala.exists(_.toString.endsWith(".changelog")),
      "the restarted join state must be RocksDB changelog checkpoints")
    finally walk.close()
  }
}
