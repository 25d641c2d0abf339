package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.EventsStreaming

/** The maintained daily-partials table: three micro-batch upserts
  * (dynamic partition overwrite, touched days only) must land on
  * exactly the from-scratch aggregate — the incremental-maintenance
  * contract q_agg_merge_partial's algebra promises — also when the last
  * batch is replayed after a crash.
  */
class RollupSpec extends SparkTestBase {

  test("foreachBatch-maintained rollup equals from-scratch aggregate after 3 micro-batches") {
    val out = EventsStreaming.dailyRollupMaintained(spark, sf())
    val fromScratch = graft.sources.Tables.events(spark, sf())
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .cast("double") / 100.0).as("total_value"))
    assert(canon(out) === canon(fromScratch))
    assert(out.count() > 0)
  }

  test("a restart after a crash between the table commit and the checkpoint commit merges no batch twice") {
    val run = Staging.runDir("rollup_replay")
    val whole = canon(EventsStreaming.dailyRollupIn(spark, sf(), run))
    // the on-disk state of that crash in the last batch: its table commit
    // landed, its checkpoint commit did not (nor an applied marker, for a
    // table that keeps one)
    val commits = run.resolve("checkpoint/commits")
    val last = commits.toFile.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    Files.deleteIfExists(run.resolve(s"table/_applied_$last"))
    val restarted = canon(EventsStreaming.dailyRollupIn(spark, sf(), run))
    assert(Files.exists(commits.resolve(last.toString)),
      s"batch $last was not replayed")
    assert(restarted === whole)
  }
}

