package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The state-store confs of transformWithState queries: the operator
  * always runs on RocksDB, whatever `graft.streaming.stateProvider` says,
  * and always with changelog checkpointing, so its state checkpoint holds
  * `*.changelog` files.
  */
class TwsStateStoreSpec extends SparkTestBase {

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** Run q_stream_tws; return its rows and the changelog files of its state checkpoint. */
  private def runTws(): (Seq[String], Seq[Path]) = {
    val rows = canon(SparkEntry.queries("q_stream_tws")(spark, sf()))
    val run = graft.streaming.EventsStreaming.lastTrail("graft_stream_tws_").get.dir
    val walk = Files.walk(run.resolve("checkpoint"))
    try (rows, walk.iterator.asScala.filter(_.toString.endsWith(".changelog")).toList)
    finally walk.close()
  }

  test("transformWithState checkpoints its state as RocksDB changelog files") {
    assert(runTws()._2.nonEmpty, "no changelog files in the state checkpoint")
  }

  test("transformWithState runs on RocksDB under stateProvider=heap") {
    val (rows, _) = runTws()
    assert(rows.nonEmpty)
    assert(withConf("graft.streaming.stateProvider", "heap")(runTws()._1) === rows)
  }
}
