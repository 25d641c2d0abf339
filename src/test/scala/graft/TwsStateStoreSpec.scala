package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The state-store confs of transformWithState queries: the operator
  * always runs on RocksDB, whatever `graft.streaming.stateProvider` says,
  * and `graft.streaming.rocksdbChangelog` is its one changelog switch —
  * off means the state checkpoint holds snapshots and no `*.changelog`
  * file.
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

  test("rocksdbChangelog=0 keeps changelog checkpointing off for transformWithState") {
    assert(runTws()._2.nonEmpty, "default (on) wrote no changelog files")
    val key = "graft.streaming.rocksdbChangelog"
    val off = withConf(key, "0")(runTws()._2)
    assert(off.isEmpty, s"changelog files written with $key=0: ${off.take(3).mkString(", ")}")
  }

  test("transformWithState runs on RocksDB under stateProvider=heap") {
    val (rows, _) = runTws()
    assert(rows.nonEmpty)
    assert(withConf("graft.streaming.stateProvider", "heap")(runTws()._1) === rows)
  }
}
