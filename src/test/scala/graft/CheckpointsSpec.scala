package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** I2 durability: the connected-components loops must run identically
  * under the reliable-checkpoint policy (`graft.cc.checkpointDir` set →
  * `Dataset.checkpoint()` to fault-tolerant storage, survives executor
  * loss) and the test-mode default (`localCheckpoint`).
  */
class CheckpointsSpec extends SparkTestBase {

  private def withReliableDir[A](body: String => A): A = {
    val dir = Files.createTempDirectory("graft_cc_reliable").toString
    spark.conf.set(GraftConf.CheckpointDir.key, dir)
    try body(dir)
    finally spark.conf.unset(GraftConf.CheckpointDir.key)
  }

  test("truncate writes reliable checkpoint files when the dir is configured") {
    withReliableDir { dir =>
      val df = Checkpoints.truncate(spark.range(100).toDF("n"))
      assert(df.count() === 100)
      // setCheckpointDir nests a UUID subdir; the checkpoint RDD dirs live under it
      val files = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).count()
      assert(files > 0, "expected checkpoint part files under the reliable dir")
    }
  }

  test("CC over pairs: reliable-checkpoint mode equals localCheckpoint mode") {
    import spark.implicits._
    // two chains and a singleton: {1..5} via consecutive edges, {10,11}, {20}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val nodes = (Seq(20L) ++ (1L to 5L) ++ Seq(10L, 11L)).toDF("doc_id")
    val expected = canon(
      Dedup.componentsFromPairs(spark, pairs, nodes))
    val reliable = withReliableDir { _ =>
      canon(Dedup.componentsFromPairs(spark, pairs, nodes))
    }
    assert(reliable === expected)
    assert(expected.exists(_.startsWith("1|1|true"))) // min-label canonical
  }

  test("oracle CC queries stay green under the reliable policy") {
    val base = canon(Dedup.components(spark, sf()))
    val semBase = canon(Similarity.semanticDedup(spark, sf()))
    withReliableDir { _ =>
      assert(canon(Dedup.components(spark, sf())) === base)
      assert(canon(Similarity.semanticDedup(spark, sf())) === semBase)
    }
  }
}
