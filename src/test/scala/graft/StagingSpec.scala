package graft

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.streaming.{DocsStreaming, EventsStreaming}

/** The key and publish rules of `graft.Staging`: a landing or layout is
  * keyed on its data dir's absolute path and input fingerprint, a build
  * that throws publishes nothing, every stream run gets its own dir, and
  * `Reclaim` sweeps only what `Staging` marks as swept.
  */
class StagingSpec extends SparkTestBase {

  private val tmp = Paths.get(sys.props("java.io.tmpdir"))

  /** A copy of the sf0.001 fixture at `dir`. */
  private def copyFixture(dir: Path): String = {
    Files.createDirectories(dir)
    FsUtil.listDir(Paths.get(sf())).foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    dir.toString
  }

  /** Replace `table` of the data dir `dir` with `df`, as one parquet file. */
  private def replaceTable(dir: String, table: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val build = Paths.get(s"$dir/_$table")
    df.coalesce(1).write.parquet(build.toString)
    Files.move(FsUtil.singleParquetPart(build), Paths.get(s"$dir/$table.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    FsUtil.deleteRecursively(build)
  }

  private def withTempDir[A](body: Path => A): A = {
    val d = Files.createTempDirectory("graft_staging_spec")
    try body(d) finally FsUtil.deleteRecursively(d)
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("an interrupted landing build publishes nothing; the next call rebuilds it in full") {
    withTempDir { root =>
      val name = s"sf_interrupted_${java.util.UUID.randomUUID().toString.take(8)}"
      val copy = copyFixture(root.resolve(name))
      def ours() = FsUtil.listDir(tmp).filter(_.getFileName.toString.contains(name)).toSeq
      // the q_stream_sessionize landing, failing after events.parquet is written
      val boom = spark.range(1).selectExpr("CAST(assert_true(id < 0) AS STRING) AS x")
      intercept[Exception] {
        EventsStreaming.eventsLanding(spark, copy, "src_eos")(_ => Seq("zz_eos1.parquet" -> boom))
      }
      assert(ours().isEmpty, s"an interrupted build left ${ours()}")

      val q = SparkEntry.queries("q_stream_sessionize")
      assert(canon(q(spark, copy)) === canon(q(spark, sf())))
      val Seq(landing) = ours()
      assert(FsUtil.listDir(landing).map(_.getFileName.toString).filterNot(_.startsWith("."))
        .sorted.toSeq === Seq("_SUCCESS", "events.parquet", "zz_eos1.parquet", "zz_eos2.parquet"))
    }
  }

  test("a build that loses the publish race keeps the winner's copy") {
    withTempDir { root =>
      val dir = root.toString
      def stage(rows: Long)(inner: => Unit): String =
        Staging.landing(spark, "race", dir, Nil) { build =>
          inner // the winner publishes while this build is in flight
          spark.range(rows).write.parquet(build)
        }
      val got = stage(5)(stage(3)(()))
      assert(spark.read.parquet(got).count() === 3)
      assert(FsUtil.listDir(Paths.get(got).getParent)
        .count(_.getFileName.toString.startsWith(Paths.get(got).getFileName + ".build")) === 0)
      FsUtil.deleteRecursively(Paths.get(got))
    }
  }

  test("two data dirs with one basename keep their own layouts and landings") {
    withTempDir { root =>
      val a = copyFixture(root.resolve("a/sf0.001"))
      val b = copyFixture(root.resolve("b/sf0.001"))
      replaceTable(b, "events",
        sources.Tables.eventsRawNanos(spark, a).filter(col("event_id") % 5 =!= 0))
      replaceTable(b, "orders",
        sources.Tables.orders(spark, a).filter(col("o_orderkey") % 5 =!= 0))
      // the flat (unstaged) plan and the batch window are each dir's own rows
      val want = Seq(a, b).map(d => d -> (
        canon(SparkEntry.queries("q4_order_priority")(spark, d)),
        canon(SparkEntry.queries("q_events_window")(spark, d)))).toMap
      assert(want(a)._1 != want(b)._1 && want(a)._2 != want(b)._2)
      withConf(GraftConf.LayoutMinBytes.key, "0") {
        Seq(a, b).foreach { d =>
          assert(canon(SparkEntry.queries("q4_order_priority")(spark, d)) === want(d)._1, d)
          assert(canon(SparkEntry.queries("q_stream_events_window")(spark, d)) === want(d)._2, d)
        }
      }
    }
  }

  test("Reclaim sweeps stale landings and run dirs, never models, layouts or media files") {
    withTempDir { root =>
      val swept = Seq("graft_stream_src_sf_x_1", "graft_run_ab12cd34_graft_stream_daily_1")
      val kept = Seq("graft_media_files200_sf_x_1", "graft_model_km_cent_sf_x_1",
        "graft_pt_orders_m_sf_x_1")
      val stale = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48 * 3600 * 1000L)
      (swept ++ kept).foreach { n =>
        val f = Files.write(Files.createDirectories(root.resolve(n)).resolve("part.parquet"),
          Array[Byte](1))
        Files.setLastModifiedTime(f, stale)
        Files.setLastModifiedTime(f.getParent, stale)
      }
      tools.Reclaim.sweep(root.toString, ageHours = 6)
      assert(FsUtil.listDir(root).map(_.getFileName.toString).sorted.toSeq === kept)
    }
  }

  test("concurrent streamDedupMinhash calls run in distinct run dirs") {
    val before = EventsStreaming.trails.size
    val runs = Seq(spark, spark.newSession()).map(s =>
      Future(canon(DocsStreaming.streamDedupMinhash(s, sf()))))
    val Seq(r1, r2) = runs.map(Await.result(_, 10.minutes))
    assert(r1 === r2)
    val dirs = EventsStreaming.trails.drop(before).map(_.dir)
    assert(dirs.size === 2 && dirs.distinct.size === 2, dirs)
  }
}
