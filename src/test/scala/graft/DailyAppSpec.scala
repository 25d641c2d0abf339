package graft

import java.nio.charset.StandardCharsets
import java.net.URLDecoder
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.Assertions._

import graft.model.{Schemas, TwseFixtures}

/** End-to-end drive of the deployable daily driver ([[DailyApp]]) over
  * the reference's 3-day golden window — open (2022-08-19), closed
  * (2022-08-20), format-drift (2010-01-06) — asserting all three
  * terminal sinks (`Final_app.py:144-149`'s DAG edges): the append, the
  * success notice, the drift alert, and the do_nothing branch; plus the
  * idempotence the checkpoint provides on a re-run, and the DAG-level
  * retry policy (retries=2, 5-min delay) on a fetch that fails twice.
  */
class DailyAppSpec extends SparkTestBase {
  import DailyAppSpec._

  /** A loopback sendMessage endpoint recording each accepted POST's
    * chat_id/text pair; the requests numbered (from 1) by `fail` get an
    * HTTP 500 and are not recorded.
    */
  private def withServer[A](body: (String, java.util.List[(String, String)]) => A,
      fail: Int => Boolean = _ => false): A = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val posts = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())
    val requests = new java.util.concurrent.atomic.AtomicInteger
    server.createContext("/bot/sendMessage", (ex: HttpExchange) => {
      val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val kv = raw.split("&").map { p =>
        val Array(k, v) = p.split("=", 2)
        k -> URLDecoder.decode(v, "UTF-8")
      }.toMap
      if (fail(requests.incrementAndGet())) ex.sendResponseHeaders(500, -1)
      else {
        if (ex.getRequestMethod == "POST") posts.add((kv("chat_id"), kv("text")))
        val ok = "{\"ok\":true}".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, ok.length)
        ex.getResponseBody.write(ok)
      }
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/bot/sendMessage", posts)
    finally server.stop(0)
  }

  test("one tick over the golden window hits all three terminal sinks") {
    withServer { (url, posts) =>
      val cfg = freshCfg(Some(url))
      val s = DailyApp.runTick(spark, cfg)
      assert(s.inserted === Seq("20220819"))
      assert(s.alerted === Seq("20100106"))
      assert(s.skipped === Seq("20220820"))
      // E1 — the appended investment_data row is the golden row
      val table = spark.read.parquet(cfg.table.toString)
      assert(table.count() === 1)
      val row = table.collect().head
      assert(row.getAs[String]("dt") === "20220819")
      assert(row.getAs[String]("dealer_buy") === "2279109983")
      assert(row.getAs[String]("foreign_dif") === "-7298108131")
      // E2 + E3 — both messages actually POSTed with the DAG's texts
      val byText = {
        import scala.jdk.CollectionConverters._
        posts.asScala.toList
      }
      assert(byText.contains(
        ("809480369", "20220819" + TwseFixtures.successMsgSuffix)))
      assert(byText.contains(("809480369", TwseFixtures.alertMsg)))
      assert(byText.size === 2) // closed day notified nothing
    }
  }

  test("re-running the tick is a no-op: checkpoint dedupes landed files") {
    val cfg = freshCfg(None)
    DailyApp.runTick(spark, cfg)
    val second = DailyApp.runTick(spark, cfg)
    // nothing new landed → nothing inserted/alerted/skipped this tick
    assert(second.inserted.isEmpty && second.alerted.isEmpty &&
      second.skipped.isEmpty)
    // and the table still holds exactly one appended golden row
    assert(spark.read.parquet(cfg.table.toString).count() === 1)
  }

  /** The `.parquet` files of the `investment_data` table. */
  private def tableFiles(cfg: DailyApp.Config): Seq[String] =
    FsUtil.listDir(cfg.table).map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq

  /** The `_stage-*` dirs left in the `investment_data` table. */
  private def stages(cfg: DailyApp.Config): Seq[String] =
    FsUtil.listDir(cfg.table).map(_.getFileName.toString)
      .filter(_.startsWith("_stage-")).toSeq

  test("batch replay does not duplicate the append: the dt guard dedupes") {
    // foreachBatch is at-least-once: a crash after the append and before
    // the checkpoint commit replays the batch. The target's first append
    // lands the day and then throws; the tick's retry replays the
    // un-committed batch against the populated table.
    val cfg = freshCfg(None)
    val retries = new java.util.concurrent.atomic.AtomicInteger
    val appends = new java.util.concurrent.atomic.AtomicInteger
    val table = DailyApp.ParquetTarget(spark, cfg.table)
    val crashing = new DailyApp.AppendTarget {
      def held(dates: Seq[String]): Set[String] = table.held(dates)
      def append(rows: DataFrame): Unit = {
        table.append(rows)
        if (appends.incrementAndGet() == 1)
          throw new RuntimeException("crash before the checkpoint commit")
      }
    }
    val replay = DailyApp.runTick(spark,
      cfg.copy(sleep = _ => retries.incrementAndGet(): Unit), crashing)
    assert(retries.get === 1)
    // the replayed batch still ROUTES the day (summary reports it) ...
    assert(replay.inserted === Seq("20220819"))
    // ... but appends nothing: the guard skipped the second append ...
    assert(appends.get === 1)
    // ... so exactly one golden row and one file survive the replay
    val read = spark.read.parquet(cfg.table.toString)
    assert(read.count() === 1)
    assert(tableFiles(cfg) === Seq("20220819.parquet"))
    assert(stages(cfg).isEmpty && read.inputFiles.forall(!_.contains("_stage-")))
  }

  test("a stale stage from a crash before the move is ignored, then cleared") {
    // a crash between the staged write and the rename leaves a
    // `_stage-*` dir holding the day: readers skip it, and the next
    // append deletes it and lands the day once
    val cfg = landedOnly(freshCfg(None))
    land(cfg, "20220819", TwseFixtures.ok)
    DailyApp.runTick(spark, cfg)
    graft.operators.TwsePipeline.flagship(spark).withColumn("dt", lit("20220822"))
      .withColumn("day", col("dt")).coalesce(1).write.partitionBy("day")
      .parquet(cfg.table.resolve("_stage-crashed").toString)
    assert(spark.read.parquet(cfg.table.toString).count() === 1)
    land(cfg, "20220822", openDay("20220822"))
    assert(DailyApp.runTick(spark, cfg).inserted === Seq("20220822"))
    assert(stages(cfg).isEmpty)
    val dts = spark.read.parquet(cfg.table.toString).select(col("dt"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(dts === Seq("20220819", "20220822"))
    assert(tableFiles(cfg).sorted === Seq("20220819.parquet", "20220822.parquet"))
  }

  /** Write `df` into `dir` the way the table was appended to before the
    * dt-named layout: a `part-*` file.
    */
  private def appendLegacy(df: DataFrame, dir: java.nio.file.Path): Unit =
    df.select(Schemas.investmentCols.map(col): _*).write.mode("append").parquet(dir.toString)

  test("a legacy part-file table: replays skip its day, a new day lands as <dt>.parquet") {
    var table: java.nio.file.Path = null
    val rows = replayCases(spark, { cfg =>
      table = cfg.table
      appendLegacy(graft.operators.TwsePipeline.flagship(spark), cfg.table)
      DailyApp.ParquetTarget(spark, cfg.table)
    }, cfg => canonRows(spark.read.parquet(cfg.table.toString)))
    assert(rows.map(_.take(8)) === Seq("20220819", "20220822"))
    val files = FsUtil.listDir(table).map(_.getFileName.toString).filter(_.endsWith(".parquet"))
    assert(files.count(_.startsWith("part-")) === 1)
    assert(files.filterNot(_.startsWith("part-")).toSeq === Seq("20220822.parquet"))
  }

  test("held reads the table only while a non-dt-named file is present") {
    val golden = graft.operators.TwsePipeline.flagship(spark)
    val legacy = DailyApp.ParquetTarget(spark, freshCfg(None).table)
    appendLegacy(golden, legacy.dir)
    var held = Set.empty[String]
    assert(jobsOf { held = legacy.held(Seq("20220819", "20220822")) } === 1)
    assert(held === Set("20220819"))
    legacy.append(golden.withColumn("dt", lit("20220822")))
    assert(jobsOf { held = legacy.held(Seq("20220822")) } === 0)
    assert(held === Set("20220822"))
    assert(jobsOf { held = legacy.held(Seq("20220819", "20220822")) } === 1)
    assert(held === Set("20220819", "20220822"))
    val named = DailyApp.ParquetTarget(spark, freshCfg(None).table)
    named.append(golden)
    assert(jobsOf { held = named.held(Seq("20220819", "20220822")) } === 0)
    assert(held === Set("20220819"))
  }

  test("a partial replay appends only the day the table does not hold") {
    // the guard is per dt, not per batch: a replayed batch holding one
    // already-appended open day and one new open day appends the new one
    val cfg = landedOnly(freshCfg(None))
    land(cfg, "20220819", TwseFixtures.ok)
    DailyApp.runTick(spark, cfg)
    org.apache.commons.io.FileUtils.deleteDirectory(cfg.checkpoint.toFile)
    land(cfg, "20220822", openDay("20220822"))
    val replay = DailyApp.runTick(spark, cfg)
    assert(replay.inserted.sorted === Seq("20220819", "20220822"))
    val dts = spark.read.parquet(cfg.table.toString).select(col("dt"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(dts === Seq("20220819", "20220822"))
    assert(tableFiles(cfg).sorted === Seq("20220819.parquet", "20220822.parquet"))
  }

  test("closed and drift days write no file: one parquet file per appended day") {
    val cfg = freshCfg(None)
    DailyApp.runTick(spark, cfg)
    // the golden window appends one day; its closed and drift days add nothing
    assert(tableFiles(cfg).size === 1)
    // a tick that lands only a closed day never creates the table
    val closedOnly = landedOnly(freshCfg(None))
    land(closedOnly, "20220820", TwseFixtures.closed)
    assert(DailyApp.runTick(spark, closedOnly).skipped === Seq("20220820"))
    assert(!Files.exists(closedOnly.table))
  }

  test("job-count pin: a closed tick runs 1 job, an open tick on a table 2, notify 0") {
    // the batch body routes in one job; the append adds one, and only
    // when there is an open day to append. The dt guard reads file names
    // and the notify delivery POSTs from the driver, so neither adds one.
    withServer { (url, posts) =>
      val cfg = landedOnly(freshCfg(None))
      land(cfg, "20220820", TwseFixtures.closed)
      assert(jobsOf(DailyApp.runTick(spark, cfg)) === 1)
      land(cfg, "20220819", TwseFixtures.ok)
      DailyApp.runTick(spark, cfg) // creates the table
      land(cfg, "20220822", openDay("20220822"))
      assert(jobsOf(DailyApp.runTick(spark, cfg)) === 2)
      land(cfg, "20220823", openDay("20220823"))
      assert(jobsOf(DailyApp.runTick(spark, cfg.copy(notifyUrl = Some(url)))) === 2)
      assert(posts.size === 1)
    }
  }

  test("a failed notify POST is retried alone: each message arrives once") {
    // the second POST 500s once; its retry re-sends only the messages
    // not yet delivered
    withServer({ (url, posts) =>
      val cfg = freshCfg(Some(url))
      assert(DailyApp.runTick(spark, cfg).inserted === Seq("20220819"))
      import scala.jdk.CollectionConverters._
      assert(posts.asScala.map(_._2).sorted === Seq(
        "20220819" + TwseFixtures.successMsgSuffix, TwseFixtures.alertMsg).sorted)
      assert(FsUtil.listDir(cfg.notifyPending).isEmpty)
    }, fail = _ == 2)
  }

  test("notify failure cannot replay the append; its own retry delivers") {
    // a server that 500s the first POST then accepts: the ingest commit
    // happens before any delivery attempt, so the failed notify only
    // re-runs deliverPending — never the insert.
    val failures = new java.util.concurrent.atomic.AtomicInteger(1)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val posts = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    server.createContext("/bot/sendMessage", (ex: HttpExchange) => {
      val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (failures.getAndDecrement() > 0) {
        ex.sendResponseHeaders(500, -1)
      } else {
        posts.add(URLDecoder.decode(raw.split("&text=", 2)(1), "UTF-8"))
        val ok = "{\"ok\":true}".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, ok.length)
        ex.getResponseBody.write(ok)
      }
      ex.close()
    })
    server.start()
    try {
      val cfg = freshCfg(Some(
        s"http://127.0.0.1:${server.getAddress.getPort}/bot/sendMessage"))
      val s = DailyApp.runTick(spark, cfg)
      assert(s.inserted === Seq("20220819"))
      // the table holds exactly one row despite the notify retry
      assert(spark.read.parquet(cfg.table.toString).count() === 1)
      // both messages eventually delivered (at-least-once is acceptable)
      import scala.jdk.CollectionConverters._
      val delivered = posts.asScala.toSet
      assert(delivered.contains("20220819" + TwseFixtures.successMsgSuffix))
      assert(delivered.contains(TwseFixtures.alertMsg))
      // and the pending ledger drained
      assert(!Files.exists(cfg.notifyPending) ||
        Files.list(cfg.notifyPending).count() === 0)
    } finally server.stop(0)
  }

  test("tick-level retry: two failures then success, 5-min delays observed") {
    val delays = scala.collection.mutable.ListBuffer.empty[Long]
    var attempts = 0
    val out = graft.streaming.RetryRunner.withRetries(
      retries = 2, delayMs = 5 * 60 * 1000L, sleep = delays += _) { a =>
      attempts += 1
      if (a < 2) throw new RuntimeException(s"fetch failed (attempt $a)")
      "ok"
    }
    assert(out === "ok")
    assert(attempts === 3) // 1 initial + retries: 2 (Final_app.py:18)
    assert(delays.toList === List(300000L, 300000L)) // 5-min retry_delay
  }

  test("a third consecutive failure is terminal, like the DAG's task") {
    var attempts = 0
    val e = intercept[RuntimeException] {
      graft.streaming.RetryRunner.withRetries(
        retries = 2, delayMs = 1L, sleep = _ => ()) { _ =>
        attempts += 1
        throw new RuntimeException("still down")
      }
    }
    assert(attempts === 3 && e.getMessage === "still down")
  }

  test("an HTTP 500 on the fetch is retried; three in a row fail the tick") {
    // the tick's own retry, not a hand-made loop: the first GET of the
    // open day fails, the retried tick lands and appends it exactly once;
    // then a day whose three GETs all fail fails the tick and changes
    // nothing
    val failures = new java.util.concurrent.atomic.AtomicInteger(1)
    val gets = new java.util.concurrent.atomic.AtomicInteger
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/fund/BFI82U", (ex: HttpExchange) => {
      gets.incrementAndGet()
      val date = ex.getRequestURI.getQuery.split("dayDate=", 2)(1)
      if (failures.getAndDecrement() > 0) ex.sendResponseHeaders(500, -1)
      else {
        val body = openDay(date).getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      }
      ex.close()
    })
    server.start()
    try {
      val cfg = freshCfg(None).copy(useFixtures = false, dates = Seq("20220819"),
        fetchUrl = Some(s"http://127.0.0.1:${server.getAddress.getPort}/fund/BFI82U"))
      assert(DailyApp.runTick(spark, cfg).inserted === Seq("20220819"))
      assert(gets.get === 2)
      val golden = canon(graft.operators.TwsePipeline.flagship(spark))
      assert(canon(spark.read.parquet(cfg.table.toString)) === golden)
      val files = tableFiles(cfg)

      failures.set(3)
      gets.set(0)
      intercept[java.io.IOException](DailyApp.runTick(spark, cfg.copy(dates = Seq("20220822"))))
      assert(gets.get === 3) // 1 attempt + retries: 2
      assert(canon(spark.read.parquet(cfg.table.toString)) === golden)
      assert(tableFiles(cfg) === files)
      assert(!Files.exists(cfg.landing.resolve("day_20220822.json")))
    } finally server.stop(0)
  }

  test("fetchAndLand is idempotent and atomic: re-land skips, no tmp residue") {
    val cfg = freshCfg(None)
    val first = DailyApp.fetchAndLand(cfg)
    assert(first.toSet === Set("20220819", "20220820", "20100106"))
    val second = DailyApp.fetchAndLand(cfg)
    assert(second.isEmpty)
    val listed = Files.list(cfg.landing).toArray.map(_.toString)
    assert(listed.length === 3 && listed.forall(!_.contains(".tmp")))
  }
}

object DailyAppSpec {

  /** A fresh base under the tmpdir, the golden window as its fetch. */
  def freshCfg(notifyUrl: Option[String]): DailyApp.Config = DailyApp.Config(
    base = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_daily_spec_${java.util.UUID.randomUUID().toString.take(8)}"),
    notifyUrl = notifyUrl,
    useFixtures = true,
    sleep = _ => ()) // no wall-clock waits in specs

  /** Land one payload by hand, as a fetch for `date` would. */
  def land(cfg: DailyApp.Config, date: String, body: String): Unit = {
    Files.createDirectories(cfg.landing)
    Files.write(cfg.landing.resolve(s"day_$date.json"),
      body.getBytes(StandardCharsets.UTF_8))
  }

  /** The golden open payload, re-dated. */
  def openDay(date: String): String =
    TwseFixtures.ok.replace("\"date\":\"20220819\"", "\"date\":\"" + date + "\"")

  /** A tick with no fetch: it streams whatever was landed by hand. */
  def landedOnly(cfg: DailyApp.Config): DailyApp.Config = cfg.copy(useFixtures = false)

  /** The dt guard's replay cases against one append target: a tick over
    * the golden window appends the golden row; a full replay, after the
    * checkpoint is wiped, appends nothing; a partial replay, holding
    * that day and a new open day, appends only the new day. `rows` reads
    * the target's table as `|`-joined lines in `investment_data` column
    * order. Returns the final rows, sorted.
    */
  def replayCases(spark: SparkSession, target: DailyApp.Config => DailyApp.AppendTarget,
      rows: DailyApp.Config => Seq[String]): Seq[String] = {
    val cfg = freshCfg(None)
    val into = target(cfg)
    def tick(): DailyApp.TickSummary = DailyApp.runTick(spark, cfg, into)
    def wipeCheckpoint(): Unit =
      org.apache.commons.io.FileUtils.deleteDirectory(cfg.checkpoint.toFile)
    val golden = canonRows(graft.operators.TwsePipeline.flagship(spark))
    assert(tick().inserted === Seq("20220819"))
    assert(rows(cfg).sorted === golden)
    wipeCheckpoint()
    assert(tick().inserted === Seq("20220819")) // routed again ...
    assert(rows(cfg).sorted === golden, "a full replay must append nothing")
    wipeCheckpoint()
    land(cfg, "20220822", openDay("20220822"))
    assert(tick().inserted.sorted === Seq("20220819", "20220822"))
    val both = (golden ++ golden.map(_.replaceFirst("^20220819", "20220822"))).sorted
    assert(rows(cfg).sorted === both, "a partial replay appends only the new day")
    both
  }

  /** `df`'s rows in `investment_data` column order as `|`-joined lines. */
  def canonRows(df: DataFrame): Seq[String] =
    df.select(Schemas.investmentCols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
}
