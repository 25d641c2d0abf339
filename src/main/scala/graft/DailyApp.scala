package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.{Schemas, TwseFixtures}
import graft.operators.{NotifySink, TwsePipeline}
import graft.sources.TwseFixtureSource
import graft.streaming.{EventsStreaming, RetryRunner}

/** The deployable daily-orchestration entrypoint — the reference's
  * production shape (`/root/reference/dags/Final_app.py:14-20,144-149`:
  * an `@daily` Airflow DAG with `retries: 2`, `retry_delay: 5 min`)
  * re-expressed as ONE runnable Spark driver an operator schedules with
  * cron/systemd/Airflow's SparkSubmitOperator:
  *
  *   fetch (per-date GET → landing file, idempotent)
  *     → B1 market-open split (closed day → do_nothing)
  *     → B2 arity validation split
  *     → insert_data (append to the `investment_data` table) + notice
  *     → alert (format drift)
  *
  * Execution model: the landed payload files are consumed by a
  * Structured Streaming file source run to completion by the one stream
  * terminal, [[EventsStreaming.runAvailableNow]], with `base` as its run
  * dir — so the persistent checkpoint is `base/checkpoint` and every
  * tick leaves a progress trail. The scheduler tick processes exactly
  * the files that have landed since the last tick (re-running a day is
  * a no-op, the checkpoint remembers).
  *
  * Each batch is one pass: [[TwsePipeline.routedFrom]] routes every
  * landed day in ONE collected job (closed → do_nothing, 12-vector →
  * insert_data, drift → alert), and only the `insert_data` rows ever
  * reach the positional pivot. `foreachBatch` is at-least-once — a
  * crash between the append and the checkpoint commit replays the
  * batch — so the append itself is made idempotent by a dt guard: only
  * when the batch holds `insert_data` days, the [[AppendTarget]] is
  * asked which of those days it `held` already, and only the others are
  * appended. The default target is the parquet table at `table`
  * ([[ParquetTarget]]), which stores each appended day as one file,
  * `<dt>.parquet`, renamed into place atomically, so its `held` reads
  * file names and runs no Spark job; the JDBC target
  * ([[graft.sources.JdbcStore.InvestmentTarget]]) is the reference
  * DDL's Postgres/Derby table. A batch with no fresh day writes nothing
  * (ticks are scheduler-serialized, so there is no concurrent writer to
  * race). A closed-day tick runs one Spark job; an open day runs two
  * (route, append), and notify delivery adds none. The ingest tick is
  * wrapped in [[RetryRunner.withRetries]] (retries=2, 5-min delay) — the
  * DAG's task-retry semantics at application level, on top of Spark's
  * own three task attempts inside each job ([[GraftSession]]).
  *
  * Notifications mirror the reference DAG's task graph, where
  * `insert_data` and `notice` are SEPARATE tasks (a notify retry never
  * re-runs the INSERT): the batch body only QUEUES each message as a
  * durable marker file under `notify_pending/`; the POSTs run as their
  * own retried step after the streaming query has committed, from the
  * driver, deleting each marker after its POST succeeds. A notify
  * failure therefore cannot replay the append, and a crash between
  * commit and delivery leaves the markers in place for the next tick.
  * Delivery is at-least-once, the same semantics as an Airflow task
  * retry of `notice`.
  *
  * At scale this driver is unchanged: the landing dir becomes the
  * object-store prefix the fetcher fleet writes to and the file source
  * lists new objects per tick. The append target is code, not a knob:
  * `runTick(spark, cfg, target)` takes any [[AppendTarget]], such as
  * the JDBC one.
  *
  * Usage (see README §Daily pipeline):
  * {{{
  * bin/graft-java graft.DailyApp \
  *   --base /var/lib/graft/twse \
  *   [--date 20220819 ...] [--fetch-url https://.../BFI82U] \
  *   [--notify-url http://.../sendMessage --chat-id 809480369] \
  *   [--fixtures]            # golden 3-day window instead of live GETs
  * }}}
  */
object DailyApp {

  /** One scheduler tick's terminal accounting: per-day routes taken. */
  final case class TickSummary(inserted: Seq[String], alerted: Seq[String],
      skipped: Seq[String]) {
    def routes: Seq[(String, String)] =
      inserted.map(_ -> "insert_data") ++ alerted.map(_ -> "alert") ++
        skipped.map(_ -> "do_nothing")
  }

  final case class Config(
      base: Path,
      dates: Seq[String] = Nil,
      fetchUrl: Option[String] = None,
      notifyUrl: Option[String] = None,
      chatId: String = "809480369", // reference Final_app.py:12
      useFixtures: Boolean = false,
      retries: Int = 2, // Final_app.py:18
      retryDelayMs: Long = 5 * 60 * 1000L, // Final_app.py:19
      sleep: Long => Unit = Thread.sleep) {
    def landing: Path = base.resolve("landing")
    def table: Path = base.resolve("investment_data")
    def checkpoint: Path = base.resolve("checkpoint")
    def notifyPending: Path = base.resolve("notify_pending")
  }

  /** The `investment_data` table a tick appends to. The tick's dt guard
    * asks it which open days it already holds, then appends the rest.
    */
  trait AppendTarget {
    /** Those of `dates` the table holds a row for. */
    def held(dates: Seq[String]): Set[String]
    /** Append `rows`, the 13 `investment_data` columns. */
    def append(rows: DataFrame): Unit
  }

  /** The parquet table at `dir`; a missing dir is an empty table.
    *
    * `append` writes the fresh days in one job into a hidden
    * `_stage-<uuid>` dir (one task, partitioned by a copy of `dt`), moves
    * each day's single part file to `<dt>.parquet` with an atomic rename,
    * then deletes the stage. A day is therefore one file, present whole
    * or absent. A stage a crash left behind is skipped by Spark readers
    * (the `_` prefix) and deleted by the next `append`.
    *
    * `held` answers from those file names. A table written before this
    * layout holds `part-*.parquet` files; while any `.parquet` file not
    * named `<8 digits>.parquet` is present, the dates not found by name
    * are looked up by one `dt` read over those files alone.
    */
  final case class ParquetTarget(spark: SparkSession, dir: Path) extends AppendTarget {
    def held(dates: Seq[String]): Set[String] =
      if (!Files.exists(dir)) Set.empty
      else {
        val (named, other) = FsUtil.listDir(dir).map(_.getFileName.toString)
          .filter(_.endsWith(".parquet"))
          .partition(DayFile.matches)
        val byName = dates.filter(d => named.contains(s"$d.parquet")).toSet
        val rest = dates.filterNot(byName)
        if (other.isEmpty || rest.isEmpty) byName
        else byName ++ spark.read.schema(Schemas.investmentData)
          .parquet(other.map(dir.resolve(_).toString).toSeq: _*)
          .select(col("dt")).filter(col("dt").isin(rest: _*))
          .collect().map(_.getString(0))
      }

    def append(rows: DataFrame): Unit = {
      Files.createDirectories(dir)
      FsUtil.listDir(dir).filter(_.getFileName.toString.startsWith(StagePrefix))
        .foreach(FsUtil.deleteRecursively)
      val stage = dir.resolve(StagePrefix + UUID.randomUUID())
      rows.withColumn("day", col("dt")).coalesce(1)
        .write.partitionBy("day").parquet(stage.toString)
      FsUtil.listDir(stage).map(_.getFileName.toString).filter(_.startsWith("day="))
        .foreach(p => Files.move(FsUtil.singleParquetPart(stage.resolve(p)),
          dir.resolve(p.stripPrefix("day=") + ".parquet"), StandardCopyOption.ATOMIC_MOVE))
      FsUtil.deleteRecursively(stage)
    }
  }

  /** The file name of one appended day in a [[ParquetTarget]] table. */
  private val DayFile = """\d{8}\.parquet""".r
  private val StagePrefix = "_stage-"

  def main(args: Array[String]): Unit = {
    JvmPrereqs.check()
    val cfg = parse(args.toList)
    val spark = GraftSession.start(sessionConf(sys.env))
    val summary = runTick(spark, cfg)
    println(s"[daily] inserted=${summary.inserted.mkString(",")} " +
      s"alerted=${summary.alerted.mkString(",")} " +
      s"skipped=${summary.skipped.mkString(",")}")
  }

  /** The session `main` requests: four local cores by default, or the
    * deployment's `SPARK_MASTER`; either way three attempts per task.
    */
  private[graft] def sessionConf(env: Map[String, String]): Map[String, String] =
    GraftSession.conf("graft-daily",
      env.getOrElse("SPARK_MASTER", GraftSession.localMaster(4)), 4)

  private def parse(args: List[String], cfg: Config = Config(
      Paths.get(sys.props("java.io.tmpdir"), "graft_daily"))): Config =
    args match {
      case "--base" :: v :: rest => parse(rest, cfg.copy(base = Paths.get(v)))
      case "--date" :: v :: rest => parse(rest, cfg.copy(dates = cfg.dates :+ v))
      case "--fetch-url" :: v :: rest => parse(rest, cfg.copy(fetchUrl = Some(v)))
      case "--notify-url" :: v :: rest => parse(rest, cfg.copy(notifyUrl = Some(v)))
      case "--chat-id" :: v :: rest => parse(rest, cfg.copy(chatId = v))
      case "--fixtures" :: rest => parse(rest, cfg.copy(useFixtures = true))
      case Nil => cfg
      case other => sys.error(s"unknown args: $other")
    }

  /** Step 1 — fetch: land one payload file per requested date,
    * idempotently (a date already landed is skipped — re-running a day
    * never duplicates, matching the reference's daily task instance).
    * The write is tmp+atomic-move so the streaming file source can
    * never list a half-written payload. Fixture mode lands
    * `TwseFixtureSource.days`, the three golden scenarios keyed by their
    * own dates.
    */
  private[graft] def fetchAndLand(cfg: Config): Seq[String] = {
    Files.createDirectories(cfg.landing)
    val toLand: Seq[(String, () => String)] =
      if (cfg.useFixtures) TwseFixtureSource.days.map { case (d, body) => d -> (() => body) }
      else cfg.dates.map { d =>
        val base = cfg.fetchUrl.getOrElse(sys.error("--fetch-url required unless --fixtures"))
        d -> (() => TwseFixtureSource.fetch(TwseFixtureSource.dayUrl(base, d)))
      }
    toLand.flatMap { case (d, body) =>
      val dest = cfg.landing.resolve(s"day_$d.json")
      if (Files.exists(dest)) None
      else {
        val tmp = cfg.landing.resolve(s".day_$d.json.tmp")
        Files.write(tmp, body().getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
        Some(d)
      }
    }
  }

  /** Steps 2-5 — one scheduler tick: stream the landed payloads through
    * the parse→B1→B2 splits into the three terminal sinks, then deliver
    * queued notifications as a separate retried step. Returns the
    * per-day routing summary. The append is idempotent under batch
    * replay (days `target` already holds are skipped), so the
    * tick-level retry can never duplicate `investment_data` rows.
    */
  def runTick(spark: SparkSession, cfg: Config): TickSummary =
    runTick(spark, cfg, ParquetTarget(spark, cfg.table))

  def runTick(spark: SparkSession, cfg: Config, target: AppendTarget): TickSummary = {
    val summary = RetryRunner.withRetries(
        cfg.retries, cfg.retryDelayMs, cfg.sleep) { _ =>
      fetchAndLand(cfg)
      val inserted = scala.collection.mutable.ListBuffer.empty[String]
      val alerted = scala.collection.mutable.ListBuffer.empty[String]
      val skipped = scala.collection.mutable.ListBuffer.empty[String]

      val parsedStream = spark.readStream
        .schema(Schemas.twsePayload)
        .json(cfg.landing.toString)

      // the daily scheduler tick; its checkpoint is `cfg.checkpoint`
      EventsStreaming.runAvailableNow(cfg.base, parsedStream) { (batch, _) =>
        // B1 + B2 — one job routes every landed day to do_nothing,
        // insert_data or alert (Final_app.py:29-39,71-76)
        val routed = TwsePipeline.routedFrom(batch).collect().toSeq
          .map(r => (r.getString(0), r.getSeq[String](1), r.getString(2)))
        def datesTo(route: String) = routed.collect { case (d, _, `route`) => d }
        val okDates = datesTo("insert_data")
        val badDates = datesTo("alert")
        skipped ++= datesTo("do_nothing")
        inserted ++= okDates
        alerted ++= badDates
        // E1 — insert_data: foreachBatch is at-least-once, so drop
        // dates the table already holds before appending — a replayed
        // batch re-appends nothing (the PostgresOperator INSERT with
        // an ON CONFLICT DO NOTHING key).
        // EXACTLY-ONCE ENVELOPE: the dt-granular guard assumes a
        // day's append is ATOMIC — true for both targets (one atomically
        // renamed `<dt>.parquet` file, or one JDBC row, committed or
        // absent). A target where one day spans several files or tasks
        // can crash with a day PARTIALLY committed, and replay would
        // skip the whole dt instead of repairing it — such a target
        // needs row-granular dedup or stage-then-rename, not this guard.
        val held = if (okDates.isEmpty) Set.empty[String] else target.held(okDates)
        val fresh = routed.collect { case (d, v, "insert_data") if !held(d) => (d, v) }
        if (fresh.nonEmpty)
          target.append(TwsePipeline.pivotWide(spark.createDataFrame(fresh).toDF("date", "vec")))
        // E2/E3 — QUEUE the Telegram messages durably; the POSTs run
        // after the streaming commit as their own task (see Scaladoc)
        cfg.notifyUrl.foreach { _ =>
          okDates.foreach(d => queueNotification(cfg, d, "success",
            d + TwseFixtures.successMsgSuffix))
          badDates.foreach(d => queueNotification(cfg, d, "alert",
            TwseFixtures.alertMsg))
        }
      }
      TickSummary(inserted.toList, alerted.toList, skipped.toList)
    }
    // E2/E3 — notice/alert as their OWN retried task, after the ingest
    // has committed: a notify failure can only re-run delivery, never
    // the append (Final_app.py:144-149 keeps insert_data → notice as
    // separate DAG tasks with independent retries).
    cfg.notifyUrl.foreach { url =>
      RetryRunner.withRetries(cfg.retries, cfg.retryDelayMs, cfg.sleep) {
        _ => deliverPending(cfg, url)
      }
    }
    summary
  }

  /** Durably queue one notification as `notify_pending/<date>.<kind>.msg`
    * (tmp + atomic move; replayed batches overwrite the same marker, so
    * queueing is idempotent).
    */
  private[graft] def queueNotification(cfg: Config, date: String,
      kind: String, message: String): Unit = {
    Files.createDirectories(cfg.notifyPending)
    val tmp = cfg.notifyPending.resolve(s".$date.$kind.msg.tmp")
    Files.write(tmp, message.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, cfg.notifyPending.resolve(s"$date.$kind.msg"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Deliver every queued notification from the driver, in marker-name
    * order, deleting each marker after its POST succeeds. At-least-once:
    * a failure leaves that marker and the later ones for the retry, which
    * re-sends only what was not delivered (a crash between a POST and its
    * delete re-sends one message — the same semantics as retrying the
    * reference's `notice` task).
    */
  private[graft] def deliverPending(cfg: Config, url: String): Unit =
    if (Files.exists(cfg.notifyPending))
      FsUtil.listDir(cfg.notifyPending).filter(_.getFileName.toString.endsWith(".msg"))
        .sortBy(_.getFileName.toString).foreach { p =>
          NotifySink.send(url, cfg.chatId,
            new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
          Files.delete(p)
        }
}
