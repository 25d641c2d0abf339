package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, TransformWithState}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.{GraftConf, GraftSession, Staging}
import graft.operators.Analytics
import graft.sources.Tables

/** Structured-streaming forms of the event operators (SURVEY.md §2.I5 and
  * the reference's daily micro-batch cadence, `Final_app.py:17`).
  *
  * The reference is an incremental daily append; its Spark-native shape is
  * a file-source micro-batch stream processed with Trigger.AvailableNow —
  * the same logical plan as the batch form, executed incrementally with
  * checkpointable state. These helpers run the stream to completion over
  * the finite testdata and hand back the result table, so the batch
  * oracle checks the streaming path too.
  */
object EventsStreaming {

  /** One finished AvailableNow run: its dir (under [[Staging.runDir]]) and
    * its StreamingQueryProgress trail — the observability hook: input rows,
    * state-store size, memory and EVICTION counts per trigger, so
    * "watermark-bounded state" is measured, not argued (StreamingStateSpec
    * asserts on these).
    */
  final case class Trail(dir: Path, progress: Array[StreamingQueryProgress])

  private val trailLog = new java.util.concurrent.ConcurrentLinkedQueue[Trail]()

  /** Every finished run's trail, oldest first. */
  private[graft] def trails: Seq[Trail] = trailLog.asScala.toSeq

  /** The latest trail of a run whose name starts with `prefix` (run names
    * carry a per-JVM run number after the stream name).
    */
  private[graft] def lastTrail(prefix: String): Option[Trail] =
    trails.reverseIterator.find(t => Staging.runName(t.dir).startsWith(prefix))

  private[graft] def lastProgressFor(prefix: String): Array[StreamingQueryProgress] =
    lastTrail(prefix).map(_.progress).getOrElse(Array.empty)

  /** The one streaming terminal: run `result` to completion under
    * `Trigger.AvailableNow`, checkpointed in `run`'s `checkpoint` subdir
    * and delivered micro-batch by micro-batch to `body` through
    * `foreachBatch`, then record the run's progress trail. `run` comes
    * from [[Staging.runDir]], so no earlier run's checkpoint replays into
    * this one; callers keep their sinks and side tables in the same dir.
    * The one exception is a `DailyApp` tick, whose run dir is its
    * persistent base: there the resumed checkpoint is the point.
    *
    * The stream's scope is set here, from what the terminal observes, on
    * `result`'s session from before `start()` until the query has
    * terminated, then restored; every graft conf is parsed before the
    * first set, so a malformed value throws without leaking an override.
    *
    *  - State partitions: [[statePartitions]] of the bytes under the
    *    stream's file sources. A state store is created per shuffle
    *    partition at query start, and 32 stores for a handful of groups
    *    is pure fixed cost (store init and checkpoint IO dominated the
    *    stream keys' time), but state must shard wider with data: a
    *    100 M-key dedup in 8 RocksDB instances is 12.5 M keys per store,
    *    all compaction. So the count grows with the input, capped by the
    *    session's `spark.sql.shuffle.partitions` (`SPARK_GRAFT_SHUFFLE`
    *    raises both for big-sf runs). `graft.streaming.statePartitions`
    *    forces it, for specs and for resharding. Unlike batch shuffle
    *    partitions this is a stateful choice: the checkpoint pins the
    *    count at first run, and a restart keeps it whatever the input
    *    has grown to, so a new count only reaches a fresh stream, as a
    *    production resharding does.
    *  - Provider: RocksDB, which keeps state off-heap and is the store a
    *    100 TB deployment runs; `transformWithState` runs only on it.
    *    Otherwise `graft.streaming.stateProvider=heap` selects the
    *    HDFS-backed heap store, which keeps every store's contents as JVM
    *    objects and dies first at scale; specs keep it as the reference.
    *  - RocksDB changelog checkpointing, always on: a micro-batch commit
    *    writes only that batch's changelog, and snapshots move to the
    *    background maintenance thread, where without it every commit
    *    uploads a full snapshot per state partition. Recovery replays the
    *    changelogs onto the last snapshot; no result changes.
    */
  private[graft] def runAvailableNow(run: Path, result: DataFrame,
      mode: OutputMode = OutputMode.Append)(body: (DataFrame, Long) => Unit): Unit = {
    val spark = result.sparkSession
    val plan = result.queryExecution.logical
    val partitions = GraftConf.StatePartitions.get(spark).getOrElse(statePartitions(
      sourceBytes(spark, plan), spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt))
    val provider = GraftConf.StateProvider(spark) match {
      case "heap" if plan.find(_.isInstanceOf[TransformWithState]).isEmpty => HeapProvider
      case _ => RocksDbProvider
    }
    val scoped = Seq(
      SQLConf.SHUFFLE_PARTITIONS.key -> partitions.toString,
      SQLConf.STATE_STORE_PROVIDER_CLASS.key -> provider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    GraftSession.withConfs(spark, scoped) {
      val q = result.writeStream
        .option("checkpointLocation", run.resolve("checkpoint").toString)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(body)
        .start()
      q.awaitTermination()
      trailLog.add(Trail(run, q.recentProgress))
    }
  }

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val HeapProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Input bytes per state partition. At 1 MiB the sf0.1 stream keys run
    * on 2 partitions, about a third faster than on 8, and sf0.01 on 1.
    */
  private val BytesPerStatePartition = 1L << 20

  /** State partitions for `bytes` of stream input: one per started
    * [[BytesPerStatePartition]], at least 1 and at most `cap`.
    */
  private[graft] def statePartitions(bytes: Long, cap: Int): Int = {
    val n = bytes / BytesPerStatePartition + (if (bytes % BytesPerStatePartition > 0) 1 else 0)
    math.max(1L, math.min(n, cap.toLong)).toInt
  }

  /** Bytes under the file-source paths of a stream's plan. */
  private def sourceBytes(spark: SparkSession, plan: LogicalPlan): Long =
    plan.collect { case r: StreamingRelation => r.dataSource.options.get("path") }
      .flatten.distinct.map(Tables.fsFingerprint(spark, _)._2).sum

  /** Distributed streaming terminal with a parquet sink: run the query
    * through [[runAvailableNow]] and hand back the readback. Unlike a
    * `format("memory")` sink — which materializes every emitted row in
    * driver memory, the moral equivalent of `.collect()` for a
    * row-per-match stream — each micro-batch is written executor-side
    * straight to files, so the terminal scales with the cluster, not the
    * driver heap. Append-mode streams append per trigger (each row is
    * emitted exactly once); complete-mode aggregates overwrite per
    * trigger (the final trigger holds the full result).
    */
  private[streaming] def runToParquet(spark: SparkSession, result: DataFrame,
      name: String, mode: OutputMode = OutputMode.Append): DataFrame = {
    val run = Staging.runDir(name)
    val out = run.resolve("out").toString
    val saveMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
    runAvailableNow(run, result, mode)((batch, _) => batch.write.mode(saveMode).parquet(out))
    if (Files.exists(Paths.get(out)))
      spark.read.schema(result.schema).parquet(out)
    else // zero triggers fired (empty source): typed empty result
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], result.schema)
  }

  /** Raw events schema as stored (ns timestamps as long — see
    * Tables.events).
    */
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** An events landing of `kind` for `sfDir`: the testdata events as
    * `events.parquet` (the file stream source wants a *directory*; in
    * production: the daily-append landing dir), then `extra(events)`, each
    * file its own micro-batch under `maxFilesPerTrigger=1`, in list order.
    * The events file is re-staged through the encoding-adaptive reader
    * (NOT a raw file copy), so it always carries the Long-nanos `ts`
    * convention `rawSchema` pins, whatever the fixture's encoding.
    */
  private[graft] def eventsLanding(spark: SparkSession, sfDir: String, kind: String)(
      extra: DataFrame => Seq[(String, DataFrame)]): String =
    Staging.landingFiles(spark, kind, sfDir, Seq(s"$sfDir/events.parquet")) {
      val ev = Tables.eventsRawNanos(spark, sfDir)
      ("events.parquet" -> ev) +: extra(ev)
    }

  private val dayNs = 86400L * 1000000000L

  /** Far-future flush markers (`event_type = eos`, id `eventId`), one per
    * row of `users`, `days` past the last event of `ev`.
    */
  private[streaming] def eosSentinels(ev: DataFrame, users: DataFrame,
      days: Long, eventId: Long): DataFrame = {
    val maxTsNs = ev.agg(max(col("ts"))).head().getLong(0)
    users.select(lit(eventId).as("event_id"), lit(maxTsNs + days * dayNs).as("ts"),
      col("user_id"), lit("eos").as("event_type"), lit(0.0).as("value"),
      lit(null).cast("string").as("props"))
  }

  /** The events landing; with `withEos`, followed by two sentinel batches.
    * The first holds one flush marker per user, two days past the last
    * event — beyond the session gap (closes every open session) and beyond
    * any ≤1-day watermark lag past the final window boundary; it is the
    * finite-stream stand-in for an event-time-timeout flush. The second
    * is a single marker two days further out, because append-mode windows
    * emit against the watermark of the PREVIOUS batch — the extra data
    * batch is what finalizes the windows the first sentinel advanced past
    * (AvailableNow runs no watermark-only empty batch).
    */
  private def stagedDir(spark: SparkSession, sfDir: String, withEos: Boolean): String =
    if (!withEos) eventsLanding(spark, sfDir, "src")(_ => Nil)
    else eventsLanding(spark, sfDir, "src_eos") { ev =>
      Seq("zz_eos1.parquet" -> eosSentinels(ev, ev.select(col("user_id")).distinct(), 2, -1),
        "zz_eos2.parquet" -> eosSentinels(ev, ev.limit(1), 4, -2))
    }

  /** The events landing at `dir` as a stream: each file its own
    * micro-batch (`maxFilesPerTrigger=1`, in list order), `ts` a TIMESTAMP.
    */
  private[streaming] def landingStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  /** The plain events landing as a stream: one file, so one micro-batch. */
  private[streaming] def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    landingStream(spark, stagedDir(spark, sfDir, withEos = false))

  /** Stage events split into `shards` files so `maxFilesPerTrigger=1`
    * yields that many micro-batches — the multi-ingest shape the rollup
    * maintenance loop exists for. Hash-sharded on event_id so content is
    * deterministic.
    */
  private def stagedShardedDir(spark: SparkSession, sfDir: String, shards: Int): String =
    Staging.landing(spark, s"src_sharded$shards", sfDir, Seq(s"$sfDir/events.parquet")) {
      dir => Tables.eventsRawNanos(spark, sfDir).repartition(shards, col("event_id"))
        .write.mode("overwrite").parquet(dir)
    }

  /** Materialized incremental rollup — the maintained daily-partials
    * table that `Analytics.mergePartialAggs`'s algebra exists for, as
    * running code. Each micro-batch's per-(day, event_type) PARTIAL sums
    * (exact integer cents + row count) are upserted into a
    * day-partitioned parquet table via DYNAMIC partition overwrite:
    * only the day partitions the batch touched are rewritten (old
    * partial merged with batch partial by algebraic re-aggregation),
    * history is never rescanned — per-ingest cost is O(batch + touched
    * days), the only shape that survives a years-deep table at 100 TB.
    * Because partials are exact integers, the maintained table is
    * bit-identical to a from-scratch aggregate over all history — which
    * is exactly what the oracle computes. This is the table the
    * production forms of anomalyZscore / retention read instead of raw
    * events.
    */
  def dailyRollupMaintained(spark: SparkSession, sfDir: String): DataFrame =
    dailyRollupIn(spark, sfDir, Staging.runDir("graft_stream_rollup"))

  /** [[dailyRollupMaintained]] with its checkpoint and table under `run`:
    * a restart on the same dir resumes the stream where it stopped.
    */
  private[graft] def dailyRollupIn(spark: SparkSession, sfDir: String,
      run: Path): DataFrame = {
    val tableDir = run.resolve("table").toString
    val src = landingStream(spark, stagedShardedDir(spark, sfDir, shards = 3))
    runAvailableNow(run, src)((batch, batchId) =>
      upsertDailyPartials(batch, tableDir, batchId))
    // the final rollup is a plain read of the MAINTAINED table
    Tables.parquet(spark, tableDir)
      .select(col("day").cast("string").as("day"), col("event_type"),
        col("p_n").as("n"),
        (col("p_cents").cast("double") / 100.0).as("total_value"))
  }

  /** One maintenance upsert: merge a batch's daily partials into the
    * partitioned table, rewriting ONLY the touched day partitions. Every
    * rewritten partition's rows carry the `batch_id` of that merge, so
    * checkpoint REPLAY is idempotent by asking the table what it holds:
    * a day already stamped with this batch (or a later one) is skipped.
    * That covers a crash between the table commit and the checkpoint
    * commit, and one partway through the commit's per-partition moves.
    * A merge is not an append, so `DailyApp`'s dt guard does not fit it.
    * Table existence is detected from partition directories, NOT a
    * _SUCCESS marker: the dynamic-partition-overwrite commit protocol
    * doesn't write one at the table root.
    */
  private def upsertDailyPartials(batch: DataFrame, tableDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val partials = batch
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("p_cents"),
        count(lit(1)).as("p_n"))
      .localCheckpoint() // probed for its days AND merged: one batch scan
    val hasPartitions = Option(new java.io.File(tableDir).listFiles())
      .exists(_.exists(_.getName.startsWith("day=")))
    val merged =
      if (hasPartitions) {
        // touched days only — a handful of partition values, never rows
        val days = partials.select(col("day")).distinct()
          .collect().map(_.getString(0)).toSeq
        val existing = Tables.parquet(spark, tableDir)
          .select(col("day").cast("string").as("day"), col("event_type"),
            col("p_cents"), col("p_n"), col("batch_id"))
          .filter(col("day").isin(days: _*))
        val done = existing.filter(col("batch_id") >= batchId)
          .select(col("day")).distinct().collect().map(_.getString(0)).toSet
        val fresh = days.filterNot(done)
        if (fresh.isEmpty) return // replayed batch: every day already merged
        existing.drop("batch_id").unionByName(partials)
          .filter(col("day").isin(fresh: _*))
          .groupBy(col("day"), col("event_type"))
          .agg(sum(col("p_cents")).as("p_cents"), sum(col("p_n")).as("p_n"))
      } else partials
    // localCheckpoint breaks the file lineage: we overwrite the very
    // partitions we just read (read-then-rewrite is the upsert contract)
    merged.withColumn("batch_id", lit(batchId)).localCheckpoint()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(tableDir)
  }

  /** Streaming daily window aggregation — identical result contract to
    * the batch `Analytics.eventsDaily`; complete-mode foreachBatch
    * parquet terminal (full result overwritten per trigger). In
    * production: append mode + watermark (see `dailyCountsAppend`).
    */
  def dailyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("total_value"))
    runToParquet(spark, agg, "graft_stream_daily", OutputMode.Complete)
  }

  /** Streaming distinct-cardinality via the HLL sketch, self-audited —
    * the streaming form of q_approx_distinct: exact COUNT(DISTINCT) is
    * unavailable in a streaming aggregation (unbounded per-group state),
    * so production counts uniques with approx_count_distinct, whose
    * constant-size mergeable HLL buffer is exactly what the state store
    * wants. The streamed estimates are then audited against the exact
    * batch recount per (day, type) and the contract carries only the
    * exact count and the tolerance verdict — the estimate itself is
    * engine sketch state, kept out of the oracle like the batch audit.
    */
  def dailyApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("n_approx"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_approx"))
    val streamed = runToParquet(spark, agg, "graft_stream_approx_distinct",
      OutputMode.Complete)
    val exact = graft.sources.Tables.events(spark, sfDir)
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    streamed.join(exact, Seq("day", "event_type"))
      .select(col("day"), col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * lit(0.15))
          .as("within_tol"))
  }

  /** The custom quantile-sketch aggregate as STREAMING state — the MRL
    * compactor ladder ([[graft.functions.QuantileSketchAgg]]) lives in
    * the state store per event_type: each of the 3 sharded micro-batches
    * folds its rows into partial ladders, which merge with the
    * DESERIALIZED prior state (the TypedImperativeAggregate
    * serialize/merge contract doing double duty as checkpointed stream
    * state). The complete-mode snapshot after the final trigger is a
    * sketch over ALL history, audited by the same exact-rank tail as the
    * batch form — the sketch's any-merge-order guarantee is exactly what
    * makes the incremental stream answer as good as the one-pass batch
    * answer. At scale this is how you keep live percentile dashboards
    * without re-scanning history per refresh.
    */
  def streamingQuantileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
    val agg = landingStream(spark, stagedShardedDir(spark, sfDir, shards = 3))
      .select(col("event_type"), cents.as("c"))
      .groupBy(col("event_type"))
      .agg(graft.functions.QuantileSketch.quantile_sketch(col("c")).as("est"))
      .select(col("event_type"), col("est")(0).as("e25"),
        col("est")(1).as("e50"), col("est")(2).as("e75"))
    val streamed = runToParquet(spark, agg, "graft_stream_quantile", OutputMode.Complete)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents.as("c"))
    Analytics.quantileRankAudit(ev, streamed)
  }

  /** The production-shaped form of the daily window: APPEND mode with a
    * one-hour watermark — each window row is emitted exactly once, when
    * the watermark passes its end, instead of re-emitting the whole
    * result per trigger (complete mode's memory-bound anti-pattern at
    * scale). The finite-stream flush comes from the staged far-future
    * sentinel batch: its event time advances the watermark past every
    * real window; sentinel rows themselves are filtered out before the
    * aggregation (the filter sits after watermark assignment, so they
    * still advance it).
    */
  def dailyCountsAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = landingStream(spark, stagedDir(spark, sfDir, withEos = true))
      .withWatermark("ts", "1 hour")
      // The disjunct referencing ts is vacuous (ts is never null) but
      // load-bearing: predicates that mention the event-time column are
      // NOT pushed below the EventTimeWatermark node, so sentinel rows
      // still advance the watermark before dying here. A plain
      // event_type filter would be pushed into the parquet scan —
      // beneath the watermark collector — and the stream would never
      // finalize its last windows.
      .filter(col("event_type") =!= "eos" || col("ts").isNull)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("total_value"))
    runToParquet(spark, agg, "graft_stream_daily_append")
  }

  /** Stream-stream interval join: purchases matched to the views they
    * followed within one hour, per user — both sides watermarked so the
    * join state is bounded (a view older than watermark − 1 h can never
    * match again and is evicted). Inner-join matches emit as soon as
    * both sides arrive; the batch oracle is the identical interval join
    * in SQL. The scale story is the state bound: without the time
    * constraint the join would buffer both streams forever.
    */
  def viewPurchaseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def side(t: String, idAs: String, tsAs: String): DataFrame =
      eventsStream(spark, sfDir)
        .filter(col("event_type") === t)
        .select(col("user_id").as(s"${t}_user"), col("event_id").as(idAs),
          col("ts").as(tsAs))
        .withWatermark(tsAs, "1 hour")
    val views = side("view", "view_id", "view_ts")
    val purchases = side("purchase", "purchase_id", "purchase_ts")
    val joined = views.join(purchases,
        col("view_user") === col("purchase_user")
          && col("purchase_ts") >= col("view_ts")
          && col("purchase_ts") <= col("view_ts") + expr("interval 1 hour"))
      .select(col("view_user").as("user_id"), col("view_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("gap_us"))
    runToParquet(spark, joined, "graft_stream_vpjoin")
  }

  /** Streaming dead-letter fan-out — the DLQ pattern: ONE pass over
    * each micro-batch routes clean rows to the main sink and
    * unparseable rows to a quarantine sink, inside the same
    * `foreachBatch` transaction scope (the batch is persisted once,
    * both filters read the cached rows, no double scan of the source).
    * Corruption is the q_parse_quarantine injection (event_id % 7 →
    * truncated JSON); the result readback summarizes both sinks, so the
    * oracle is the same disposition arithmetic. At scale this is how a
    * pipeline keeps poison records from stalling ingest while never
    * silently dropping them.
    */
  def quarantineStream(spark: SparkSession, sfDir: String): DataFrame = {
    val run = Staging.runDir("graft_stream_dlq")
    val okDir = run.resolve("ok").toString
    val dlqDir = run.resolve("dlq").toString
    val propsSchema = StructType(Seq(StructField("k", IntegerType)))
    val parsed = eventsStream(spark, sfDir)
      .select(col("event_id"),
        when(col("event_id") % 7 === 0, substring(col("props"), 1, 4))
          .otherwise(col("props")).as("raw"))
      .withColumn("k", from_json(col("raw"), propsSchema).getField("k"))
    runAvailableNow(run, parsed) { (batch, _) =>
      batch.persist()
      try {
        batch.filter(col("k").isNotNull)
          .write.mode("append").parquet(okDir)
        batch.filter(col("k").isNull)
          .write.mode("append").parquet(dlqDir)
      } finally { batch.unpersist(); () }
    }
    val ok = Tables.parquet(spark, okDir)
      .select(lit("ok").as("disposition"), col("k"))
    val dlq = Tables.parquet(spark, dlqDir)
      .select(lit("quarantined").as("disposition"), col("k"))
    ok.unionByName(dlq)
      .groupBy(col("disposition"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("bigint").as("sum_k"))
  }

  /** NATIVE streaming sessionization — `session_window` under a
    * watermark in append mode, the engine-managed counterpart of the
    * `flatMapGroupsWithState` form (`sessionize`): the state store
    * merges session intervals per user, and a session emits exactly
    * once when the watermark passes its close. Same result contract as
    * the batch `sessionWindowNative`, so they share an oracle; the EOS
    * sentinels (filtered past the watermark collector, as everywhere)
    * close the final open sessions.
    */
  def sessionWindowStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = landingStream(spark, stagedDir(spark, sfDir, withEos = true))
      .withWatermark("ts", "1 hour")
      .filter(col("event_type") =!= "eos" || col("ts").isNull)
      .groupBy(col("user_id"), session_window(col("ts"), Analytics.SessionGap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("session_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))
    runToParquet(spark, agg, "graft_stream_swnative")
  }

  /** Bounded-state streaming dedup — `dropDuplicatesWithinWatermark`:
    * duplicate event_ids arriving within the watermark window are
    * dropped, and each key's state is EVICTED once the watermark passes
    * its event time. This is the scale-correct online dedup: state is
    * bounded by the dedup horizon, where plain `dropDuplicates` (the
    * q_stream_dedup form, fine for a finite corpus) holds every key
    * seen forever. The staged source appends a duplicate file (every
    * 10th event re-sent verbatim, arriving in a later micro-batch) so
    * the operator provably drops real cross-batch duplicates; the
    * oracle is the original duplicate-free table.
    */
  def dedupWithinWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = eventsLanding(spark, sfDir, "dupsrc") { ev =>
      Seq("zz_dups.parquet" -> ev.filter(col("event_id") % 10 === 0))
    }
    val deduped = landingStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))
    runToParquet(spark, deduped, "graft_stream_dedup_wm")
  }

  /** Stage events + duplicate re-sends + EOS sentinel batches: the
    * composite source for the chained-stateful query — duplicates prove
    * the dedup stage drops real cross-batch re-sends, sentinels drive
    * the watermark past the last window so append mode finalizes.
    */
  private def stagedDupEosDir(spark: SparkSession, sfDir: String): String =
    eventsLanding(spark, sfDir, "dupeos") { ev =>
      val users = ev.select(col("user_id")).distinct()
      Seq("zz_dups.parquet" -> ev.filter(col("event_id") % 10 === 0),
        "zz_eos1.parquet" -> eosSentinels(ev, users, 2, -2),
        "zz_eos2.parquet" -> eosSentinels(ev, users, 4, -4))
    }

  /** CHAINED STATEFUL OPERATORS in one streaming query — watermarked
    * dedup state feeding append-mode window state: re-sent events die in
    * `dropDuplicatesWithinWatermark` (bounded, watermark-evicted state),
    * and the SURVIVORS aggregate into daily windows that finalize
    * exactly once — so the downstream count is exactly-once EVEN WHEN
    * the upstream delivers at-least-once, which is the production
    * ingest contract (replayed Kafka offsets, retried uploads). Spark
    * runs both stateful stages in one query off one shared watermark;
    * before multi-stateful-operator support this took two jobs with an
    * intermediate landing table. Oracle: the batch distinct→window
    * aggregate over the duplicate-free table.
    */
  def dedupThenWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = landingStream(spark, stagedDupEosDir(spark, sfDir))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      // vacuous ts disjunct: keep the sentinel filter ABOVE the
      // watermark collector (see dailyCountsAppend)
      .filter(col("event_type") =!= "eos" || col("ts").isNull)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"))
    runToParquet(spark, agg, "graft_stream_dedup_agg")
  }

  /** LEFT OUTER stream-stream interval join — the semantically hard
    * streaming shape: matched (view, purchase) pairs emit like the
    * inner join, and a view with NO purchase within its hour emits
    * exactly once WITH NULLs, only after the watermark proves no future
    * purchase can still match (view_ts + 1 h interval + 1 h watermark
    * lag). The EOS sentinel batches drive the watermark past every
    * view's expiry so the AvailableNow run flushes all unmatched rows
    * — same mechanism that finalizes append-mode windows. Sentinels
    * must pass the watermark collector but not the join, hence the
    * post-watermark filter with the vacuous event-time disjunct (see
    * dailyCountsAppend).
    */
  def viewPurchaseLeftJoin(spark: SparkSession, sfDir: String): DataFrame =
    viewPurchaseOuterJoin(spark, sfDir, "leftOuter", "graft_stream_vpleft")

  /** FULL OUTER stream-stream interval join — both unmatched directions
    * at once: matched pairs emit like the inner join; a view with no
    * purchase in its hour emits once with NULL purchase columns after
    * the watermark proves no match can arrive (the left-join case); and
    * a purchase no view preceded ALSO emits once with NULL view columns
    * once the watermark passes its interval's other end. State eviction
    * is symmetric — each side's buffer is bounded by interval + lag, so
    * at 100 TB/day the store holds a two-hour band per side, never
    * history. Same EOS-sentinel flush discipline as the left join.
    */
  def viewPurchaseFullJoin(spark: SparkSession, sfDir: String): DataFrame =
    viewPurchaseOuterJoin(spark, sfDir, "fullOuter", "graft_stream_vpfull")

  /** The `how` outer interval join of views and purchases over the EOS
    * landing, run as `name`. `user_id` is the view's user, or the
    * purchase's where no view matched (full join only).
    */
  private def viewPurchaseOuterJoin(spark: SparkSession, sfDir: String,
      how: String, name: String): DataFrame = {
    val dir = stagedDir(spark, sfDir, withEos = true)
    def side(t: String, idAs: String, tsAs: String): DataFrame =
      landingStream(spark, dir)
        .select(col("user_id").as(s"${t}_user"), col("event_id").as(idAs),
          col("ts").as(tsAs), col("event_type"))
        .withWatermark(tsAs, "1 hour")
        .filter(col("event_type") === t || col(tsAs).isNull)
        .drop("event_type")
    val views = side("view", "view_id", "view_ts")
    val purchases = side("purchase", "purchase_id", "purchase_ts")
    val joined = views.join(purchases,
        col("view_user") === col("purchase_user")
          && col("purchase_ts") >= col("view_ts")
          && col("purchase_ts") <= col("view_ts") + expr("interval 1 hour"),
        how)
      .select(
        coalesce(col("view_user"), col("purchase_user")).as("user_id"),
        col("view_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("gap_us"))
    runToParquet(spark, joined, name)
  }

  /** Stream-static join: the event stream enriched with a BATCH-computed
    * dimension (each user's first-seen cohort day) and aggregated per
    * (cohort, event_type). The static side is planned once and
    * broadcast into every micro-batch — no state store for the join, no
    * watermark needed on the dimension; this is the canonical shape for
    * joining a stream against reference data at scale (dims refresh by
    * restarting the query or via a slowly-refreshed broadcast).
    */
  def cohortEnrichedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val cohorts = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(date_format(min(col("ts")), "yyyy-MM-dd").as("cohort"))
    val agg = eventsStream(spark, sfDir)
      .join(broadcast(cohorts), "user_id") // stream-static equi join
      .groupBy(col("cohort"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    runToParquet(spark, agg, "graft_stream_cohort", OutputMode.Complete)
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ----

  case class Ev(event_id: Long, user_id: Long, ts_us: Long, value: Double)
  case class SessionAgg(user_id: Long, session_id: Int, n_events: Long,
      session_start_us: Long, session_value: Double)

  /** Per-user streaming state: the id of the currently-open session and
    * its full running aggregate (nEvents == 0 ⇔ no open session). Carrying
    * the aggregate — not just the last timestamp — is what lets a session
    * span micro-batches: the next batch keeps accumulating instead of
    * re-emitting or crashing on a continuation event.
    */
  case class UserSessionState(sessionId: Int, lastTsUs: Long,
      nEvents: Long, startUs: Long, value: Double)

  /** Custom streaming state: per-user 30-minute-gap sessionization via
    * flatMapGroupsWithState. Events are sorted within each micro-batch;
    * a session is emitted ONLY when a later event closes it (gap
    * exceeded), so output is append-correct across any number of
    * micro-batches. The staged sentinel batch (see `stagedDir`) closes
    * the trailing open sessions; sentinel sessions themselves are never
    * emitted. The batch gaps-and-islands form
    * (`Analytics.eventsSessionized`) is the oracle — a spec asserts both
    * agree, and a two-file spec asserts sessions survive a mid-session
    * batch boundary.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedDir(spark, sfDir, withEos = true)
    sessionizeDir(spark, dir)
  }

  /** The streaming plan over an already-staged source directory; each
    * file arrives as its own micro-batch (maxFilesPerTrigger=1).
    */
  def sessionizeDir(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._

    val events: Dataset[Ev] = landingStream(spark, srcDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Ev]

    def fn(userId: Long, it: Iterator[Ev],
        state: GroupState[UserSessionState]): Iterator[SessionAgg] = {
      val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.getOrElse(UserSessionState(0, Long.MinValue, 0, 0, 0.0))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionAgg]
      sorted.foreach { e =>
        if (e.event_id < 0) { // flush marker: close the open session, open none
          if (st.nEvents > 0) {
            out += SessionAgg(userId, st.sessionId, st.nEvents, st.startUs, st.value)
            st = UserSessionState(st.sessionId, e.ts_us, 0, 0, 0.0)
          }
        } else if (st.nEvents == 0) { // first event: open the next session
          st = UserSessionState(st.sessionId + 1, e.ts_us, 1, e.ts_us, e.value)
        } else if (e.ts_us - st.lastTsUs > Analytics.SessionGapUs) { // close + reopen
          out += SessionAgg(userId, st.sessionId, st.nEvents, st.startUs, st.value)
          st = UserSessionState(st.sessionId + 1, e.ts_us, 1, e.ts_us, e.value)
        } else { // continuation — possibly from a previous micro-batch
          st = UserSessionState(st.sessionId, e.ts_us,
            st.nEvents + 1, st.startUs, st.value + e.value)
        }
      }
      state.update(st)
      out.iterator
    }

    val sessions = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    runToParquet(spark, sessions.toDF(), "graft_stream_sessions")
  }
}
