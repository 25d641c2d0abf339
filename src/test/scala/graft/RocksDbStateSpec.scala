package graft

import graft.streaming.EventsStreaming

/** RocksDB state store — the state-bigger-than-heap scale path.
  *
  * The default HDFS-backed state store keeps every key's state in
  * executor heap; at 100 TB a stream-stream join or a wide session
  * window holds state far past heap limits. Spark ships a RocksDB
  * provider (off-heap, spillable to local SSD, incremental-checkpoint)
  * exactly for that — flipping
  * `spark.sql.streaming.stateStore.providerClass` must change WHERE
  * state lives and nothing about WHAT the query answers.
  *
  * This spec pins both halves of that contract on a real stateful
  * query (native session windows with watermark eviction):
  *   1. results under RocksDB are row-identical to the default
  *      provider's (and both to the committed oracle semantics);
  *   2. the provider genuinely engaged — the progress metrics carry
  *      rocksdb-specific counters, not the HDFS provider's.
  */
class RocksDbStateSpec extends SparkTestBase {

  test("session-window results are provider-invariant and RocksDB engages") {
    // RocksDB is the default (EventsStreaming.runAvailableNow); the
    // heap baseline must be pinned explicitly through the graft mode key.
    val modeKey = "graft.streaming.stateProvider"
    spark.conf.set(modeKey, "heap")
    val heapRows =
      try canon(EventsStreaming.sessionWindowStream(spark, sf()))
      finally spark.conf.unset(modeKey)
    assert(heapRows.nonEmpty)

    // default mode — nothing set: the wrapper must choose RocksDB
    val rocksRows = canon(EventsStreaming.sessionWindowStream(spark, sf()))
    assert(rocksRows == heapRows,
      "RocksDB state store changed query RESULTS — providers must only change state placement")

    val progresses = EventsStreaming.lastProgressFor("graft_stream_swnative_")
    val metrics = progresses.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
    assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb metrics in state-operator progress — the default-mode run did not engage RocksDB (saw: ${metrics.distinct.take(5).mkString(",")})")
  }

  test("state partitions: one per started MiB of input, between 1 and the session's shuffle partitions") {
    val mib = 1L << 20
    Seq((0L, 4, 1), (1L, 4, 1), (mib, 4, 1), (mib + 1, 4, 2), (2 * mib, 4, 2),
        (2 * mib, 1, 1), (Long.MaxValue, 4, 4), (Long.MaxValue, 200, 200))
      .foreach { case (bytes, cap, want) =>
        assert(EventsStreaming.statePartitions(bytes, cap) === want, s"$bytes bytes, cap $cap")
      }
  }

  /** State partitions of the last stream run's state operators. */
  private def lastStatePartitions(): Seq[Long] =
    EventsStreaming.trails.last.progress.toSeq
      .flatMap(_.stateOperators).map(_.numShufflePartitions).distinct

  test("statePartitions override reshards state without changing results") {
    // The count is derived from the input bytes (1 at sf0.001); forcing
    // it must change ONLY state placement, for every state operator kind.
    val pKey = GraftConf.StatePartitions.key
    Seq("q_stream_interval_join", "q_stream_left_join", "q_stream_full_join",
        "q_stream_sessionize", "q_stream_dedup_wm", "q_stream_tws").foreach { k =>
      val derived = canon(SparkEntry.queries(k)(spark, sf()))
      assert(derived.nonEmpty, k)
      assert(lastStatePartitions() === Seq(1L), s"$k derived count")
      Seq(1, 8).foreach { n =>
        spark.conf.set(pKey, n.toString)
        val forced =
          try canon(SparkEntry.queries(k)(spark, sf()))
          finally spark.conf.unset(pKey)
        assert(lastStatePartitions() === Seq(n.toLong), s"$k with $pKey=$n")
        assert(forced == derived, s"$k: resharding to $n state partitions changed query RESULTS")
      }
    }
  }

  test("a restart keeps the checkpoint's state partitions after the input grows") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    val landing = Staging.runDir("restart_landing").toString
    def land(from: Long, until: Long): Long = {
      spark.range(from, until)
        .select(col("id"), sha2(col("id").cast("string"), 256).as("pad"))
        .coalesce(1).write.mode("append").parquet(landing)
      sources.Tables.fsFingerprint(spark, landing)._2
    }
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def run(dir: java.nio.file.Path): (Seq[String], Seq[Long]) = {
      val agg = spark.readStream.schema("id long, pad string")
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .groupBy((col("id") % 10).as("k"))
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("len"), max(col("pad")).as("top"))
      val out = dir.resolve("out").toString
      EventsStreaming.runAvailableNow(dir, agg, OutputMode.Complete)((b, _) =>
        b.write.mode("overwrite").parquet(out))
      (canon(spark.read.parquet(out)), lastStatePartitions())
    }
    val small = land(0, 1000)
    val restarted = Staging.runDir("restart_stream")
    val (_, first) = run(restarted)
    assert(first === Seq(EventsStreaming.statePartitions(small, cap)))
    val grown = land(1000, 60000)
    val regrown = EventsStreaming.statePartitions(grown, cap)
    assert(regrown != first.head, s"the grown landing ($grown bytes) derives the same count")
    val (rows, pinned) = run(restarted)
    assert(pinned === first, "the restart did not keep the checkpoint's state partitions")
    val (whole, fresh) = run(Staging.runDir("restart_whole"))
    assert(fresh === Seq(regrown.toLong))
    assert(rows == whole, "the restarted stream's rows differ from an uninterrupted run's")
  }
}
