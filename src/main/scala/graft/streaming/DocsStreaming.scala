package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import graft.Staging
import graft.sources.Tables

/** Streaming ingest-time deduplication over the documents corpus — the
  * online half of the dedup pipeline: as documents arrive in
  * micro-batches, `dropDuplicates` on the content hash keeps exactly the
  * first occurrence of each distinct text, with the seen-hash set held
  * in the state store (in production: bounded by a watermark on ingest
  * time; the corpus here is finite, so the state is the distinct-hash
  * set). Output is the distinct content hashes — deterministic across
  * batch boundaries, so the batch DISTINCT oracle checks the streaming
  * path.
  */
object DocsStreaming {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(docSchema).parquet(s"$sfDir/documents.parquet")

  /** A documents landing of `kind`. Staging goes THROUGH the Spark reader,
    * never a raw file copy: a production-shape fixture is a DIRECTORY of
    * part files, and Spark's file-stream source does not recurse into
    * subdirectories — a raw copy of the dir under the source path produced
    * a source the stream listed as EMPTY (caught by the sf100 oracle gate:
    * 0 rows vs 1.56 M; smaller fixtures are single files, so no scale
    * below the restaged one could see it).
    */
  private def docsLanding(spark: SparkSession, sfDir: String, kind: String)(
      write: String => Unit): String =
    Staging.landing(spark, kind, sfDir, Seq(s"$sfDir/documents.parquet"))(write)

  private def stagedDir(spark: SparkSession, sfDir: String): String =
    docsLanding(spark, sfDir, "docs")(docs(spark, sfDir).write.mode("overwrite").parquet(_))

  /** Distinct content hashes of the streamed corpus. */
  def dedupHashes(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = spark.readStream.schema(docSchema)
      .parquet(stagedDir(spark, sfDir))
      .select(md5(col("text")).as("content_hash"))
      .dropDuplicates("content_hash")
    // foreachBatch parquet append + readback: the distinct-hash rows
    // stream executor-side to files instead of accumulating in driver
    // memory (see EventsStreaming.runToParquet)
    EventsStreaming.runToParquet(spark, deduped, "graft_stream_docs_dedup")
  }

  /** Per-bucket space-saving sketch state: cumulative token count plus
    * the O(capacity) counter map.
    */
  case class BucketSketch(nSeen: Long, entries: Map[String, Long])
  case class SketchRow(bucket: Int, n_seen: Long, token: String)

  private def stagedShardedDocs(spark: SparkSession, sfDir: String,
      shards: Int): String =
    docsLanding(spark, sfDir, s"docs_sh$shards")(docs(spark, sfDir)
      .repartition(shards, col("doc_id")).write.mode("overwrite").parquet(_))

  /** Stage documents as `shards` CONTIGUOUS doc_id-range files with
    * ascending mod times, so `maxFilesPerTrigger=1` replays ingest in
    * arrival order — the precondition that makes the sequential
    * first-wins dedup below equal its global batch oracle.
    */
  private def stagedRangeShardedDocs(spark: SparkSession, sfDir: String,
      shards: Int): String =
    Staging.landingFiles(spark, s"docs_rng$shards", sfDir,
        Seq(s"$sfDir/documents.parquet")) {
      val all = docs(spark, sfDir)
      val maxId = all.agg(max(col("doc_id"))).head().getLong(0)
      (0 until shards).map { i =>
        val lo = maxId * i / shards
        val hi = if (i == shards - 1) Long.MaxValue else maxId * (i + 1) / shards
        f"shard_$i%02d.parquet" -> all.filter(col("doc_id") >= lo && col("doc_id") < hi)
      }
    }

  /** Micro-batches between band-index compactions in [[streamDedupMinhash]]. */
  private val BandIndexCompactEvery = 2

  /** Streaming ingest-time NEAR-dup removal — the online form of the
    * minhash LSH pipeline, and the shape a production corpus ingest
    * actually runs: each arriving micro-batch computes its documents'
    * band keys, probes the standing band index for collisions with
    * anything already ingested, resolves within-batch collisions to the
    * smallest doc_id, appends the batch's bands to the index, and lands
    * only the survivors. First-wins across the whole ingest history —
    * a document is dropped iff some earlier-ingested document shares a
    * band — which, with arrival order = doc_id order, is exactly the
    * batch rule "∃ smaller doc_id sharing a band", so the global LSH
    * oracle checks the sequential path.
    *
    * Scale shape: the index holds (band_id, band_key, doc_id) — a few
    * dozen bytes per document, not the text; the probe is a semi join
    * on the band key, the within-batch resolution a window over the
    * batch's own bands; per-ingest cost is O(batch + matching index
    * buckets), never a rescan of the corpus. This is the streaming twin
    * of `Dedup.dedupIncremental`'s managed-table batch path.
    *
    * The index is GENERATIONALLY COMPACTED: without it, batch N probes
    * N per-batch subdirs and probe cost grows linearly with stream age
    * — a month-old ingest would list thousands of directories per
    * trigger. Every K = [[BandIndexCompactEvery]] batches the compacting
    * batch folds the previous generation plus the closed per-batch subdirs
    * into one `gen<N>` dir before probing, so every probe reads at most
    * one generation + K−1 subdirs no matter how many batches have run.
    * Crash-safety is `_SUCCESS`-gated (the q_stream_cdc_apply pattern): a
    * half-written generation lacks the marker and is invisible, the retry
    * rebuilds it from the still-present inputs; folded subdirs are
    * deleted only AFTER the marker exists, and a retry that finds a
    * closed generation skips the fold entirely. All index I/O goes
    * through the Hadoop `FileSystem` API — on a real cluster this index
    * lives on HDFS/S3A, not a local disk.
    */
  def streamDedupMinhash(spark: SparkSession, sfDir: String,
      shards: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.hadoop.fs.Path
    val run = Staging.runDir("graft_stream_docs_mh")
    val base = new Path(run.toString)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexDir = new Path(base, "index")
    val outDir = new Path(base, "survivors")
    // Per-batch subdirs written with OVERWRITE make each foreachBatch
    // delivery idempotent: a task-retried batch rewrites its own subdir
    // instead of appending a second copy of its survivors/bands (the
    // session runs with 3 task attempts, so partial-write retries are a
    // real schedule). Readback unions the subdirs via recursive lookup.
    def batchSub(dir: Path, id: Long) = new Path(dir, s"b$id")
    def genPath(id: Long) = new Path(indexDir, s"gen$id")
    def closed(p: Path) = fs.exists(new Path(p, "_SUCCESS"))
    // newest closed generation with id ≤ cap; gen<g> holds batches 0..g-1
    def latestGen(cap: Long): Option[Long] =
      if (!fs.exists(indexDir)) None
      else fs.listStatus(indexDir).toSeq.map(_.getPath.getName)
        .collect { case s if s.startsWith("gen") => s.drop(3).toLong }
        .filter(g => g <= cap && closed(genPath(g))).sorted.lastOption
    val src = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedRangeShardedDocs(spark, sfDir, shards))
    EventsStreaming.runAvailableNow(run, src) { (batch, batchId) =>
      // 1. compaction turn: fold history-so-far into gen<batchId>
      // BEFORE probing. Deterministic given the closed prior batches,
      // so the OVERWRITE write is retry-idempotent; skipped outright
      // when a closed gen<batchId> already exists (post-deletion retry).
      if (batchId > 0 && batchId % BandIndexCompactEvery == 0
          && !closed(genPath(batchId))) {
        val g = latestGen(batchId - 1)
        val from = g.getOrElse(0L)
        val inputs = (g.map(genPath(_).toString).toSeq ++
          (from until batchId).map(batchSub(indexDir, _).toString))
          .filter(p => fs.exists(new Path(p)))
        if (inputs.nonEmpty) {
          Tables.parquet(spark, inputs: _*)
            .write.mode("overwrite").parquet(genPath(batchId).toString)
          // folded subdirs (and the superseded generation) go away
          // only now that gen<batchId> carries its _SUCCESS marker
          (from until batchId).foreach(i =>
            fs.delete(batchSub(indexDir, i), true))
          g.foreach(old => fs.delete(genPath(old), true))
        }
      }
      batch.persist() // read for its bands AND its survivors: one source scan
      val bands = graft.operators.Dedup.bandRows(batch)
        .cache() // probed, window-scanned, AND appended below
      try {
        // Probe only PRIOR batches' bands — one generation + the
        // subdirs after it. A retry of batch N must not see N's own
        // half-written bands, or its survivors change.
        val g = latestGen(batchId)
        val priorIdx = (g.map(genPath(_).toString).toSeq ++
          (g.getOrElse(0L) until batchId)
            .map(batchSub(indexDir, _).toString))
          .filter(p => fs.exists(new Path(p)))
        val idxHit =
          if (priorIdx.nonEmpty)
            bands.join(Tables.parquet(spark, priorIdx: _*),
                Seq("band_id", "band_key"), "left_semi")
              .select(col("doc_id"))
          else bands.select(col("doc_id")).limit(0)
        val batchHit = bands
          .withColumn("mn", min(col("doc_id")).over(
            Window.partitionBy(col("band_id"), col("band_key"))))
          .filter(col("doc_id") > col("mn"))
          .select(col("doc_id"))
        val dropped = idxHit.union(batchHit).distinct()
        batch.join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("lang"))
          .write.mode("overwrite").parquet(batchSub(outDir, batchId).toString)
        // ALL bands enter the index (survivor or not): the first-wins
        // rule compares against everything previously INGESTED
        bands.write.mode("overwrite")
          .parquet(batchSub(indexDir, batchId).toString)
      } finally { bands.unpersist(); batch.unpersist(); () }
    }
    // a glob, so each `b<id>` batch dir is its own root (not a `k=v` name)
    Tables.parquet(spark, new Path(outDir, "b*").toString)
  }

  /** Streaming heavy-hitter tokens — the online form of the batch
    * space-saving pipeline (`TextAnalysis.heavyHitters`): an unbounded
    * token stream can never hold a full token group-by in the state
    * store, but it CAN hold B × O(k) space-saving counters. Tokens hash
    * to one of B bucket sketches (`flatMapGroupsWithState`), so every
    * occurrence of a token updates exactly one sketch and the per-bucket
    * no-false-negative guarantee (freq > N_bucket/k ⇒ present, and
    * N_bucket ≤ N) survives bucketing for the global N/k threshold.
    * Each micro-batch the group emits its current candidate set tagged
    * with the cumulative count; readback keeps each bucket's LAST
    * emission (max n_seen), then the exact recount + threshold runs as
    * one batch pass over the corpus — so the streaming sketch, like the
    * batch one, returns the EXACT heavy-hitter set the brute-force
    * HAVING oracle computes.
    *
    * Scale: state is B×k strings, constant in stream length; the only
    * per-batch shuffle is the token stream hashed to B buckets. The
    * eviction scan is O(k) — see [[graft.functions.SpaceSavingAgg]] for
    * the heap note at production k.
    */
  def heavyHittersStream(spark: SparkSession, sfDir: String,
      buckets: Int = 16, capacity: Int = 512): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import graft.functions.TextFunctions.wsTokens
    val srcDir = stagedShardedDocs(spark, sfDir, shards = 4)

    val toks = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .select(explode(wsTokens(col("text"))).as("token"),
        pmod(xxhash64(col("token")), lit(buckets)).cast("int").as("bucket"))
      .as[(String, Int)]

    def fn(bucket: Int, it: Iterator[(String, Int)],
        state: org.apache.spark.sql.streaming.GroupState[BucketSketch])
        : Iterator[SketchRow] = {
      var n = state.getOption.map(_.nSeen).getOrElse(0L)
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      state.getOption.foreach(s => m ++= s.entries)
      it.foreach { case (tok, _) =>
        n += 1
        graft.functions.SpaceSaving.offer(m, tok, capacity)
      }
      state.update(BucketSketch(n, m.toMap))
      m.keysIterator.map(t => SketchRow(bucket, n, t))
    }

    val sketches = toks.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    val dumped = EventsStreaming.runToParquet(spark, sketches.toDF(), "graft_stream_docs_hh")

    // final sketch state = each bucket's last emission; then the exact
    // candidate recount over the batch corpus (the sketch is the
    // candidate generator, exactness comes from the recount). Every
    // token lands in one bucket, so the buckets' last counts sum to the
    // token total.
    val lastPerBucket = dumped
      .groupBy(col("bucket")).agg(max(col("n_seen")).as("n_seen"))
    val cand = dumped
      .join(lastPerBucket, Seq("bucket", "n_seen"))
      .select(col("token")).distinct()
      .crossJoin(broadcast(lastPerBucket.agg(sum(col("n_seen")).as("n_tok"))))
    val corpus = spark.read.schema(docSchema).parquet(srcDir)
      .select(explode(wsTokens(col("text"))).as("token"))
    graft.operators.TextAnalysis.recountHeavyHitters(corpus, cand, capacity)
  }
}
