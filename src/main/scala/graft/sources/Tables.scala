package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Readers for the driver testdata tables (`/root/repo/TESTDATA.md`).
  *
  * Plain parquet scans through [[parquet]] — the schema comes from the
  * footer of one data file, read on the driver (no Spark job), and
  * filters / projections push down through the vectorized reader. At
  * 100 TB these become partitioned-table scans (e.g. orders by month,
  * events by day); nothing downstream assumes single-file inputs.
  */
object Tables {

  /** The one plain Parquet reader: `spark.read.schema(s).parquet(paths)`
    * with `s` read from ONE footer on the driver. A schema-inferred
    * `spark.read.parquet` reads that same footer through a one-task Spark
    * job per read, the largest fixed cost of building a batch query.
    *
    * The footer is the first non-hidden `*.parquet` leaf by path — the
    * file Spark's own inference picks with `mergeSchema` off — and turns
    * into a schema through Spark's footer converter under the session's
    * conf (`nanosAsLong`, NTZ inference), so the result equals the
    * inferred one. `k=v` partition columns are still discovered from the
    * paths. With no data file under `paths` this IS the inferred read,
    * so a missing or empty table fails exactly as before. Nothing is
    * memoized: every call re-reads its footer.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    firstDataFile(spark, paths) match {
      case Some(f) =>
        val footer = new Footer(f.getPath, ParquetFileReader.readFooter(
          spark.sparkContext.hadoopConfiguration, f,
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
          .parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The first `*.parquet` leaf under `paths` by path string, skipping
    * what Spark's file index hides: `_x` (unless a `k=v` dir) and `.x`.
    */
  private def firstDataFile(spark: SparkSession,
      paths: Seq[String]): Option[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def leaves(s: FileStatus, fs: FileSystem): Seq[FileStatus] =
      if (s.isFile) Seq(s).filter(_.getPath.getName.endsWith(".parquet"))
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves(_, fs))
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(leaves(_, fs))
    }
    if (files.isEmpty) None else Some(files.minBy(_.getPath.toString))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** Spread an under-split scan across the session's parallelism. The
    * test-sf corpus tables are SINGLE-file, single-row-group parquet
    * (55 MB at sf10) — below `maxPartitionBytes` they scan as ONE task,
    * so every heavy per-row stage downstream (shingling, hashing,
    * higher-order functions over token arrays) ran serial on one core
    * of 32 regardless of plan shape. Gate on the actual split count:
    * at production scale the source arrives in thousands of splits and
    * this is a PASSTHROUGH — no round-robin exchange of the raw corpus
    * is ever added where the scan already parallelizes.
    *
    * Two costs the naive version paid on EVERY call (the round-10
    * regression tax on sub-second queries):
    *  - `df.rdd` instantiates the full physical plan eagerly per call —
    *    the decision is now memoized per (session, path, FS fingerprint),
    *    where the fingerprint (file count + bytes + max mtime) also
    *    invalidates the entry if the data is regenerated in place.
    *  - tiny tables paid a corpus exchange for stages that finish in
    *    milliseconds serially — a per-table bytes floor (256 KiB to
    *    4 MiB, see the callers) keeps them exchange-free: at sf0.1 (0.6-0.8 MB
    *    tables) the exchange cost every light consumer ~0.3-0.6 s for
    *    sub-second stages (measured r11: the taxed seven ran 11.98 s
    *    spread-on vs 7.37 s spread-off, 3-pass isolated) while the
    *    heavy winners only clawed back ~0.4 s; from sf1 up (5.5 MB+)
    *    the spread win dominates. Deterministic filters
    *    still push BELOW the Repartition (Catalyst
    *    PushPredicateThroughNonJoin covers it), so point lookups never
    *    exchange the full table either way.
    */
  private val spreadDecision =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  /** Stable per-session id for cache keys: weak-keyed so a GC'd session's
    * id (and thus its entries' reachability from a fresh lookup) can never
    * be reused the way `System.identityHashCode` could.
    */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  /** Cheap FS-metadata fingerprint: file count, total bytes, max mtime.
    * Shared with the artifact key rule ([[graft.Staging]]) so
    * regenerated-in-place data invalidates every derived artifact, not
    * just the spread decision.
    */
  private[graft] def fsFingerprint(spark: SparkSession, path: String): (String, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter(_.isFile)
    val bytes = parts.map(_.getLen).sum
    val mtime = if (parts.isEmpty) 0L else parts.map(_.getModificationTime).max
    (s"${parts.length}:$bytes:$mtime", bytes)
  }

  private def spread(df: DataFrame, path: String,
      minBytes: Long): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val (fp, bytes) = fsFingerprint(spark, path)
    // keyed on a per-session UUID, not identityHashCode: identity hashes
    // can be reused after a GC'd session, serving a stale decision
    val key = s"${sessionId(spark)}|$path|$fp"
    // decisions are cheap to recompute — bound the map instead of letting
    // long-lived processes (test suites) accumulate dead-session entries
    if (spreadDecision.size() > 1024) spreadDecision.clear()
    val need = spreadDecision.computeIfAbsent(key, _ =>
      bytes >= minBytes && df.rdd.getNumPartitions < target)
    if (need) df.repartition(target) else df
  }

  // Per-table floors, both measured at sf0.1 (round-11 full-suite A/B):
  // the documents family is shingle/minhash-heavy per byte — un-spreading
  // the 0.6 MB sf0.1 file cost ~20 doc queries +0.3..0.7 s each (+15 s
  // suite-wide), so documents spread from 256 KiB up. The embeddings
  // consumers are lighter per byte and the exchange was a net LOSS at
  // 0.8 MB (q_dedup_embedding_cc +0.9 s, q_sim_topk_ivf +0.3 s), so
  // embeddings spread only from 1 MiB (sf1's 7.8 MB file and up).
  def documents(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "documents"), s"$d/documents.parquet", 256L << 10)
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "embeddings"), s"$d/embeddings.parquet", 1L << 20)

  /** Un-spread readers for consumers whose first stage is NOT
    * per-row-heavy (point lookups, pure sampling/length scans): they
    * skip the round-robin exchange entirely no matter the table size.
    */
  def documentsRaw(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddingsRaw(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")

  /** LIGHT-consumer documents reader — for queries whose per-byte work
    * is one tokenize + aggregate (vocab builds, token-frequency fits,
    * OOV audits): real, but ~10× lighter than the shingle/minhash
    * family the 256 KiB floor was tuned for. At sf0.1 (0.6 MB) the
    * round-robin exchange costs these queries more than serial
    * tokenization does (round-11 A/B: the taxed light set ran 11.98 s
    * spread-on vs 7.37 s spread-off), so the floor here is 4 MiB:
    * exchange-free through sf0.1, spread resumes from sf1 (5.5 MB)
    * where parallel tokenization wins and keeps winning at every
    * larger scale.
    */
  def documentsLight(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "documents"), s"$d/documents.parquet", 4L << 20)

  /** Raw events with `ts` normalized to Long NANOSECONDS — the internal
    * convention the streaming stagers persist to their landing dirs.
    *
    * The driver's fixture has shipped two physical encodings across
    * rounds: INT64(TIMESTAMP(NANOS)) — which Spark's vectorized reader
    * rejects outright (PARQUET_TYPE_ILLEGAL) unless read as Long via
    * `nanosAsLong`, part of every [[graft.GraftSession]]'s policy — and
    * plain timestamp[us], which Spark reads as
    * TIMESTAMP_NTZ. Both normalize here by inspecting the footer schema,
    * so every downstream consumer is encoding-agnostic. All arithmetic
    * stays in Long (a double division would lose precision above 2^53);
    * the µs path multiplies exactly, matching DuckDB's own reading of
    * the same file to the microsecond.
    */
  def eventsRawNanos(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      // NTZ under the UTC session zone casts value-identically to LTZ
      case _ => raw.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }

  /** `events` with `ts` as a proper TIMESTAMP (µs, UTC session). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsRawNanos(spark, sfDir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
}
