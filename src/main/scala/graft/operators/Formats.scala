package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Storage-format breadth beyond parquet/CSV/JDBC (SURVEY §2.E1 family)
  * plus the table-maintenance operators a 100 TB pipeline needs: SCD2
  * history compaction and merge/upsert. Each readback aggregates so the
  * oracle (reading the original parquet) checks the round-trip was
  * lossless, not just non-empty.
  */
object Formats {

  private def dec(c: String) = col(c).cast("decimal(12,2)")

  /** Per-sf temp dir so different scale factors never share a sink. */
  private def fmtDir(fmt: String, sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${fmt}_${new File(sfDir).getName}"

  private def ordersSummary(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("sum_total"),
        min(col("o_orderdate")).cast("date").as("first_day"),
        max(col("o_orderdate")).cast("date").as("last_day"))

  /** PERMISSIVE-mode CSV ingestion of a deliberately ragged file — the
    * reader-level form of the reference's parse-quarantine (B2, drift
    * payload → alert path, Final_app.py:53): rows that fail the
    * declared schema (wrong arity, untypeable field) land with the raw
    * line preserved in `_corrupt_record` instead of killing the job or
    * silently vanishing (FAILFAST / DROPMALFORMED would). The query
    * surfaces every row with its quarantine flag and raw line so the
    * alert path has the evidence — the per-file fixture is fixed bytes,
    * so the oracle states the expected rows as VALUES.
    */
  def csvMalformed(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_csv_malformed")
    val f = dir.resolve("rows.csv")
    if (!java.nio.file.Files.exists(f)) {
      java.nio.file.Files.createDirectories(dir)
      // stage + atomic move (the graft.Staging publish idiom): a
      // concurrent bench/verify process either sees the complete file
      // or none — never a half-written rows.csv
      val tmp = java.nio.file.Files.createTempFile(dir, ".rows", ".tmp")
      java.nio.file.Files.writeString(tmp,
        """dt,amount,unit
          |20220819,52999169995,dealer
          |20220819,notanumber,foreign
          |20220819,60297278126
          |20220820,123,trust
          |badlineonly
          |""".stripMargin)
      try
        java.nio.file.Files.move(tmp, f,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // a concurrent process won the race and f exists: keep theirs
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    val schema = StructType(Seq(
      StructField("dt", StringType), StructField("amount", LongType),
      StructField("unit", StringType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.toString)
      .select(col("dt"), col("amount"), col("unit"),
        col("_corrupt_record").isNotNull.as("quarantined"),
        coalesce(col("_corrupt_record"), lit("")).as("raw_line"))
  }

  /** ORC round-trip: columnar like parquet (predicate pushdown, column
    * pruning, splittable) — the interchange format when a consumer is
    * ORC-native. Write orders, read back, summarize.
    */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = fmtDir("orc", sfDir)
    Tables.orders(spark, sfDir).write.mode("overwrite").orc(dir)
    ordersSummary(spark.read.orc(dir))
  }

  /** JSON-lines round-trip: the lingua franca for row-oriented
    * interchange. Schema is pinned on read (inference is a full extra
    * pass at 100 TB and infers timestamps as strings).
    */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = fmtDir("json", sfDir)
    val orders = Tables.orders(spark, sfDir)
    orders.write.mode("overwrite").json(dir)
    ordersSummary(spark.read.schema(orders.schema).json(dir))
  }

  /** File provenance via the `_metadata` hidden column — every parquet
    * row can answer "which file did you come from" without any column
    * stored for it: the scan synthesizes file name/size/mtime per split.
    * This is the ingest-audit primitive (which landed file produced the
    * bad rows; which files feed each partition) and it composes with
    * pruning — `_metadata.file_name` predicates prune at the file list,
    * before any row is read.
    */
  def fileProvenance(spark: SparkSession, sfDir: String): DataFrame =
    Tables.parquet(spark, s"$sfDir/orders.parquet")
      // the table-level source (first *.parquet path component): stable
      // whether the table is one file or a directory of parts —
      // per-PART accounting would just group by _metadata.file_name
      .select(regexp_extract(col("_metadata.file_path"),
          "([^/]+\\.parquet)", 1).as("src_file"),
        col("o_orderkey"))
      .groupBy(col("src_file"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"))

  /** XML round-trip — Spark 4's built-in XML source (the donated
    * spark-xml): the interchange format legacy feeds still speak. Writes
    * one `<order>` row element per record, reads back with the schema
    * pinned (same no-inference-pass discipline as JSON; XML inference
    * additionally coerces types from text). Timestamps round-trip as
    * ISO-8601 text.
    */
  def xmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = fmtDir("xml", sfDir)
    val orders = Tables.orders(spark, sfDir)
    orders.write.mode("overwrite").option("rowTag", "order").xml(dir)
    ordersSummary(
      spark.read.schema(orders.schema).option("rowTag", "order").xml(dir))
  }

  /** SCD2 compaction of each customer's order-priority timeline: keep
    * only change rows, each valid [effective_from, effective_to). Two
    * window passes over ONE (custkey)-clustered shuffle — lag to detect
    * changes, lead after compaction to close intervals; open rows keep
    * null effective_to. The standard dimension-history build, expressed
    * so Catalyst reuses the partitioning across both windows.
    */
  def scd2PriorityHistory(spark: SparkSession, sfDir: String): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("prev_p", lag(col("o_orderpriority"), 1).over(byCust))
      .filter(col("prev_p").isNull || col("prev_p") =!= col("o_orderpriority"))
      // dates emitted as strings: a nullable DATE column canonicalizes
      // differently across engines (None vs NaT) in the driver compare;
      // a nullable STRING does not
      .withColumn("effective_to",
        date_format(lead(col("o_orderdate"), 1).over(byCust), "yyyy-MM-dd"))
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("effective_from"),
        col("effective_to"))
  }

  /** Merge/upsert (SCD1, "MERGE INTO" semantics without a lakehouse
    * format): base = per-user state from events before the cutover day,
    * updates = events on/after it. Full outer join on the key, coalesce
    * updates over base — matched keys update, unmatched-update keys
    * insert, unmatched-base keys carry over. One shuffle per side on
    * user_id; at 100 TB the updates side is typically small enough to
    * broadcast, which Catalyst/AQE picks from stats automatically.
    */
  /** CDC apply — the change-data-capture consumer every warehouse runs:
    * an ordered op log (INSERT / UPDATE / DELETE with a version stamp)
    * collapses onto base state by taking each key's LATEST op (one
    * window over one (key)-clustered shuffle — versions never sort
    * globally) and dropping tombstones. The log here is synthesized
    * deterministically from `orders` (v1 inserts everything; v2 deletes
    * keys ≡0 and doubles the price of keys ≡1 mod 10) so the oracle can
    * state the end condition closed-form. Sums report in ×100 cents
    * BIGINT — the 2⁵³-safe fixed-point output contract.
    */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), dec("o_totalprice").as("p"))
    val log = base
      .select(col("o_orderkey"), col("o_orderstatus"), col("p"),
        lit(1).as("v"), lit("I").as("op"))
      .union(base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("p"),
          lit(2).as("v"), lit("D").as("op")))
      .union(base.filter(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("p") * 2).cast("decimal(12,2)").as("p"),
          lit(2).as("v"), lit("U").as("op")))
    val byKey = Window.partitionBy(col("o_orderkey"))
      .orderBy(col("v").desc)
    log.withColumn("rn", row_number().over(byKey))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        (sum(col("p")) * 100).cast("long").as("sum_total_c"))
  }

  /** ZERO-COPY shallow clone: the clone directory holds a `_MANIFEST`
    * of the source's data-file paths — no bytes are rewritten — and
    * reading the clone is a parquet scan over the manifest's paths.
    * This is the lakehouse `CLONE` primitive (dev/test copies of
    * petabyte tables in O(|files|) metadata): the clone stays frozen at
    * the manifest's file set even as the source compacts or appends,
    * which is also exactly how the generational time-travel reads stay
    * stable. The oracle checks the clone reads back the full source.
    */
  def cloneTable(spark: SparkSession, sfDir: String): DataFrame = {
    val src = fmtDir("clonesrc", sfDir)
    if (!new File(s"$src/_SUCCESS").exists())
      Tables.orders(spark, sfDir).write.mode("overwrite").parquet(src)
    val cloneDir = java.nio.file.Paths.get(fmtDir("clonedst", sfDir))
    val manifest = cloneDir.resolve("_MANIFEST")
    if (!java.nio.file.Files.exists(manifest)) {
      java.nio.file.Files.createDirectories(cloneDir)
      val files = new File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .sorted
      java.nio.file.Files.writeString(manifest, files.mkString("\n"))
    }
    val paths = java.nio.file.Files.readString(manifest).split("\n")
    ordersSummary(Tables.parquet(spark, paths.toIndexedSeq: _*))
  }

  /** TIME TRAVEL over the generational layout: every maintenance pass
    * in this engine (CDC merge, schema evolution, compaction) lands a
    * NEW generation directory gated on `_SUCCESS` and leaves prior
    * generations untouched — so "the table AS OF version v" is a plain
    * read of `gen_v`, no transaction log replay needed. This query
    * reads two generations of the orders table (v1 = initial load,
    * v2 = after the CDC day: deletes ≡0, price-doubles ≡1 mod 10) in
    * ONE result, the before/after audit a bad-deploy investigation
    * runs. Retention pruning = deleting old gen dirs; the storage cost
    * is per-generation CHANGED partitions once writes go through
    * dynamic partition overwrite (q_backfill_partition).
    */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = fmtDir("timetravel", sfDir)
    val gen1 = s"$dir/gen_1"
    val gen2 = s"$dir/gen_2"
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice").as("p"))
    if (!new File(s"$gen2/_SUCCESS").exists()) {
      base.write.mode("overwrite").parquet(gen1)
      base.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 10 === 1, (col("p") * 2)
            .cast("decimal(12,2)")).otherwise(col("p")).as("p"))
        .write.mode("overwrite").parquet(gen2)
    }
    def snap(v: Int, d: String): DataFrame =
      Tables.parquet(spark, d)
        .groupBy(lit(v).as("version"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_live"),
          (sum(col("p")) * 100).cast("long").as("sum_total_c"))
    snap(1, gen1).unionAll(snap(2, gen2))
  }

  /** Retention VACUUM over the generational layout — the maintenance
    * pass [[timeTravel]] points at ("retention pruning = deleting old
    * gen dirs") made a first-class, audited operator: the table root
    * holds the current `_SUCCESS`-gated generation, a prior retained
    * generation, and an UNCOMMITTED directory a crashed writer left
    * behind (no `_SUCCESS` — the debris every long-lived table
    * accumulates). Vacuum deletes everything except the current
    * generation and proves three things in one result: what it
    * reclaimed (per-class exact row counts, read before deletion), that
    * the crashed write was never part of the table (uncommitted rows
    * are accounted but were always unreadable through the gate), and
    * that the current generation reads back intact AFTER the deletes
    * (n_rows_after = n_rows for the kept class, null for reclaimed).
    *
    * All filesystem work goes through the Hadoop `FileSystem` API (the
    * cluster-FS decoupling rule for production I/O paths — this must
    * run against HDFS/S3A, not just a local tmpdir). Scale shape: list
    * + delete are per-generation O(files) namespace calls; the row
    * accounting is three bounded parquet scans of the staged table,
    * and on a real deployment the delete is metadata-only.
    */
  def vacuumTable(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = fmtDir("vacuum", sfDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf)
    val gen1 = new org.apache.hadoop.fs.Path(s"$root/gen_1")
    val gen2 = new org.apache.hadoop.fs.Path(s"$root/gen_2")
    val tmp  = new org.apache.hadoop.fs.Path(s"$root/gen_3_inflight")
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    // (re)stage whenever a prior vacuum (or nothing) ran: the audit is
    // idempotent per run, so a second execution restages and re-vacuums.
    // The PartitionedTables staging discipline: ALL generations build
    // under `$root.build`, finalized by ONE atomic fs.rename. The old
    // root is renamed ASIDE (root -> root.old) rather than deleted in
    // place, so the root path is never absent for longer than the gap
    // between two renames — an external reader (e.g. the oracle
    // process) sees either the old layout or the new one, not a
    // missing path. A concurrent finalize losing the rename race keeps
    // the winner's root; `synchronized` serializes same-process
    // stage/delete sequences.
    if (!fs.exists(new org.apache.hadoop.fs.Path(gen1, "_SUCCESS")) ||
        !fs.exists(new org.apache.hadoop.fs.Path(gen2, "_SUCCESS"))) {
      val build = new org.apache.hadoop.fs.Path(root + ".build")
      fs.delete(build, true) // a crashed earlier attempt's partial build
      base.write.mode("overwrite").parquet(s"$build/gen_1")
      base.filter(col("o_orderkey") % 10 =!= 0)
        .write.mode("overwrite").parquet(s"$build/gen_2")
      // simulate the crashed writer: data files present, no _SUCCESS
      base.filter(col("o_orderkey") % 5 === 0)
        .write.mode("overwrite").parquet(s"$build/gen_3_inflight")
      fs.delete(
        new org.apache.hadoop.fs.Path(s"$build/gen_3_inflight/_SUCCESS"),
        false)
      val old = new org.apache.hadoop.fs.Path(root + ".old")
      fs.delete(old, true) // a crashed earlier attempt's aside
      val hadPrior = fs.exists(rootPath) && {
        val moved = fs.rename(rootPath, old)
        // a failed aside-rename that LEAVES the root in place must stop
        // here: falling through would fail the build->root rename, take
        // the lost-race cleanup path, and silently serve the stale
        // vacuumed root the caller asked to restage
        if (!moved && fs.exists(rootPath)) throw new java.io.IOException(
          s"failed to move prior layout aside: $rootPath -> $old")
        moved
      }
      if (!fs.rename(build, rootPath)) {
        if (!fs.exists(rootPath)) throw new java.io.IOException(
          s"failed to finalize staged vacuum layout $build -> $rootPath")
        fs.delete(build, true)
      }
      if (hadPrior) fs.delete(old, true) // the vacuumed remnant
    }
    // row accounting BEFORE deletion (exact, engine-checkable)
    def n(p: org.apache.hadoop.fs.Path): Long =
      Tables.parquet(spark, p.toString).count()
    val (n1, n2, nt) = (n(gen1), n(gen2), n(tmp))
    // vacuum: keep only the current (= highest _SUCCESS-gated) gen
    fs.delete(gen1, true)
    fs.delete(tmp, true)
    val nAfter = n(gen2)
    import spark.implicits._
    Seq(
      ("current", n2, "kept", Some(nAfter)),
      ("prior", n1, "reclaimed", None: Option[Long]),
      ("uncommitted", nt, "reclaimed", None: Option[Long]))
      .toDF("dir_class", "n_rows", "disposition", "n_rows_after")
      .select(col("dir_class"), col("n_rows"), col("disposition"),
        col("n_rows_after").cast("long").as("n_rows_after"))
  }

  /** Incremental join-view maintenance — the delta algebra a maintained
    * materialized join lives on: with base relations A, B already joined
    * into the view, an ingest of ΔA and ΔB updates it with
    * ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — three joins each bounded by a DELTA side,
    * so maintenance cost tracks ingest size, never |A⋈B|. All four
    * terms aggregate to decimal partials which merge exactly (the
    * q_agg_merge_partial algebra), and the oracle is the from-scratch
    * join over (A∪ΔA)⋈(B∪ΔB) — proving the delta decomposition loses
    * nothing. Splits are deterministic key-parity slices of orders /
    * lineitem standing in for yesterday's table vs today's batch.
    */
  def incrementalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        (dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev"))
    val a  = ord.filter(col("o_orderkey") % 4 =!= 3)
    val da = ord.filter(col("o_orderkey") % 4 === 3)
    val b  = li.filter(col("l_orderkey") % 2 === 0)
    val db = li.filter(col("l_orderkey") % 2 =!= 0)
    def part(o: DataFrame, l: DataFrame): DataFrame =
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("rev")).as("p_rev"), count(lit(1)).as("p_items"))
    part(a, b)                   // the standing view
      .union(part(da, b))        // ΔA ⋈ B
      .union(part(a, db))        // A ⋈ ΔB
      .union(part(da, db))       // ΔA ⋈ ΔB
      .groupBy(col("o_orderpriority"))
      .agg((sum(col("p_rev")) * 10000).cast("long").as("rev_e4"),
        sum(col("p_items")).as("n_items"))
  }

  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val cutover = "2024-01-16" // events span 2024-01; mid-month split
    val ev = Tables.events(spark, sfDir)
    def lastState(df: DataFrame, prefix: String): DataFrame = {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(byUser))
        .filter(col("rn") === 1)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_type").as(s"${prefix}_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as(s"${prefix}_ts"))
    }
    val base = lastState(ev.filter(col("ts") < lit(cutover).cast("timestamp")), "b")
    val upd = lastState(ev.filter(col("ts") >= lit(cutover).cast("timestamp")), "u")
    base.join(upd, col("b_user") === col("u_user"), "full_outer")
      .select(
        coalesce(col("b_user"), col("u_user")).as("user_id"),
        coalesce(col("u_type"), col("b_type")).as("last_type"),
        coalesce(col("u_ts"), col("b_ts")).as("last_ts"),
        when(col("b_user").isNull, lit("insert"))
          .when(col("u_user").isNull, lit("carry"))
          .otherwise(lit("update")).as("merge_action"))
  }

  /** Sessionization through Spark's NATIVE session_window (dynamic-gap
    * session windows merged by the aggregation itself — no explicit
    * lag/cumsum pass): same 30-minute gap and output as the
    * gaps-and-islands construction in [[Analytics.eventsSessionized]],
    * minus the per-user ordinal. One shuffle on user_id.
    */
  def sessionWindowNative(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), Analytics.SessionGap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec("value")).cast("double").as("session_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))

  /** Dynamic-gap sessionization — `session_window` with a per-EVENT gap
    * expression (views keep a session alive 30 min, everything else
    * 15 min): each event contributes the interval [ts, ts+gap) and
    * overlapping intervals per user merge into one session. This is the
    * engagement-weighted sessionization no static gap can express; the
    * oracle reproduces the interval-merge with a running max of
    * prior interval ends (a plain lag is wrong — an earlier long-gap
    * event can outlast its successor). Same single-shuffle shape as the
    * static form.
    */
  def sessionWindowDynamic(spark: SparkSession, sfDir: String): DataFrame = {
    val gap = when(col("event_type") === "view", lit(Analytics.SessionGap))
      .otherwise(lit("15 minutes"))
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec("value")).cast("double").as("session_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))
  }

  /** Total bytes under a table directory, via the Hadoop FS API (works
    * the same on local disk, HDFS, or object storage).
    */
  private[graft] def tableBytes(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(path).getLength
  }

  /** Small-file compaction — the maintenance pass that keeps a streaming
    * or micro-batch landing table scannable at warehouse scale: each
    * trigger/task leaves one small file, and a 100 TB table fragmented
    * into millions of them pays per-file open/seek/footer cost on every
    * scan plus a giant driver-side listing. Rewrite into
    * ceil(bytes / targetBytes) files via a round-robin `repartition` —
    * output size tracks the target regardless of input fragmentation,
    * and content is untouched (the oracle checks the lossless summary).
    * At scale this runs per partition (`dt=...`) so compaction of a hot
    * day never rewrites the table.
    */
  def compact(spark: SparkSession, srcDir: String, outDir: String,
      targetBytes: Long): DataFrame = {
    val n = math.max(1L,
      (tableBytes(spark, srcDir) + targetBytes - 1) / targetBytes).toInt
    Tables.parquet(spark, srcDir).repartition(n)
      .write.mode("overwrite").parquet(outDir)
    Tables.parquet(spark, outDir)
  }

  /** Compaction round-trip on a deliberately fragmented copy of `orders`
    * (64 shards — the "one file per micro-batch" shape): compact to
    * ~4 MB files, summarize the readback; lossless vs the original table
    * by oracle.
    */
  /** Schema-evolution read — the storage-layer half of the reference's
    * arity-validation drift guard: a landing table whose early files
    * predate a column (here: `o_orderpriority` dropped from the v=1
    * half) read together with the evolved files under
    * `mergeSchema=true`. Old rows surface the new column as NULL, the
    * summary accounts both generations per status, and nothing is
    * rewritten — at 100 TB you evolve the schema forward, never
    * backfill-rewrite history.
    */
  def schemaEvolutionRead(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = fmtDir("evolve", sfDir)
    // gate on BOTH generation markers: a crash between the v=1 and v=2
    // writes must not leave a half-built fixture that later runs read as
    // complete (the v=1-only check would)
    if (!new File(s"$dir/v=1", "_SUCCESS").exists()
        || !new File(s"$dir/v=2", "_SUCCESS").exists()) {
      val o = Tables.orders(spark, sfDir)
      o.filter(col("o_orderkey") % 2 === 0).drop("o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/v=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .write.mode("overwrite").parquet(s"$dir/v=2")
    }
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(col("v"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
          .as("n_pre_evolution"),
        sum(dec("o_totalprice")).cast("double").as("sum_total"))
      .withColumn("v", col("v").cast("int"))
  }

  /** 16→32-bit Morton spread via the classic magic-mask doubling —
    * five codegen'd bitwise ops per input, no higher-order functions
    * (an `aggregate(sequence(0,15),…)` HOF form evaluates interpreted,
    * 16 lambda frames per row).
    */
  private def spread16(c: Column): Column = {
    val v0 = c.bitwiseAND(lit(0xFFFFL))
    val v1 = v0.bitwiseOR(shiftleft(v0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val v2 = v1.bitwiseOR(shiftleft(v1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val v3 = v2.bitwiseOR(shiftleft(v2, 2)).bitwiseAND(lit(0x33333333L))
    v3.bitwiseOR(shiftleft(v3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) key interleaving the low 16 bits of two columns:
    * bit i of x lands at position 2i, bit i of y at 2i+1. Rows close in
    * BOTH dimensions get close z-values, so sorting/range-partitioning
    * by `zorder16` clusters them into the same files and min/max
    * statistics prune scans on either column — the multi-dimensional
    * data-layout key OPTIMIZE ZORDER BY provides in lakehouse engines.
    */
  def zorder16(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Z-order layout profile of `orders` on (o_orderkey, o_custkey):
    * per 64-cell z-bucket (top 6 bits) row counts, z-ranges, and a key
    * checksum. The oracle recomputes the interleave bit-for-bit (as a
    * sum over bit positions — algebraically identical to the
    * magic-mask form), so the z-math itself is value-checked; the
    * file-level clustering property (disjoint per-file z-ranges after
    * `repartitionByRange.sortWithinPartitions`) is asserted in
    * LayoutSpec against a real write.
    */
  def zorderProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .withColumn("zvalue", zorder16(col("o_orderkey"), col("o_custkey")))
      .withColumn("z_bucket", shiftright(col("zvalue"), 26).cast("int"))
      .groupBy(col("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("zvalue")).as("min_z"),
        max(col("zvalue")).as("max_z"),
        sum(col("o_orderkey")).as("sum_keys"))

  /** Codec breadth for the parquet sink: the same table written under
    * zstd and snappy, both read back and summarized side by side — the
    * storage-efficiency knob that matters most at 100 TB (zstd commonly
    * halves footprint vs snappy at similar scan speed; FormatsSpec
    * checks both physical layouts decode losslessly and reports the
    * measured size ratio).
    */
  def codecRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val codecs = Seq("zstd", "snappy")
    codecs.map { c =>
      val dir = fmtDir(s"codec_$c", sfDir)
      if (!new File(dir, "_SUCCESS").exists())
        Tables.orders(spark, sfDir).write.mode("overwrite")
          .option("compression", c).parquet(dir)
      ordersSummary(Tables.parquet(spark, dir)).withColumn("codec", lit(c))
    }.reduce(_ unionByName _)
  }

  def compactRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val frag = fmtDir("frag", sfDir)
    if (!new File(frag, "_SUCCESS").exists())
      Tables.orders(spark, sfDir).repartition(64)
        .write.mode("overwrite").parquet(frag)
    ordersSummary(compact(spark, frag, fmtDir("compacted", sfDir), 4L << 20))
  }

  /** Partition backfill via DYNAMIC partition overwrite — the idempotent
    * day-repair every warehouse needs: one day landed wrong (here: its
    * purchases dropped), and the fix must rewrite ONLY that day's
    * partition. `partitionOverwriteMode=dynamic` scopes
    * `mode("overwrite")` to the partitions present in the written
    * DataFrame — a static overwrite would atomically DELETE every other
    * day; at 100 TB that's the difference between rewriting one
    * partition and rewriting the table. The readback rollup proves both
    * directions: the bad day is healed (else its rows mismatch) and all
    * other days survived (else they vanish from the readback).
    */
  private def eventsByDay(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("event_id"),
        col("value").cast("decimal(12,2)").as("value_d"))

  /** The day whose initial load arrives corrupt (purchases dropped). */
  private[graft] def backfillBadDay(spark: SparkSession, sfDir: String): String =
    eventsByDay(spark, sfDir).agg(min(col("day"))).head.getString(0)

  /** Phase 1: full load with the target day corrupt (static overwrite —
    * this IS the initial table build, rewriting everything is correct).
    */
  private[graft] def backfillInitialLoad(spark: SparkSession, sfDir: String,
      dir: String, badDay: String): Unit =
    eventsByDay(spark, sfDir)
      .filter(col("day") =!= badDay || col("event_type") =!= "purchase")
      .write.mode("overwrite").partitionBy("day").parquet(dir)

  /** Phase 2: the repair — rewrite ONLY the bad day's partition (a
    * per-write dynamic overwrite; the session's mode is left alone).
    */
  private[graft] def backfillRepair(spark: SparkSession, sfDir: String,
      dir: String, badDay: String): Unit =
    eventsByDay(spark, sfDir).filter(col("day") === badDay)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(dir)

  def backfillPartition(spark: SparkSession, sfDir: String, dir: String): DataFrame = {
    val badDay = backfillBadDay(spark, sfDir)
    backfillInitialLoad(spark, sfDir, dir, badDay)
    backfillRepair(spark, sfDir, dir, badDay)
    Tables.parquet(spark, dir)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value_d")) * 100).cast("long").as("sum_value_c"))
  }
}
