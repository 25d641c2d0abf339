package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `run.py` launches one of these per run:
  *
  *   gen        write the seeded input tables into `--data`
  *   run        set up once, then run the closed loop for `--seconds`,
  *              then check results; one JSON record for the set-up, per
  *              op and for the window go to `--out`
  *   calibrate  time and fingerprint every query key (or `--keys`)
  *   dump       write each key's result as parquet for the DuckDB check
  *   selftest   the helper checks in [[SelfTest]]
  *
  * One client thread drives all Spark work (a closed loop: the next op is
  * sent when the previous one returns), in one session at
  * `local[<cores>,3]` — `<cores>` threads and the engine's three task
  * attempts.
  */
object Harness {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val o = Opts(argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val code = try mode match {
      case "gen" =>
        val spark = session(Paths.get(o("tmp")), o("cores").toInt)
        DataGen.tables(spark, Paths.get(o("data")), o("sf").toDouble, o("seed").toLong)
        0
      case "run" => run(o)
      case "calibrate" => calibrate(o)
      case "dump" => dump(o)
      case "selftest" => SelfTest.run(Paths.get(o("tmp")))
      case other => sys.error(s"unknown mode $other")
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  /** A fresh session whose temp files (and the engine's on-disk caches,
    * which live under `java.io.tmpdir`) go to `dir`.
    */
  def session(dir: Path, cores: Int): SparkSession = {
    Files.createDirectories(dir)
    System.setProperty("java.io.tmpdir", dir.toString)
    val s = SparkSession.builder().appName("perfbench")
      .master(s"local[$cores,3]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.cleaner.referenceTracking.blocking", "false")
      .config("graft.streaming.stateProvider", "rocksdb")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------------ run

  final class Out(path: Path) {
    private val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    def apply(fields: (String, Any)*): Unit = {
      w.write(Json.write(fields.toMap)); w.newLine(); w.flush()
    }
    def close(): Unit = w.close()
  }

  private def now = System.nanoTime()
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of the JVM's JIT compiler threads so far, from
    * `/proc/self/task/<tid>/stat` (user + system ticks, 100 per second);
    * 0 where there is no such file. `build.java_cmd` keeps the compiler
    * threads alive for the whole run, so none of their time is lost with
    * a thread that exits.
    */
  def jitCpu(): Double = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) return 0.0
    val ls = Files.list(tasks)
    val per = try ls.iterator.asScala.toList finally ls.close()
    per.flatMap { t =>
      try {
        val st = Files.readString(t.resolve("stat"))
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler"))
          Some((f(11).toLong + f(12).toLong) / 100.0)
        else None
      } catch { case _: java.io.IOException => None }
    }.sum
  }

  /** (program, JIT) CPU seconds of the JVM so far. The program's share
    * is every thread but the JIT compiler's: Spark's driver, task, stream
    * and listener threads, and the garbage collector. The kernel leaves
    * out the time the hypervisor takes from the host (steal) and the time
    * a thread waits for a core, so a busy host moves both far less than
    * it moves wall time.
    */
  def cpu(): (Double, Double) = {
    val jit = jitCpu()
    (os.getProcessCpuTime / 1e9 - jit, jit)
  }

  /** The live heap after full GCs, in MB. The heap in use after a young
    * collection is no measure of live data: below G1's occupancy
    * threshold no concurrent cycle runs, so it also counts every dead
    * object promoted since the JVM started. A full GC hands weakly held
    * objects to their cleaners (Spark's `ContextCleaner` among them),
    * which free more, so collect until the heap stops shrinking.
    */
  private def liveHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while (prev - cur > 1.0 && n < 4) { Thread.sleep(100); prev = cur; cur = used(); n += 1 }
    cur
  }

  def run(o: Opts): Int = {
    val tmp = Paths.get(o("tmp"))
    val cores = o("cores").toInt
    val traced = o.get("trace", "0") == "1"
    val out = new Out(Paths.get(o("out")))
    val wl: Workload = o("workload") match {
      case "daily_ticks" => new Daily(o("seed").toLong)
      case _ =>
        val (ops, fps) = Expected.load(Paths.get(o("expected")))
        val keys = o.get("keys", "").split(",").filter(_.nonEmpty).toSeq
        new Queries(o("data"), if (keys.isEmpty) ops else keys, fps)
    }
    val compile = ManagementFactory.getCompilationMXBean
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up: JVM start, session and one warm pass over the op set
    val spark = session(tmp, cores)
    val (batches, sqlExecs, layers) = Layers.attach(spark, traced)
    wl.setup(spark)
    // the JVM's CPU time since it started, every thread and the JIT too
    out("kind" -> "setup", "s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
      "cpu_s" -> os.getProcessCpuTime / 1e9)
    val compileSetup = compile.getTotalCompilationTime / 1e3
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcTime = gcs.map(_.getCollectionTime).sum / 1e3
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    batches.take(); sqlExecs.take(); layers.foreach(_.take(Nil))

    // ---- the timed window: a closed loop over whole seeded passes of
    // the op set, so every run times each op equally often, until
    // `--seconds` have passed and at least `minOps` ops have run. With
    // `run_seconds` 8 on a 4-core host the minimum is what binds, so every
    // run takes the same number of samples: a pass that ends just before
    // or after the deadline would otherwise change both the sample count
    // and how warm the samples are.
    val order = wl.passes(o("seed").toLong)
    val gc0 = gcTime
    val w0 = now
    val deadline = w0 + (o("seconds").toDouble * 1e9).toLong
    var attempted = 0
    while (now < deadline || attempted < wl.minOps) order.next().foreach { key =>
      sc.setJobGroup(key, key, interruptOnCancel = false)
      val c0 = cpu()
      val t0 = now
      val r = try Right(wl.op(spark, key, traced)) catch { case e: Throwable => Left(e) }
      val wall = secs(t0)
      val c1 = cpu()
      sc.clearJobGroup()
      val check = r.fold(e => Some(threw(e)), _ => wl.checkOp(key))
      val rec = mutable.LinkedHashMap[String, Any]("kind" -> "op", "key" -> key, "s" -> wall,
        "cpu_s" -> (c1._1 - c0._1), "jit_cpu_s" -> (c1._2 - c0._2), "ok" -> check.isEmpty)
      check.foreach(e => rec("err") = e)
      r.toOption.flatten.foreach { case (b, p, x) =>
        rec("build_s") = b; rec("plan_s") = p; rec("exec_s") = x
      }
      layers.foreach { l =>
        org.apache.spark.PerfbenchBus.drain(sc)
        rec("layers") = l.take(batches.take()) ++ wl.opLayers()
      }
      out(rec.toSeq: _*)
      attempted += 1
    }
    val windowS = secs(w0)
    val gcS = gcTime - gc0
    org.apache.spark.PerfbenchBus.drain(sc)
    val batchMs = if (traced) Nil else batches.take().map(
      _.durationMs.get("triggerExecution").doubleValue)
    val sqlMs = sqlExecs.take()
    val live = liveHeapMb()

    // ---- correctness, outside the timed window
    val verify = wl.verify(spark)
    verify.foreach { case (k, e) => out("kind" -> "verify", "key" -> k, "err" -> e) }
    out("kind" -> "window", "s" -> windowS, "cores" -> cores, "traced" -> traced,
      "batch_ms" -> batchMs, "sql_ms" -> sqlMs, "heap_live_mb" -> live,
      "jvm.gc_s" -> gcS, "jvm.compile_s" -> compileSetup,
      "ops" -> attempted, "workload_layers" -> wl.workloadLayers())
    out.close()
    wl.close()
    0
  }

  // ------------------------------------------------------------ workloads

  def threw(e: Throwable): String = s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  trait Workload {
    def setup(spark: SparkSession): Unit
    /** The fewest ops the window runs. */
    def minOps: Int
    /** Seeded passes over the op set; the window runs whole passes. */
    def passes(seed: Long): Iterator[Seq[String]]
    /** Run one op; when traced, the (build, plan, exec) split in seconds. */
    def op(spark: SparkSession, key: String, traced: Boolean): Option[(Double, Double, Double)]
    def checkOp(key: String): Option[String] = None
    def opLayers(): Map[String, Double] = Map.empty
    /** Post-window checks: failing key → reason. */
    def verify(spark: SparkSession): Map[String, String]
    def workloadLayers(): Map[String, Double] = Map.empty
    def close(): Unit = ()
  }

  /** A fresh seeded permutation of the op set per pass. */
  def shuffled(keys: Seq[String], seed: Long): Iterator[Seq[String]] = {
    val r = new scala.util.Random(seed)
    Iterator.continually(r.shuffle(keys))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `query_mix`: `SparkEntry.queries` keys at the
    * generated tables, each through the noop sink. The set-up
    * fingerprints each key's result and checks it against the expected
    * value, outside the window, then runs each key once more as the
    * window does, so that the window starts with the JIT warm.
    */
  final class Queries(data: String, keys: Seq[String], expected: Map[String, String])
      extends Workload {
    private val q = graft.SparkEntry.queries
    private val failed = mutable.LinkedHashMap.empty[String, String]
    def setup(spark: SparkSession): Unit = {
      keys.foreach { k =>
        val got = try Fingerprint.of(q(k)(spark, data)) catch { case e: Throwable => threw(e) }
        if (!expected.get(k).contains(got)) failed(k) = s"fingerprint $got, want ${expected.get(k)}"
      }
      keys.filterNot(failed.contains).foreach(k => noop(q(k)(spark, data)))
    }
    /** Two passes: 12 ops with the six keys of the op set. */
    def minOps: Int = 2 * keys.size
    def passes(seed: Long): Iterator[Seq[String]] = shuffled(keys, seed)
    def op(spark: SparkSession, key: String, traced: Boolean): Option[(Double, Double, Double)] =
      if (!traced) { noop(q(key)(spark, data)); None }
      else {
        val t0 = now
        val df = q(key)(spark, data)
        val b = secs(t0); val t1 = now
        df.queryExecution.executedPlan
        val p = secs(t1); val t2 = now
        noop(df)
        Some((b, p, secs(t2)))
      }
    def verify(spark: SparkSession): Map[String, String] = failed.toMap
  }

  /** `daily_ticks`: `DailyApp.runTick`, one new calendar date per op,
    * fetching from and notifying the loopback [[DailyServer]]. A pass is
    * one day, so the window stops at the first tick boundary at which
    * both `--seconds` and `minOps` are reached; every run ticks the same
    * dates from the same Monday on. The set-up warms five days of its
    * own, from an earlier year.
    */
  final class Daily(seed: Long) extends Workload {
    private var fetched = 0
    private val days = DataGen.TwsePayloads.days(seed, 400)
    // the same five warm days in every run, Thursday to Monday
    private val warmDays = DataGen.TwsePayloads.days(0L, 5, java.time.LocalDate.of(2022, 1, 6))
    private val byDate = (days ++ warmDays).map(d => d.date -> d).toMap
    private val server = new DailyServer(byDate)
    private val ticked = mutable.ArrayBuffer.empty[DataGen.Day]
    private var cfg: graft.DailyApp.Config = _
    private val retries = new java.util.concurrent.atomic.AtomicInteger
    private var last: graft.DailyApp.TickSummary = _
    private var lastPosts = Seq.empty[String]
    private var lastFetches = 0
    private var notifyFailed = 0
    private var spark: SparkSession = _

    def setup(spark: SparkSession): Unit = {
      this.spark = spark
      // a fresh pipeline base under the run's empty tmp
      cfg = graft.DailyApp.Config(
        base = Paths.get(sys.props("java.io.tmpdir"), "daily"),
        fetchUrl = Some(server.fetchUrl), notifyUrl = Some(server.notifyUrl),
        retryDelayMs = 0L, sleep = _ => retries.incrementAndGet(): Unit)
      // the table created and appended to, and a closed weekend
      warmDays.foreach(d => tick(d.date))
    }
    def minOps: Int = 10
    def passes(seed: Long): Iterator[Seq[String]] = days.iterator.map(d => Seq(d.date))
    private def tick(date: String): Unit = {
      val d = byDate(date)
      val (posts0, fetches0) = (server.posted.size, server.fetches.get)
      ticked += d
      fetched += 1
      last = graft.DailyApp.runTick(spark, cfg.copy(dates = Seq(date)))
      lastPosts = server.posted.drop(posts0)
      lastFetches = server.fetches.get - fetches0
    }
    def op(spark: SparkSession, key: String, traced: Boolean): Option[(Double, Double, Double)] = {
      tick(key); None
    }
    override def checkOp(key: String): Option[String] = {
      val d = byDate(key)
      val want = d.shape match {
        case "open" => (Seq(key), Nil, Nil, Seq(key + graft.model.TwseFixtures.successMsgSuffix))
        case "drift" => (Nil, Seq(key), Nil, Seq(graft.model.TwseFixtures.alertMsg))
        case _ => (Nil, Nil, Seq(key), Nil)
      }
      val got = (last.inserted, last.alerted, last.skipped, lastPosts)
      if (got == want) None else {
        if (lastPosts.size < want._4.size) notifyFailed += 1
        Some(s"${d.shape} day $key routed to $got, want $want")
      }
    }
    private def tableRows(): Seq[Seq[String]] =
      if (!Files.exists(cfg.table)) Nil
      else spark.read.parquet(cfg.table.toString)
        .select(graft.model.Schemas.investmentCols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(r => (0 until r.length).map(r.getString)).toSeq
    override def opLayers(): Map[String, Double] = Map(
      "notify.posts" -> lastPosts.size.toDouble, "daily.fetch_requests" -> lastFetches.toDouble)
    def verify(spark: SparkSession): Map[String, String] = {
      val errs = mutable.LinkedHashMap.empty[String, String]
      val want = ticked.flatMap(_.expectedRow).sortBy(_.head)
      val got = tableRows().sortBy(_.head)
      if (got != want) {
        val bad = (got.diff(want) ++ want.diff(got)).map(_.head).distinct
        bad.foreach(d => errs(d) = "investment_data row differs from the generated day")
      }
      // a re-run of an already landed day must change nothing
      val before = (got.size, server.posted.size)
      val again = graft.DailyApp.runTick(spark, cfg.copy(dates = Seq(ticked.last.date)))
      val after = (tableRows().size, server.posted.size)
      if (again.routes.nonEmpty || after != before)
        errs(ticked.last.date) = s"re-run not idempotent: $before -> $after, ${again.routes}"
      if (server.badRoutes.get != 0) errs("routes") = s"${server.badRoutes.get} requests hit no route"
      if (server.fetches.get != fetched) errs("fetches") = s"${server.fetches.get} fetches for $fetched ticks"
      errs.toMap
    }
    override def workloadLayers(): Map[String, Double] = {
      def du(p: Path): Double = if (!Files.exists(p)) 0.0 else {
        val s = Files.walk(p)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
        finally s.close()
      }
      def files(p: Path): Double = if (!Files.exists(p)) 0.0 else graft.FsUtil.listDir(p)
        .count(_.getFileName.toString.endsWith(".parquet")).toDouble
      Map("daily.table_rows" -> tableRows().size.toDouble, "daily.table_files" -> files(cfg.table),
        "daily.table_bytes" -> du(cfg.table), "daily.checkpoint_bytes" -> du(cfg.checkpoint),
        "notify.failed" -> notifyFailed.toDouble, "retry.attempts" -> retries.get.toDouble,
        "daily.ticks" -> ticked.size.toDouble)
    }
    override def close(): Unit = server.stop()
  }

  // ------------------------------------------------------ one-off modes

  /** Time and fingerprint each key: one cold run, two warm runs, and two
    * fingerprints (a key whose fingerprints differ is not deterministic).
    */
  def calibrate(o: Opts): Int = {
    val spark = session(Paths.get(o("tmp")), o("cores").toInt)
    val data = o("data")
    val out = new Out(Paths.get(o("out")))
    val keys = o.get("keys", "").split(",").filter(_.nonEmpty).toSeq match {
      case Seq() => graft.SparkEntry.queries.keys.toSeq.sorted
      case ks => ks
    }
    keys.foreach { k =>
      val fn = graft.SparkEntry.queries(k)
      try {
        val times = (0 until 3).map { _ => val t0 = now; noop(fn(spark, data)); secs(t0) }
        val fps = (0 until 2).map(_ => Fingerprint.of(fn(spark, data)))
        out("key" -> k, "cold_s" -> times(0), "warm_s" -> times.tail, "fp" -> fps)
      } catch {
        case e: Throwable => out("key" -> k, "err" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    }
    out.close()
    0
  }

  /** Write each key's result as parquet under `--out/<key>`, with its
    * fingerprint and its DuckDB oracle SQL alongside, for the one-off
    * oracle cross-check.
    */
  def dump(o: Opts): Int = {
    val spark = session(Paths.get(o("tmp")), o("cores").toInt)
    val dir = Paths.get(o("out"))
    val keys = o("keys").split(",").toSeq
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json.write(graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }))
    val fps = new Out(dir.resolve("fingerprints.jsonl"))
    keys.foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, o("data"))
      df.write.mode("overwrite").parquet(dir.resolve(k).toString)
      fps("key" -> k, "fp" -> Fingerprint.of(df))
    }
    fps.close()
    0
  }
}

/** A workload's op set and the expected fingerprint of every key. */
object Expected {
  def load(p: Path): (Seq[String], Map[String, String]) = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    val fps = j.get("fingerprints")
    (j.get("ops").elements.asScala.map(_.asText).toSeq,
      fps.fieldNames.asScala.map(k => k -> fps.get(k).asText).toMap)
  }
}

/** JSON rendering of the harness's records. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
