package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every entrypoint shares one
  * policy and passes only its app name, its cores and shuffle partitions,
  * and any extras of its own:
  *
  *  - `local[cores,3]` plus `spark.task.maxFailures=3`: three attempts
  *    per task, the reference DAG's `retries: 2` plus the first try
  *    (`Final_app.py:18-19`);
  *  - UTC session time zone, no UI;
  *  - a 2000-entry generated-class cache: the suite's distinct plans
  *    thrash Spark's 100-entry default, and each recompile (~100 ms)
  *    lands on whichever query runs next;
  *  - a non-blocking context cleaner: hundreds of executions leave
  *    thousands of broadcast and RDD refs, and blocking cleanup storms
  *    stall whichever multi-job query runs when GC triggers them;
  *  - parquet INT64 TIMESTAMP(NANOS) columns read as Long
  *    (`nanosAsLong`): the events fixture has shipped `ts` both as ns,
  *    which Spark's reader otherwise rejects, and as µs
  *    (`Tables.eventsRawNanos` normalizes either). The entry touches no
  *    other column type.
  */
object GraftSession {

  /** Attempts per task: one try and two retries. */
  private val TaskAttempts = 3

  def localMaster(cores: Int): String = s"local[$cores,$TaskAttempts]"

  /** The session a main requests, as Spark conf entries. Pure, so a spec
    * can read the shape of a main's session without building it.
    */
  def conf(app: String, master: String, shufflePartitions: Int): Map[String, String] =
    Map(
      "spark.app.name" -> app,
      "spark.master" -> master,
      "spark.task.maxFailures" -> TaskAttempts.toString,
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.cleaner.referenceTracking.blocking" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A local session of `cores` threads and as many shuffle partitions. */
  def local(app: String, cores: Int): Map[String, String] =
    conf(app, localMaster(cores), cores)

  /** A session sized from the environment, shared by `Bench` and `Verify`:
    *
    *  - `SPARK_GRAFT_CPUS` (default 32: `local[32]` is the shape the
    *    suite's committed timings were measured at);
    *  - `SPARK_GRAFT_SHUFFLE` (default = cpus): shuffle partitions must
    *    grow with data so a partition fits in memory at big scale; it
    *    also caps the state partitions a stream derives from its input
    *    bytes (`EventsStreaming.runAvailableNow`);
    *  - `SPARK_GRAFT_CKPT_LEVEL` ([[GraftConf.CheckpointLevel]]), e.g.
    *    `MEMORY_AND_DISK_SER` when deserialized checkpoints would not fit.
    */
  def fromEnv(app: String, env: Map[String, String] = sys.env): Map[String, String] = {
    def int(name: String): Option[Int] = env.get(name).map(v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'")))
    val cpus = int("SPARK_GRAFT_CPUS").getOrElse(32)
    conf(app, localMaster(cpus), int("SPARK_GRAFT_SHUFFLE").getOrElse(cpus)) ++
      env.get("SPARK_GRAFT_CKPT_LEVEL").map(GraftConf.CheckpointLevel.key -> _)
  }

  /** Runs `body` with `confs` set on `spark`'s session, then puts back
    * each key's explicitly set value, or unsets a key that had none:
    * `conf.get` falls back to a key's default, and restoring that would
    * leave the default set explicitly. The one place outside session
    * construction that writes a session conf.
    */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(body: => A): A = {
    val set = spark.conf.getAll
    val old = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def start(conf: Map[String, String], logLevel: String = "WARN",
      hive: Boolean = false): SparkSession = {
    val b = SparkSession.builder().config(conf)
    val spark = (if (hive) b.enableHiveSupport() else b).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
