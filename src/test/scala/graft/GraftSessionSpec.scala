package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext

/** G3, the reference DAG's `retries: 2`: every session runs three
  * attempts per task. The retry is exercised with an injected fault, not
  * read off the conf.
  */
class GraftSessionSpec extends SparkTestBase {

  test("a task that fails its first attempt is retried and the job succeeds") {
    // every task's first attempt throws, so the job only finishes if
    // the session retries tasks
    val sum = spark.sparkContext.parallelize(1 to 8, 4)
      .map(GraftSessionSpec.failFirstAttempt).sum()
    assert(sum === 36.0)
  }

  test("DailyApp.main requests local[4,3] with three task attempts") {
    val c = DailyApp.sessionConf(Map.empty)
    assert(c("spark.master") === "local[4,3]")
    assert(c("spark.task.maxFailures") === "3")
    // a deployment's SPARK_MASTER replaces the master, not the retries
    val d = DailyApp.sessionConf(Map("SPARK_MASTER" -> "spark://head:7077"))
    assert(d("spark.master") === "spark://head:7077")
    assert(d("spark.task.maxFailures") === "3")
  }

  test("every session reads parquet nanosecond timestamps as Long") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(GraftSession.local("t", 1)(key) === "true")
    assert(GraftSession.fromEnv("t", Map.empty)(key) === "true")
    assert(spark.conf.get(key) === "true")
  }

  test("fromEnv reads the sizing variables") {
    val dflt = GraftSession.fromEnv("t", Map.empty)
    assert(dflt("spark.master") === "local[32,3]")
    assert(dflt("spark.sql.shuffle.partitions") === "32")
    val env = GraftSession.fromEnv("t", Map("SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_CKPT_LEVEL" -> "MEMORY_AND_DISK_SER"))
    assert(env("spark.master") === "local[8,3]")
    assert(env("spark.sql.shuffle.partitions") === "8")
    assert(env(GraftConf.CheckpointLevel.key) === "MEMORY_AND_DISK_SER")
    assert(GraftSession.fromEnv("t", Map("SPARK_GRAFT_SHUFFLE" -> "64"))(
      "spark.sql.shuffle.partitions") === "64")
    val e = intercept[IllegalArgumentException](
      GraftSession.fromEnv("t", Map("SPARK_GRAFT_CPUS" -> "many")))
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
  }

  test("no code under src/main/scala but GraftSession writes a session conf") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val writers = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val text = java.nio.file.Files.readString(p)
        text.contains("conf.set(") || text.contains("conf.unset(")
      }.map(root.relativize(_).toString).toList finally files.close()
    assert(writers === List("graft/GraftSession.scala"))
  }

  test("Bench writes bench_full.json only for the default run") {
    assert(Bench.outFile(Map.empty) === "bench_full.json")
    assert(Bench.outFile(Map("SPARK_GRAFT_CPUS" -> "32",
      "SPARK_GRAFT_SF_DIR" -> sf("sf0.1"))) === "bench_full.json")
    Seq("SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_SHUFFLE" -> "64",
        "SPARK_GRAFT_CKPT_LEVEL" -> "MEMORY_AND_DISK_SER",
        "SPARK_GRAFT_SF_DIR" -> sf("sf0.01"),
        "SPARK_GRAFT_BENCH_ONLY" -> "q1_agg").foreach { kv =>
      assert(Bench.outFile(Map(kv)) === "bench_probe.json", kv)
    }
    assert(Bench.outFile(Map("SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_BENCH_OUT" -> "x.json")) === "x.json")
  }
}

object GraftSessionSpec {
  def failFirstAttempt(x: Int): Int =
    if (TaskContext.get.attemptNumber == 0)
      throw new IllegalStateException(s"injected first-attempt failure for $x")
    else x
}
