package graft
import org.apache.spark.sql.SparkSession
object Bench {
  private val DefaultSfDir = "/root/testdata/sf0.1"

  /** Where a run's complete per-query map goes: `SPARK_GRAFT_BENCH_OUT`
    * if set, else `bench_full.json` for the default run (every query,
    * the default sf dir, the default session shape), else
    * `bench_probe.json`. bench_full.json is the sha-chained full-suite
    * artifact BASELINE.md cites, so a filtered, other-sf or other-core
    * probe must not overwrite it (a round-13 sf100 probe clobbered the
    * 294-query map and broke the BENCH_r13 queries_sha256 pointer, and an
    * 8-core run clobbered the 32-core map).
    */
  def outFile(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val default = !env.contains("SPARK_GRAFT_BENCH_ONLY") &&
        env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir) == DefaultSfDir &&
        GraftSession.fromEnv("", env) == GraftSession.fromEnv("", Map.empty)
      if (default) "bench_full.json" else "bench_probe.json"
    })

  def main(args: Array[String]): Unit = {
    JvmPrereqs.check() // fail fast, not 2h in at the first Kryo spill
    // heavy runs budget /tmp deterministically: sweep stale crashed-run
    // debris first (opt out with SPARK_GRAFT_RECLAIM=0)
    if (sys.env.getOrElse("SPARK_GRAFT_RECLAIM", "1") != "0")
      graft.tools.Reclaim.sweep(): Unit
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    // dev iteration aids: restrict to a comma-list of query names, and/or
    // change the number of timed passes (min is reported per query)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val spark = GraftSession.start(GraftSession.fromEnv("graft-bench"))
    // Steady-state measurement. Phase 1 — prep/warm, untimed per query
    // but reported in aggregate as `warm_sec`: ONE pass over EVERY query
    // pays all one-time costs up front (session + codegen classes + JIT,
    // fixture staging, bucketed-table and band-index seeding, stream
    // checkpoint dirs), so none of it lands on an arbitrary timed query.
    // All side-effecting queries are idempotent (overwrite modes /
    // unique stream dirs), so the repeated runs are safe.
    // Noop sink, not count(): count() lets Catalyst prune every
    // per-row projection (a scalar-function query would time only the
    // scan), while the noop writer evaluates all output columns and
    // discards them — the honest cost of producing the result.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // SPARK_GRAFT_BENCH_WARM=0 skips the warm pass — for huge-sf probes
    // where a query runs minutes, the one-time costs the warm pass
    // amortizes are noise and doubling every run is the real cost.
    val doWarm = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") != "0"
    val w0 = System.nanoTime()
    if (doWarm) ordered.foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => () }
    }
    val warmSec = (System.nanoTime() - w0) / 1e9
    // Phase 2 — timed: `passes` full passes, report each query's MIN.
    // A single post-compile pass in a loaded environment hands random
    // queries 10-40× GC/contention spikes (round 6's 17-query outlier
    // cluster); the min over passes is the plan's actual steady-state
    // cost and reproduces run-to-run. Before each pass, drain the
    // previous pass's garbage so its GC debt doesn't land on whichever
    // query runs first (observed as 4× variance on q1_agg).
    val results = scala.collection.mutable.Map.empty[String, Double]
    (1 to passes).foreach { _ =>
      System.gc()
      Thread.sleep(500)
      ordered.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try run(fn) catch {
          case e: Throwable => // keep benching, but never hide a failure
            System.err.println(s"[bench] $name failed: $e")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        results(name) = math.min(results.getOrElse(name, Double.MaxValue), sec)
      }
    }
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","warm_sec":$warmSec,"passes":$passes}"""
    println(line)
    // The driver's log tail truncates long lines (53/117 timings lost in
    // round 4) — persist the complete per-query map alongside it.
    val outFile = Bench.outFile(sys.env)
    val fileBytes = (line + "\n").getBytes("UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile), fileBytes)
    // The driver keeps only the LAST 2000 stdout chars; the full line
    // above is ~8 KB, so the captured artifact never parsed (BENCH_rN
    // "parsed": null since round 4). Print a COMPACT line LAST — total +
    // the slowest queries + the full map's file/sha pointer — sized to
    // fit the tail window whole, so BENCH_rN.json parses standalone.
    // hash the EXACT bytes on disk so `sha256sum bench_full.json` matches
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(fileBytes).map("%02x".format(_)).mkString
    val slowest = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + f"\":$v%.3f" }
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
        s""""warm_sec":$warmSec,"passes":$passes,""" +
        s""""n_queries":${results.size},"queries_full":"$outFile",""" +
        s""""queries_sha256":"$sha","slowest":{"""
    val budget = 1900 - head.length - 2
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    slowest.foreach { s =>
      if (used + s.length + 1 <= budget) { kept += s; used += s.length + 1 }
    }
    println(head + kept.mkString(",") + "}}")
    spark.stop()
  }
}
