package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    JvmPrereqs.check() // fail fast, not 2h in at the first Kryo spill
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict the dump to these query names (dev
    // iteration aid; the driver always calls with exactly two args)
    val only = args.drop(2).toSet
    // sized like Bench, big-sf knobs included: a 5M-doc correctness
    // dump is the same physics as the probe that measured those knobs
    val spark = GraftSession.start(GraftSession.fromEnv("graft-verify"))
    new java.io.File(outDir).mkdirs()
    // Harness policy for the fail-fast exact generators (q_ngram_jaccard
    // q_containment q_jaccard_prefix above graft.dedup.exactGenLimit docs):
    // a designed refusal is a SKIP, not an error — recorded with its
    // reason in skipped.json so a big-sf sweep over the full key set can
    // assert "every key passed or was gate-skipped" instead of booking
    // the gate as `err`. Below the limit behavior is byte-identical to
    // the ungated form (same plan, the gate is one corpus count).
    val skipped = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // stale-artifact hygiene (a reused outDir must not carry a previous
    // run's verdicts): the old skipped.json dies up front, and a
    // gate-skipped query's prior parquet dump dies with it — otherwise a
    // "pass or gate-skipped" sweep could compare last run's data, or a
    // stale skip ledger could mask a genuine failure
    Files.deleteIfExists(Paths.get(s"$outDir/skipped.json"))
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch {
        case e: graft.operators.Dedup.ScaleGateException =>
          skipped(name) = e.getMessage
          FsUtil.deleteRecursively(Paths.get(s"$outDir/$name"))
          System.err.println(s"[verify] $name gate-skipped: ${e.getMessage}")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // written unconditionally (empty {} when nothing skipped): the file's
    // absence then always means "run didn't finish", never "no skips"
    val sj = skipped.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/skipped.json"), sj)
    spark.stop()
  }
}
