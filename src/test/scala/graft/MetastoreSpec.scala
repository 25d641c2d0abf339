package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** The "standing index" story across PROCESS boundaries: a managed band
  * index seeded under a Derby-backed Hive metastore in one JVM must be
  * found, fingerprint-validated, and reused — zero reseed, zero file
  * rewrite — by a completely fresh JVM pointed at the same metastore.
  * (The default in-memory catalog forgets tables between JVMs, so each
  * fresh session would re-pay the seed cost; this is the path a real
  * deployment's persistent metastore makes incremental.)
  *
  * Child JVMs (not `newSession()`) because catalogImplementation is a
  * static conf on a shared SparkContext — cross-JVM is the actual claim.
  */
class MetastoreSpec extends AnyFunSuite {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("band index seeded in one JVM is reused with zero reseed by a fresh JVM") {
    val work = java.nio.file.Files.createTempDirectory("graft_metastore").toString
    val javaBin =
      java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    val cp = sys.props("java.class.path")

    def run(mode: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx4g", s"-Dderby.system.home=$work",
        "-cp", cp, "graft.tools.MetastoreCheck",
        mode, work, "/root/testdata/sf0.001")
      val rc = Process(cmd, new java.io.File(work))
        .!(ProcessLogger(l => out += l, l => out += s"[err] $l"))
      assert(rc === 0, s"$mode child JVM failed:\n${out.takeRight(40).mkString("\n")}")
      out.toSeq.filter(_.startsWith("GRAFT_MS"))
    }

    def kv(lines: Seq[String], k: String): String =
      lines.collectFirst {
        case l if l.contains(s"$k=") => l.split(s"$k=", 2)(1)
      }.getOrElse(fail(s"missing GRAFT_MS $k in:\n${lines.mkString("\n")}"))

    val seed = run("seed")
    val probe = run("probe")
    assert(kv(seed, "exists_before") === "false")
    assert(kv(seed, "files").nonEmpty)
    assert(kv(probe, "exists_before") === "true",
      "a fresh JVM must find the table in the Derby metastore")
    assert(kv(probe, "files") === kv(seed, "files"),
      "the probe run must reuse the seeded index — not rewrite a single file")
    assert(kv(probe, "probe_rows").toLong > 0)
  }
}
