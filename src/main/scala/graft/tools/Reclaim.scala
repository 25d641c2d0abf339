package graft.tools

import java.io.File

/** Pre-run /tmp reclaim for heavy bench/verify runs.
  *
  * Crashed or killed Spark JVMs leave shuffle/spill debris behind
  * (`blockmgr-*`, `spark-*` scratch dirs) plus graft's own ephemeral
  * staging: the dirs whose prefixes `graft.Staging.sweptPrefixes`
  * lists — stream landings, per-run dirs (checkpoints, sinks, side
  * tables, DailyApp query bases) and spec scratch. A big probe then
  * fails on `No space left` hours in — the round-10 sf100 probe grew a
  * 40 GB blockmgr into an 89 %-full disk. Sweeping STALE debris first
  * makes the heavy run's budget deterministic.
  *
  * Safety: staleness alone is NOT liveness for Spark scratch — shuffle
  * blocks under `blockmgr-*` are written once and read hours later with
  * no mtime refresh, so a long-running probe's live data can look
  * "stale" mid-flight. Deletion is therefore gated twice:
  *
  *  1. Spark scratch (`blockmgr-*`, `spark-*`) is swept ONLY when no
  *     other JVM is alive on the box (single-tenant proxy for
  *     ownership: scratch can only be live if some java process owns
  *     it). With another JVM running, those dirs are skipped entirely.
  *  2. Everything still considered is deleted only when NOTHING under
  *     it (walked fully, early-exit on the first fresh entry) was
  *     modified within `ageHours` — with a floor of [[minSparkScratchAgeHours]]
  *     for Spark scratch, well above the longest observed run.
  *
  * Scaled data dirs (`graft-sf*`), models, partitioned layouts, media
  * files and bucketed/backfill tables are NOT swept: they are inputs
  * keyed by fingerprint, not debris.
  */
object Reclaim {

  private val sparkScratchPrefixes = Seq("blockmgr-", "spark-")

  /** Longest observed heavy run is ~3 h (sf100 probe slices); Spark
    * scratch younger than this is never touched even when mtime-stale.
    */
  val minSparkScratchAgeHours: Int = 36

  /** True when any java process other than this one is running — the
    * ownership proxy that keeps a concurrent probe's shuffle data safe.
    *
    * `ProcessHandle.info().command()` is frequently EMPTY (other users'
    * processes, restricted /proc), and a live probe invisible here would
    * get its blockmgr scratch swept with only the 36 h mtime floor left
    * guarding it. So an empty command() falls back to reading
    * /proc/<pid>/cmdline directly: non-empty → a userland process whose
    * argv[0] we check for a JVM; UNREADABLE → treated as possibly-a-JVM
    * (fail safe toward skipping scratch); empty → a kernel thread, never
    * a JVM (without this case the fail-safe would fire on every box,
    * since kernel threads always have no command).
    */
  private[tools] def otherJvmsLive(): Boolean = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().anyMatch { h =>
      h.pid() != self && {
        val cmd = h.info().command()
        if (cmd.isPresent) {
          val c = cmd.get
          val base = c.substring(c.lastIndexOf('/') + 1)
          base == "java" || base == "java.exe"
        } else possiblyJvm(h.pid())
      }
    }
  }

  /** Fallback JVM sniff for pids whose ProcessHandle command is hidden:
    * argv[0] from /proc/<pid>/cmdline (NUL-separated), erring toward
    * `true` when /proc denies us — see [[otherJvmsLive]].
    */
  private def possiblyJvm(pid: Long): Boolean =
    try {
      val raw = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/cmdline"))
      if (raw.isEmpty) false // kernel thread
      else {
        val argv0 = new String(raw.takeWhile(_ != 0), "UTF-8")
        val base = argv0.substring(argv0.lastIndexOf('/') + 1)
        base == "java" || base == "java.exe" || argv0.contains("/jvm/")
      }
    } catch { case _: Exception => true }

  /** Sweep stale debris under `tmpDir`; returns bytes reclaimed. */
  def sweep(tmpDir: String = sys.props("java.io.tmpdir"),
      ageHours: Int = 6): Long = {
    val root = new File(tmpDir)
    val skipScratch = otherJvmsLive()
    if (skipScratch)
      System.err.println("[reclaim] another JVM is live — leaving Spark " +
        "scratch (blockmgr-*/spark-*) untouched")
    val all = Option(root.listFiles()).getOrElse(Array.empty)
      // never sweep the shared spark-local dir some setups pin
      .filterNot(_.getName == "spark-local")
    def cutoffFor(hours: Int) =
      System.currentTimeMillis() - hours * 3600L * 1000L
    var reclaimed = 0L
    all.foreach { dir =>
      val isScratch = sparkScratchPrefixes.exists(dir.getName.startsWith)
      val isStaging = graft.Staging.sweptPrefixes.exists(dir.getName.startsWith)
      val cutoff =
        if (isScratch)
          cutoffFor(math.max(ageHours, minSparkScratchAgeHours))
        else cutoffFor(ageHours)
      if ((isStaging || (isScratch && !skipScratch))) {
        val (stale, bytes) = walk(dir, cutoff)
        if (stale) {
          delete(dir)
          reclaimed += bytes
        }
      }
    }
    if (reclaimed > 0)
      System.err.println(
        f"[reclaim] freed ${reclaimed / (1L << 20)}%d MiB of stale debris")
    reclaimed
  }

  /** (allOlderThanCutoff, totalBytes); early-exits false on fresh entry. */
  private def walk(f: File, cutoff: Long): (Boolean, Long) = {
    if (f.lastModified() >= cutoff) return (false, 0L)
    if (f.isFile) (true, f.length())
    else {
      var bytes = 0L
      val children = Option(f.listFiles()).getOrElse(Array.empty)
      var i = 0
      while (i < children.length) {
        val (ok, b) = walk(children(i), cutoff)
        if (!ok) return (false, 0L)
        bytes += b
        i += 1
      }
      (true, bytes)
    }
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    val age = args.headOption.map(_.toInt).getOrElse(6)
    sweep(ageHours = age): Unit
  }
}
