package graft

import java.nio.file.{Files, FileSystemException, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** The one place a derived on-disk artifact under `java.io.tmpdir` is
  * named and published: stream landings, partitioned layouts, trained
  * models, staged media files, and the per-run dirs of stream terminals.
  *
  * Key rule: `graft_<kind>_<data-dir basename>_<hash>`, where the hash
  * covers the ABSOLUTE data dir and the FS fingerprint (file count, bytes,
  * max mtime) of the inputs the artifact is derived from. Two data dirs
  * with one basename never share an artifact, and data regenerated in
  * place gets a fresh one.
  *
  * Publish rule: the body writes into a process-unique build dir,
  * `_SUCCESS` is written last, and one atomic rename makes the artifact
  * visible. A build that throws leaves nothing under the key, so the next
  * call rebuilds it in full; a process that loses a rename race discards
  * its build and reads the winner's copy.
  */
object Staging {

  /** Name prefix of stream landings: rebuilt on demand, so swept when stale. */
  private val LandingPrefix = "graft_stream_"
  /** Name prefix of per-run dirs: dead once their run has returned. */
  private val RunPrefix = "graft_run_"
  /** The dirs `tools.Reclaim` may sweep when stale: landings, run dirs,
    * and the scratch dirs of the DailyApp and reliable-checkpoint specs.
    * Models (`graft_model_`), layouts (`graft_pt_`) and media files
    * (`graft_media_`) are inputs keyed by fingerprint and are never swept.
    */
  val sweptPrefixes: Seq[String] =
    Seq(LandingPrefix, RunPrefix, "graft_daily_spec_", "graft_cc_reliable")

  private def root: Path = Paths.get(sys.props("java.io.tmpdir"))

  /** Per-JVM tag and sequence number of run and build dirs. */
  private val tag = java.util.UUID.randomUUID().toString.take(8)
  private val seq = new AtomicInteger()
  private val locks = new ConcurrentHashMap[Path, AnyRef]()

  /** The key rule: where the artifact `name` derived from `inputs` of `dataDir` lives. */
  private def keyed(spark: SparkSession, name: String, dataDir: String,
      inputs: Seq[String]): Path = {
    val d = new java.io.File(dataDir)
    val fp = inputs.map(Tables.fsFingerprint(spark, _)._1).mkString("|")
    root.resolve(s"${name}_${d.getName.replaceAll("[^A-Za-z0-9.]", "_")}_" +
      Integer.toHexString((d.getAbsolutePath + "|" + fp).hashCode))
  }

  /** The landing dir of `kind` for `dataDir`, built by `write(buildDir)`
    * on first use.
    */
  def landing(spark: SparkSession, kind: String, dataDir: String,
      inputs: Seq[String])(write: String => Unit): String =
    publish(keyed(spark, LandingPrefix + kind, dataDir, inputs))(write)

  /** Ordered landing: each DataFrame becomes ONE parquet file of the given
    * name, and the files' mtimes ascend one minute apart in list order, so a
    * `maxFilesPerTrigger=1` file stream reads them as micro-batches in that
    * order.
    */
  def landingFiles(spark: SparkSession, kind: String, dataDir: String,
      inputs: Seq[String])(files: => Seq[(String, DataFrame)]): String =
    landing(spark, kind, dataDir, inputs) { build =>
      val dir = Paths.get(build)
      var first = 0L
      files.zipWithIndex.foreach { case ((name, df), i) =>
        val part = dir.resolve(s"_part_$i")
        df.coalesce(1).write.parquet(part.toString)
        val f = Files.move(FsUtil.singleParquetPart(part), dir.resolve(name))
        FsUtil.deleteRecursively(part)
        if (i == 0) first = Files.getLastModifiedTime(f).toMillis
        else Files.setLastModifiedTime(f, FileTime.fromMillis(first + i * 60000L))
      }
    }

  /** A derived input (model, partitioned layout, media files) of `kind`
    * for `dataDir`, built by `write(buildDir)` on first use and never swept.
    */
  def derived(spark: SparkSession, kind: String, dataDir: String,
      inputs: Seq[String])(write: String => Unit): String =
    publish(keyed(spark, "graft_" + kind, dataDir, inputs))(write)

  /** A fresh dir for one run of `name`, unique to this JVM and call:
    * a checkpoint or sink from an earlier process or run can never replay
    * into it. Not created; its first writer creates it.
    */
  def runDir(name: String): Path =
    root.resolve(s"$RunPrefix${tag}_${name}_${seq.incrementAndGet()}")

  /** The `name` of a dir [[runDir]] returned, with its run number. */
  private[graft] def runName(dir: Path): String =
    dir.getFileName.toString.stripPrefix(s"$RunPrefix${tag}_")

  private def publish(dir: Path)(write: String => Unit): String =
    locks.computeIfAbsent(dir, _ => new Object).synchronized {
      val done = dir.resolve("_SUCCESS")
      if (!Files.exists(done)) {
        val build = dir.resolveSibling(
          s"${dir.getFileName}.build-${ProcessHandle.current.pid}-${seq.incrementAndGet()}")
        try {
          write(build.toString)
          Files.createDirectories(build)
          Files.write(build.resolve("_SUCCESS"), Array.emptyByteArray)
          Files.move(build, dir, StandardCopyOption.ATOMIC_MOVE)
        } catch {
          // another process published first: keep the winner's copy
          case _: FileSystemException if Files.exists(done) =>
        } finally FsUtil.deleteRecursively(build)
      }
      dir.toString
    }
}
