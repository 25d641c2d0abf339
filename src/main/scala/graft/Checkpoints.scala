package graft

import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for iterative operators (the
  * connected-components loops in `operators.Dedup` / the embedding CC in
  * `operators.Similarity`, and the checkpointed candidate-pair inputs
  * that feed them).
  *
  * Default (unset): `localCheckpoint()` — blocks live in executor
  * storage with NO lineage behind them. Fast, zero external storage, and
  * exactly right for test/bench runs on one JVM; but on a real cluster
  * an executor loss mid-loop is unrecoverable (the blocks are gone and
  * there is no lineage to recompute them).
  *
  * Production: set `graft.cc.checkpointDir` ([[GraftConf.CheckpointDir]]) to a
  * fault-tolerant path (HDFS/S3) and every truncation becomes a reliable
  * `Dataset.checkpoint()` — blocks are written to that directory, so the
  * O(log d) label-propagation rounds survive executor loss; a lost task
  * re-reads the checkpoint files instead of failing the job. Checkpoint
  * files are cleaned by Spark's context cleaner when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, or by
  * deleting the job's subdirectory afterwards.
  */
object Checkpoints {

  // setCheckpointDir creates a fresh UUID subdirectory per call, so only
  // (re)set it when the configured path actually changes
  private var activeDir: Option[String] = None

  private def ensureCheckpointDir(df: DataFrame, dir: String): Unit =
    synchronized {
      if (!activeDir.contains(dir)) {
        df.sparkSession.sparkContext.setCheckpointDir(dir)
        activeDir = Some(dir)
      }
    }

  /** Materialize `df` and truncate its lineage, durably iff
    * `graft.cc.checkpointDir` is configured. Drop-in replacement for
    * `df.localCheckpoint()`; `unpersist()` on the result stays valid in
    * both modes (for reliable checkpoints it is a no-op on the on-disk
    * files, which the cleaner owns).
    */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    GraftConf.CheckpointDir.get(spark) match {
      case Some(dir) =>
        ensureCheckpointDir(df, dir)
        df.checkpoint() // eager + reliable: blocks on fault-tolerant storage
      case None => GraftConf.CheckpointLevel.get(spark)
        .fold(df.localCheckpoint())(df.localCheckpoint(eager = true, _))
    }
  }

  /** Chain-style syntax: `df.truncateLineage()` ≡ `Checkpoints.truncate(df)`. */
  implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    def truncateLineage(): DataFrame = truncate(df)
  }
}
