package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, collected from Spark's public listener hooks and
  * attributed to the op in flight: the harness drains the listener bus
  * after every op (`Drain`), then takes and resets the counters.
  *
  * `Batches` is the always-on part: micro-batch `triggerExecution` times
  * (stream progress reports) and SQL execution times, which the untraced
  * run needs for its `batch_*` metrics. `Layers` is the traced part.
  */
final class Batches extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    // a no-data progress (nothing read, no state to age) is not a batch
    if (e.progress.numInputRows > 0 || !e.progress.stateOperators.isEmpty)
      progress += e.progress
  }
  def take(): Seq[StreamingQueryProgress] = synchronized {
    val p = progress.toList; progress.clear(); p
  }
}

/** SQL execution wall times (batch work units of non-stream ops). */
final class SqlExecs extends SparkListener {
  private val start = mutable.Map.empty[Long, Long]
  val ms = mutable.ArrayBuffer.empty[Double]
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { start(s.executionId) = s.time }
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      synchronized { start.remove(x.executionId).foreach(t0 => ms += (x.time - t0).toDouble) }
    case _ =>
  }
  def take(): Seq[Double] = synchronized { val v = ms.toList; ms.clear(); v }
}

final class Layers extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  private def max(k: String, v: Double): Unit = c(k) = math.max(c.getOrElse(k, 0.0), v)
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val blocks = mutable.Map.empty[String, Long]

  // ---- catalyst ----
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    add("catalyst.executions", 1)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs.toDouble))
    }
    // scan files: the `numFiles` metric of every file scan in the plan
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    scans(qe.executedPlan).foreach { s =>
      s.metrics.get("numFiles").foreach(m => add("scan.files", m.value.toDouble))
    }
  }

  // ---- scheduler, scan, exchange ----
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("sched.jobs", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (e.taskInfo.attemptNumber > 0) add("sched.task_retries", 1)
    if (m != null) {
      add("sched.tasks", 1)
      add("sched.task_run_s", m.executorRunTime / 1e3)
      add("sched.task_cpu_s", m.executorCpuTime / 1e9)
      add("sched.gc_s", m.jvmGCTime / 1e3)
      add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      add("scan.rows", m.inputMetrics.recordsRead.toDouble)
      add("exchange.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exchange.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exchange.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime.toDouble
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("sched.stages", 1)
    taskMs.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ts =>
      val s = ts.sorted
      val med = s(s.size / 2)
      if (med > 0) max("exchange.skew", s.last / med)
    }
  }

  // ---- storage: RDD block bytes from caches and local checkpoints ----
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val bytes = i.memSize + i.diskSize
      if (bytes > 0) blocks(i.blockId.name) = bytes else blocks.remove(i.blockId.name)
      max("storage.block_bytes", blocks.values.sum.toDouble)
    }
  }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.startsWith(s"rdd_${e.rddId}_")).toList.foreach(blocks.remove)
  }

  /** Counters since the last call, with stream and state metrics folded
    * in from the op's progress reports, then reset.
    */
  def take(progress: Seq[StreamingQueryProgress]): Map[String, Double] = synchronized {
    progress.foreach { p =>
      add("stream.batches", 1)
      val d = p.durationMs
      Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
        "queryPlanning" -> "plan_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
        "triggerExecution" -> "trigger_ms").foreach { case (k, n) =>
        if (d.containsKey(k)) add(s"stream.$n", d.get(k).doubleValue)
      }
      add("stream.input_rows", p.numInputRows.toDouble)
      p.stateOperators.foreach { s =>
        max("state.rows", s.numRowsTotal.toDouble)
        max("state.mem_bytes", s.memoryUsedBytes.toDouble)
        add("state.commit_ms", s.commitTimeMs.toDouble)
        add("state.rows_removed", s.numRowsRemoved.toDouble)
        Option(s.customMetrics.get("rocksdbBytesCopied"))
          .foreach(v => add("state.snapshot_bytes", v.doubleValue))
      }
    }
    val out = c.toMap
    c.clear(); taskMs.clear()
    // the block high-water mark restarts from what is still stored
    if (blocks.nonEmpty) c("storage.block_bytes") = blocks.values.sum.toDouble
    out
  }
}

object Layers {
  /** Attach the always-on and (when `traced`) the per-layer listeners. */
  def attach(spark: SparkSession, traced: Boolean): (Batches, SqlExecs, Option[Layers]) = {
    val b = new Batches
    val s = new SqlExecs
    spark.streams.addListener(b)
    spark.sparkContext.addSparkListener(s)
    val l = if (traced) {
      val l = new Layers
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    } else None
    (b, s, l)
  }
}
