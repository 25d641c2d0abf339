package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Every `graft.*` runtime SQL conf the engine reads, with its type and
  * default, and the one rule every value is checked by: a blank value is
  * unset, anything else must parse as the key's type or the read throws
  * an `IllegalArgumentException` that names the key. Values are read
  * when a query is planned, so a session may change them between calls.
  *
  * A [[Key]] has no fixed default: the caller supplies the value that
  * applies when it is unset (a per-query partition count, or
  * `localCheckpoint` in place of a directory). A [[Setting]] has one default for every caller.
  */
object GraftConf {

  /** A value type: its name in error messages and its parser. */
  private[GraftConf] final case class Kind[T](name: String, read: String => Option[T])

  class Key[T] private[GraftConf] (val key: String, kind: Kind[T]) {
    /** The session's value; None when unset or blank. */
    def get(spark: SparkSession): Option[T] =
      spark.conf.getOption(key).filter(_.trim.nonEmpty).map(raw =>
        kind.read(raw.trim).getOrElse(throw new IllegalArgumentException(
          s"$key must be ${kind.name}, got '$raw'")))
  }

  final class Setting[T] private[GraftConf] (key: String, kind: Kind[T],
      val default: T) extends Key[T](key, kind) {
    def apply(spark: SparkSession): T = get(spark).getOrElse(default)
  }

  private val long = Kind[Long]("a long", _.toLongOption)
  private val bytes = Kind[Long]("a byte count (non-negative long)", _.toLongOption.filter(_ >= 0))
  private val positiveInt = Kind[Int]("a positive integer", _.toIntOption.filter(_ > 0))

  /** Reliable-checkpoint directory; unset = `localCheckpoint` ([[Checkpoints]]). */
  val CheckpointDir = new Key("graft.cc.checkpointDir", Kind[String]("a path", Some(_)))
  /** `localCheckpoint` storage level; unset = MEMORY_AND_DISK (deserialized,
    * fastest re-read). At big scale factors use MEMORY_AND_DISK_SER: 32
    * tasks concurrently materializing multi-GiB deserialized partitions
    * OOM'd the sf100 probe's 48 g heap; serialized blocks are a fraction
    * of the object-graph size and spill cheaply.
    */
  val CheckpointLevel = new Key("graft.checkpoint.storageLevel",
    Kind[StorageLevel]("a StorageLevel name such as MEMORY_AND_DISK_SER",
      v => scala.util.Try(StorageLevel.fromString(v)).toOption))

  /** Candidate pairs up to which the participant id set broadcasts. */
  val DedupBroadcastIdLimit = new Setting("graft.dedup.broadcastIdLimit", long, 2000000L)
  /** Corpus documents above which the exact pair generators refuse. */
  val DedupExactGenLimit = new Setting("graft.dedup.exactGenLimit", long, 1000000L)
  /** Stop fingerprints up to which the stop set broadcasts as one row. */
  val DedupStopBroadcastLimit = new Setting("graft.dedup.stopBroadcastLimit", long, 1000000L)

  /** Base-table bytes from which date-banded queries read the partitioned layout. */
  val LayoutMinBytes = new Setting("graft.layout.minBytes", bytes, 64L << 20)

  /** State partitions of every stateful stream; unset = derived from the
    * stream's input bytes (`EventsStreaming.runAvailableNow`).
    */
  val StatePartitions = new Key("graft.streaming.statePartitions", positiveInt)
  /** State-store provider of stateful streams: `rocksdb`, or `heap`, which
    * specs keep as the reference the RocksDB results are compared against.
    * transformWithState always runs on RocksDB.
    */
  val StateProvider = new Setting("graft.streaming.stateProvider",
    Kind[String]("rocksdb|heap", Some(_).filter(Set("rocksdb", "heap"))), "rocksdb")

  /** Every key; `GraftConfSpec` checks each one. */
  val all: Seq[Key[_]] = Seq(CheckpointDir, CheckpointLevel,
    DedupBroadcastIdLimit, DedupExactGenLimit, DedupStopBroadcastLimit,
    LayoutMinBytes, StatePartitions, StateProvider)
}
