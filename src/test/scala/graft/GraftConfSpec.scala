package graft

import graft.GraftConf._

/** Every `graft.*` key through its one reader: unset reads today's
  * default, a malformed value fails naming the key, and booleans take
  * `1`/`0` as well as `true`/`false`.
  */
class GraftConfSpec extends SparkTestBase {

  /** (key, value read when unset — None where the caller supplies it,
    * a malformed value — None where every non-blank value is well formed)
    */
  private val table: Seq[(Key[_], Option[Any], Option[String])] = Seq(
    (CheckpointDir, None, None),
    (CheckpointSkip, Some(false), Some("yes")),
    (CheckpointLevel, None, Some("MEMORY_AND_DISKS")),
    (DedupBroadcastIdLimit, Some(2000000L), Some("2M")),
    (DedupExactGenLimit, Some(1000000L), Some("1e6")),
    (DedupStopBroadcastLimit, Some(1000000L), Some("lots")),
    (LayoutMinBytes, Some(64L << 20), Some("64m")),
    (PathsMaxEventsPerUser, Some(10000), Some("0")),
    (RfmWindowMaxEventRows, Some(2000000L), Some("2,000,000")),
    (StatePartitions, None, Some("-3")),
    (StateProvider, Some("rocksdb"), Some("session")),
    (TfCheckpointMaxBytes, Some(256L << 20), Some("256MB")))

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("the table covers every GraftConf key") {
    assert(table.map(_._1.key).sorted === GraftConf.all.map(_.key).sorted)
  }

  test("an unset key reads today's default") {
    table.foreach { case (k, default, _) =>
      val read = k match {
        case s: Setting[_] => Some(s(spark))
        case _ => k.get(spark)
      }
      assert(read === default, k.key)
    }
  }

  test("a malformed value throws IllegalArgumentException naming the key") {
    table.collect { case (k, _, Some(bad)) => (k, bad) }.foreach { case (k, bad) =>
      withConf(k.key, bad) {
        val e = intercept[IllegalArgumentException](k.get(spark))
        assert(e.getMessage.contains(k.key), e.getMessage)
      }
    }
  }

  test("booleans read 1 and 0 as true and false") {
    for ((v, want) <- Seq("1" -> true, "0" -> false, "true" -> true, "false" -> false))
      withConf(CheckpointSkip.key, v)(assert(CheckpointSkip(spark) === want, s"${CheckpointSkip.key}=$v"))
    // and the caller honors it: checkpoint.skip=1 makes truncation the identity
    val df = spark.range(3).toDF("n")
    withConf(CheckpointSkip.key, "1")(assert(Checkpoints.truncate(df) eq df))
  }
}
