package graft

import graft.GraftConf._

/** Every `graft.*` key through its one reader: unset reads today's
  * default, a malformed value fails naming the key, and README's
  * settings table lists exactly these keys.
  */
class GraftConfSpec extends SparkTestBase {

  /** (key, value read when unset — None where the caller supplies it,
    * a malformed value — None where every non-blank value is well formed)
    */
  private val table: Seq[(Key[_], Option[Any], Option[String])] = Seq(
    (CheckpointDir, None, None),
    (CheckpointLevel, None, Some("MEMORY_AND_DISKS")),
    (DedupBroadcastIdLimit, Some(2000000L), Some("2M")),
    (DedupExactGenLimit, Some(1000000L), Some("1e6")),
    (DedupStopBroadcastLimit, Some(1000000L), Some("lots")),
    (LayoutMinBytes, Some(64L << 20), Some("64m")),
    (StatePartitions, None, Some("-3")),
    (StateProvider, Some("rocksdb"), Some("session")))

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

  test("README's settings table lists exactly the GraftConf keys") {
    val rows = scala.io.Source.fromFile("README.md", "UTF-8")
    val keys = try rows.getLines().collect {
      case l if l.startsWith("| `graft.") => l.drop(3).takeWhile(_ != '`')
    }.toList finally rows.close()
    assert(keys.sorted === GraftConf.all.map(_.key).sorted)
  }
}
