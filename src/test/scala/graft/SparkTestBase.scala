package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide SparkSession
  * (getOrCreate) so suites don't pay repeated startup.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Engine-agnostic row canonicalization for result comparison: every
    * row as a sorted "v1|v2|…" string (mirrors the driver's compare).
    */
  def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** The number of Spark jobs started while `body` runs. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }
}

object SparkTestBase {
  lazy val session: SparkSession =
    GraftSession.start(GraftSession.local("graft-test", 4))
}
