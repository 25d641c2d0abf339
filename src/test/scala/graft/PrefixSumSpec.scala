package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.DataPrep
import graft.sources.Tables

/** The prefix-sum core (`DataPrep.withRunningTotal`, and
  * `withGlobalIndex` as its weight-1 face) and the NTILE rule against
  * their empty-key window forms: on input spread over many range
  * partitions, under a downstream `coalesce(1)` (the task-fusion hazard
  * the core's lookup is keyed against), and on an empty frame.
  */
class PrefixSumSpec extends SparkTestBase {
  private val d = sf("sf0.01")

  /** name → (input, sort columns, weight column). Every sort is a total
    * order, so the window forms are deterministic.
    */
  private def inputs: Seq[(String, DataFrame, Seq[String], String)] = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("w"))
    Seq(
      ("events by (ts, event_id)",
        Tables.events(spark, d).select(col("event_id"), col("ts"),
          (col("event_id") % 7).cast("long").as("w")),
        Seq("ts", "event_id"), "w"),
      ("documents by (source, doc_id): long runs of one leading key",
        docs, Seq("source", "doc_id"), "w"),
      ("documents by n_chars desc", docs.withColumn("neg", -col("w")),
        Seq("neg", "doc_id"), "w"),
      ("empty frame", docs.filter(lit(false)), Seq("doc_id"), "w"))
  }

  private def ordered(sortCols: Seq[String]) = Window.orderBy(sortCols.map(col): _*)

  private def check(name: String, got: DataFrame, expected: DataFrame): Unit = {
    val want = canon(expected)
    assert(canon(got) === want, name)
    assert(canon(got.coalesce(1)) === want, s"$name under coalesce(1)")
  }

  test("the global index equals row_number() - 1, and its total the row count") {
    for ((name, df, sortCols, _) <- inputs) {
      val (got, n) = DataPrep.withGlobalIndex(df, sortCols.map(col))
      assert(n === df.count(), name)
      if (n > 0) assert(got.select(spark_partition_id()).distinct().count() > 1,
        s"$name: input must span several range partitions")
      check(name, got, df.withColumn("global_idx",
        (row_number().over(ordered(sortCols)) - 1).cast("long")))
    }
  }

  test("the running total equals the preceding-rows window sum, and its total the sum") {
    for ((name, df, sortCols, w) <- inputs) {
      val (got, total) = DataPrep.withRunningTotal(df, sortCols.map(col), col(w), "before")
      assert(total === df.agg(coalesce(sum(col(w)), lit(0L))).head.getLong(0), name)
      check(name, got, df.withColumn("before", coalesce(
        sum(col(w)).over(ordered(sortCols)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
    }
  }

  test("ntileFromRank equals ntile for every row count around the tile count") {
    for (n <- Seq(0, 1, 3, 4, 5, 7, 8, 13, 100); tiles <- Seq(1, 4, 10)) {
      val ids = spark.range(n).toDF("id")
      val (indexed, total) = DataPrep.withGlobalIndex(ids, Seq(col("id")))
      check(s"n=$n tiles=$tiles",
        indexed.select(col("id"), DataPrep.ntileFromRank("global_idx", total, tiles).as("t")),
        ids.select(col("id"), ntile(tiles).over(ordered(Seq("id"))).as("t")))
    }
  }

  test("curriculum equals ntile(4) and spends no job beyond its global index") {
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("n_chars"))
    check("curriculum", DataPrep.curriculum(spark, d),
      docs.withColumn("stage", ntile(4).over(ordered(Seq("n_chars", "doc_id")))))
    assert(jobsOf(DataPrep.curriculum(spark, d)) ===
      jobsOf(DataPrep.withGlobalIndex(docs, Seq(col("n_chars"), col("doc_id")))))
  }

  test("exactPercentiles equals its nearest-rank window form") {
    val o = Tables.orders(spark, d)
      .select((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"), col("o_orderkey"))
      .withColumn("idx", row_number().over(ordered(Seq("cents", "o_orderkey"))) - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    val expected = Seq(50, 90, 99).map { p =>
      o.filter(col("idx") === expr(s"(n - 1) * $p div 100"))
        .select(lit(s"p$p").as("pct"), col("cents"))
    }.reduce(_ union _)
    check("exactPercentiles", DataPrep.exactPercentiles(spark, d), expected)
  }
}
