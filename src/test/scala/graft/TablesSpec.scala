package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{PartitionedTables, Tables}

/** `Tables.parquet`, the one plain Parquet reader: its footer-read schema
  * equals the schema Spark infers, opening a table runs no Spark job, and
  * no other code under `src/main/scala` reads Parquet without a schema.
  */
class TablesSpec extends SparkTestBase {

  private def inferred(paths: String*) = spark.read.parquet(paths: _*).schema

  private def withTempDir[A](body: Path => A): A = {
    val d = Files.createTempDirectory("graft_tables_spec")
    try body(d) finally FsUtil.deleteRecursively(d)
  }

  test("the footer schema equals the inferred one on every testdata table") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings", "events")
    for (d <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables) {
      val p = s"${sf(d)}/$t.parquet"
      assert(Tables.parquet(spark, p).schema === inferred(p), p)
    }
  }

  test("the footer schema keeps timestamp and timestamp_ntz apart") {
    withTempDir { root =>
      Seq("timestamp", "timestamp_ntz").foreach { t =>
        val p = root.resolve(t).toString
        spark.range(3).select(col("id"),
            expr(s"CAST(timestamp_seconds(1700000000 + id) AS $t)").as("ts"))
          .write.parquet(p)
        assert(Tables.parquet(spark, p).schema === inferred(p), t)
        assert(Tables.parquet(spark, p).schema("ts").dataType.sql === t.toUpperCase)
      }
    }
  }

  test("a day=-partitioned directory keeps its partition column") {
    withTempDir { root =>
      val p = root.resolve("t").toString
      spark.range(6).select(col("id"),
          date_format(date_add(lit("2024-01-01").cast("date"), (col("id") % 3).cast("int")),
            "yyyy-MM-dd").as("day"))
        .write.partitionBy("day").parquet(p)
      val df = Tables.parquet(spark, p)
      assert(df.schema === inferred(p))
      assert(df.columns.toSeq === Seq("id", "day"))
      assert(df.count() === 6)
    }
  }

  test("a staged PartitionedTables layout reads back with the inferred schema") {
    GraftSession.withConfs(spark, Seq(GraftConf.LayoutMinBytes.key -> "0")) {
      val d = sf()
      val df = PartitionedTables.ordersByMonth(spark, d)
      val dir = Staging.derived(spark, "pt_orders_m", d, Seq(s"$d/orders.parquet"))(
        _ => fail("ordersByMonth did not stage its layout"))
      assert(df.schema === inferred(dir))
    }
  }

  test("an empty directory fails as the inferred read does") {
    withTempDir { root =>
      val p = root.toString
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.parquet(spark, p))
      assert(got.getClass === want.getClass)
    }
  }

  test("building a batch key runs no Spark job") {
    Seq("q_topk", "q_agg_salted", "q4_order_priority", "q_embed_cov", "q1_agg")
      .foreach(k => assert(jobsOf(SparkEntry.queries(k)(spark, sf())) === 0, k))
  }

  test("no code under src/main/scala but Tables reads Parquet without a schema") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = Files.walk(root)
    val readers = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("read.parquet("))
      .map(root.relativize(_).toString).toList finally files.close()
    assert(readers === List("graft/sources/Tables.scala"))
  }
}
