package graft

import graft.sources.JdbcStore

/** E1 streaming into JDBC: a `DailyApp` tick appends into the reference
  * DDL's table on Derby through the same dt guard as the parquet table,
  * so replayed and partial deliveries land without loss or duplication,
  * and the JDBC table ends equal to the parquet one.
  */
class JdbcStreamSinkSpec extends SparkTestBase {
  import DailyAppSpec.{canonRows, replayCases}

  private def url(cfg: DailyApp.Config) =
    s"jdbc:derby:${cfg.base.resolve("derby")};create=true"

  private def derbyReplays(): Seq[String] = replayCases(spark,
    cfg => new JdbcStore.InvestmentTarget(spark, url(cfg)),
    cfg => canonRows(JdbcStore.investmentData(spark, url(cfg))))

  test("replayed micro-batches land exactly once; new batches append") {
    assert(derbyReplays().map(_.take(8)) === Seq("20220819", "20220822"))
  }

  test("the flagship stream through the JDBC terminal equals the parquet-terminal result") {
    val viaParquet = replayCases(spark,
      cfg => DailyApp.ParquetTarget(spark, cfg.table),
      cfg => canonRows(spark.read.parquet(cfg.table.toString)))
    assert(derbyReplays() === viaParquet)
    // and the two query keys: the golden row, exactly once, either way
    val jdbc = SparkEntry.queries("q_stream_flagship_jdbc")(spark, sf())
    assert(jdbc.columns.toSeq === model.Schemas.investmentCols)
    assert(canon(jdbc) === canon(SparkEntry.queries("q_stream_flagship")(spark, sf())))
    assert(jdbc.count() === 1)
  }
}
