package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.model.TwseFixtures

/** DataSource V2 provider for the TWSE daily-payload source — the
  * productionized form of the reference's HTTP fetch (`Final_app.py:22-28`;
  * SURVEY.md §2.A1): a table of `(dt, body)` with **one input partition
  * per trading day**, so a backfill over N days fans out to N parallel
  * fetch tasks and a daily run reads exactly one partition.
  *
  * Two modes, switched by read options:
  *   - default: each partition yields the checked-in golden fixture for
  *     its date (the zero-egress test form);
  *   - `.option("baseUrl", "http://host/path")` [+ optional
  *     `.option("dates", "20220819,...")`]: each partition reader
  *     performs the REAL `GET` of [[TwseFixtureSource.dayUrl]] on its
  *     executor — the reference's `market_information()` request shape —
  *     so fetch parallelism is exactly the partition count.
  *     Everything else (schema, per-day partitioning, downstream plan)
  *     is identical between the modes; a spec drives the HTTP mode
  *     against a loopback server.
  *
  * Usage: `spark.read.format("graft.sources.TwseFixtureSource").load()`.
  */
class TwseFixtureSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TwseFixtureSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new TwseFixtureTable
}

object TwseFixtureSource {
  val schema: StructType = StructType(Seq(
    StructField("dt", StringType, nullable = false),
    StructField("body", StringType, nullable = false)))

  /** (date, payload) pairs — in production, the dates to fetch. */
  val days: Seq[(String, String)] = Seq(
    ("20220819", TwseFixtures.ok),
    ("20220820", TwseFixtures.closed),
    ("20100106", TwseFixtures.drift))

  private[sources] val fixtureByDay: Map[String, String] = days.toMap

  /** The reference's per-date request (`Final_app.py:26`), the one URL
    * both the partition readers and [[graft.DailyApp]] fetch.
    */
  def dayUrl(baseUrl: String, date: String): String =
    s"$baseUrl?response=json&dayDate=$date"

  /** Driver-side payload fetch for the daily entrypoint
    * ([[graft.DailyApp]]) — the reference's per-date GET
    * (`Final_app.py:26-28`).
    */
  def fetch(url: String): String = httpGet(url)

  private[sources] def httpGet(url: String): String = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(30000)
    try {
      val in = conn.getInputStream
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } finally conn.disconnect()
  }
}

private class TwseFixtureTable extends Table with SupportsRead {
  override def name(): String = "twse_bfi82u"
  override def schema(): StructType = TwseFixtureSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TwseScanBuilder(
      Option(options.get("baseUrl")),
      Option(options.get("dates")).map(_.split(",").toSeq))
}

/** Column pruning (SupportsPushDownRequiredColumns): a metadata-only
  * query — `select(dt)`, `count(*)` — prunes `body` out of the scan, and
  * the partition reader then NEVER fetches or materializes the payload
  * (no HTTP GET in live mode). At scale this is the difference between a
  * listing query and a full re-crawl.
  *
  * Aggregate pushdown (SupportsPushDownAggregates): an ungrouped
  * COUNT(*) pushes all the way into the source — each day-partition
  * answers its local count (always 1: one payload per day) without
  * constructing a row at all, and Spark's final aggregate just sums the
  * per-partition counts (partial pushdown contract,
  * `supportCompletePushDown = false`). A "how many days are landed?"
  * query touches no payload in either mode.
  */
private class TwseScanBuilder(baseUrl: Option[String], dates: Option[Seq[String]])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = TwseFixtureSource.schema
  private var countPushed = false
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val onlyCountStar = agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (onlyCountStar) countPushed = true
    onlyCountStar
  }
  override def build(): Scan = new TwseScan(baseUrl, dates, required, countPushed)
}

/** Partition-keyed scan (SupportsReportPartitioning): the table IS
  * key-grouped by `dt` — one partition per day by construction — so the
  * scan reports `KeyGroupedPartitioning(identity(dt))` and every
  * day-grouped aggregation over the source runs EXCHANGE-FREE (with
  * `spark.sql.sources.v2.bucketing.enabled`): each day's rollup
  * completes inside the partition that fetched it. This is the DSv2
  * analogue of a bucketed table, and at a 10-year backfill scale it
  * removes the only shuffle the landing aggregation would have.
  */
private class TwseScan(baseUrl: Option[String], dates: Option[Seq[String]],
    required: StructType, countPushed: Boolean) extends Scan with Batch
    with SupportsReportPartitioning {
  override def readSchema(): StructType =
    if (countPushed)
      StructType(Seq(StructField("count(*)", org.apache.spark.sql.types.LongType,
        nullable = false)))
    else required
  override def toBatch: Batch = this

  private val ds: Seq[String] =
    dates.getOrElse(TwseFixtureSource.days.map(_._1))

  /** One partition per day — the unit of fetch parallelism. */
  override def planInputPartitions(): Array[InputPartition] =
    ds.map(dt => TwseDayPartition(dt, baseUrl): InputPartition).toArray

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.identity("dt")),
      ds.length)

  override def createReaderFactory(): PartitionReaderFactory =
    new TwseReaderFactory(required.fieldNames, countPushed)
}

private case class TwseDayPartition(dt: String, baseUrl: Option[String])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(UTF8String.fromString(dt))
}

private class TwseReaderFactory(cols: Array[String], countPushed: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TwseDayPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = {
        // pushed COUNT(*): the partition's local count, no row built
        if (countPushed) return InternalRow(1L)
        // the payload is fetched ONLY when the pruned schema asks for it
        def body: String = p.baseUrl match {
          case Some(u) => TwseFixtureSource.httpGet(TwseFixtureSource.dayUrl(u, p.dt))
          case None => TwseFixtureSource.fixtureByDay.getOrElse(p.dt,
            throw new IllegalArgumentException(s"no fixture for date ${p.dt}"))
        }
        InternalRow(cols.map {
          case "dt" => UTF8String.fromString(p.dt)
          case "body" => UTF8String.fromString(body)
        }.toIndexedSeq: _*)
      }
      override def close(): Unit = ()
    }
  }
}
