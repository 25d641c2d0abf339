package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators.
  *
  * `tables` writes the TPC-H-like star schema (`region nation customer
  * supplier part orders lineitem`) plus `documents`, `embeddings` and
  * `events`, one single-file parquet per table, with the column names,
  * types and value domains of the engine's `sfDir` layout. Row counts
  * scale with `sf` the way the TPC-H-ish fixtures do (lineitem = 6 M × sf).
  * Every table draws from its own `SplittableRandom(seed, table)` stream,
  * so one seed always yields the same rows.
  *
  * `TwsePayloads` is the daily-tick generator: a seeded sequence of
  * BFI82U JSON bodies, one per calendar day, whose shape (market open,
  * market closed, or pre-IFRS format drift) follows the date, with
  * comma-grouped amounts.
  */
object DataGen {

  private def rng(seed: Long, salt: String) =
    new SplittableRandom(seed * 1000003L ^ salt.hashCode.toLong)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: String, days: Int) =
    java.sql.Timestamp.valueOf(
      java.time.LocalDate.parse(from).plusDays(r.nextInt(days)).atStartOfDay())

  private val words = Array(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "window", "spark", "order", "data", "column",
    "join", "small", "line", "customer", "query", "big", "stream", "sort",
    "group", "filter", "vector", "the", "a", "plan", "stage")

  /** Row counts per table at scale factor `sf`. */
  def counts(sf: Double): Map[String, Int] = {
    def n(base: Double, min: Int) = math.max(min, math.round(base * sf).toInt)
    Map("customer" -> n(150000, 15), "supplier" -> n(10000, 10),
      "part" -> n(200000, 20), "orders" -> n(1500000, 150),
      "lineitem" -> n(6000000, 600), "documents" -> n(50000, 100),
      "embeddings" -> n(50000, 100), "events" -> n(1000000, 1000))
  }

  def tables(spark: SparkSession, out: Path, sf: Double, seed: Long): Unit = {
    val c = counts(sf)
    Files.createDirectories(out)
    def write(t: String, schema: StructType)(gen: SplittableRandom => Int => Row): Unit = {
      val r = rng(seed, t)
      val g = gen(r)
      val rows = (0 until c.getOrElse(t, 0)).map(g)
      writeRows(spark, out, t, schema, rows)
    }
    def f(n: String, t: DataType) = StructField(n, t)
    writeRows(spark, out, "region",
      StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    writeRows(spark, out, "nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType)))) { r => i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        segments(r.nextInt(5)))
    }
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)))) { r => i =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }
    val adj = Array("blue", "hot", "small", "old", "red", "new", "cold", "large")
    val noun = Array("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType)))) { r => i =>
      Row(i.toLong, s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)
    }
    val status = Array("F", "O", "P")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val flags = Array("A", "N", "R")
    val lineStatus = Array("F", "O")
    val nCust = c("customer"); val nOrd = c("orders")
    val nPart = c("part"); val nSupp = c("supplier")
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType)))) { r => i =>
      Row(i.toLong, r.nextInt(nCust).toLong, status(r.nextInt(3)),
        money(r, 1000, 500000), day(r, "1995-01-01", 2404), prio(r.nextInt(5)))
    }
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType),
      f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType)))) { r => _ =>
      Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        flags(r.nextInt(3)), lineStatus(r.nextInt(2)),
        day(r, "1995-01-02", 2498))
    }
    // documents: word-salad texts with ~8% planted near-duplicates
    val langs = Array("en", "en", "en", "en", "zh", "de", "fr", "es")
    val texts = new Array[String](c("documents"))
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType)))) { r => i =>
      val text =
        if (i >= 40 && r.nextDouble() < 0.08)
          texts(r.nextInt(i)).split(" ").map(w =>
            if (r.nextDouble() < 0.03) words(r.nextInt(words.length)) else w).mkString(" ")
        else Seq.fill(20 + r.nextInt(80))(words(r.nextInt(words.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    // embeddings: 64-dim vectors around 10 cluster centroids
    val cr = rng(seed, "centroids")
    val centroids = Array.fill(10, 64)((cr.nextDouble() - 0.5) * 0.3)
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType)))) { r => i =>
      val label = r.nextInt(10)
      Row(i.toLong, centroids(label).toSeq.map(x =>
        (x + gaussian(r) * 0.08).toFloat), label)
    }
    // events: 30 days x 150 users (skewed) x 5 types, ordered by ts
    val evTypes = Array("click", "view", "signup", "purchase", "error")
    val nEv = c("events")
    val span = 30L * 86400L * 1000000L
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType)))) { r => i =>
      val micros = i * span / nEv + r.nextLong(math.max(1L, span / nEv))
      val ts = new java.sql.Timestamp(1704067200000L + micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      val u = (r.nextDouble() * r.nextDouble() * 150).toInt.min(149)
      Row(i.toLong, ts, u.toLong, evTypes(r.nextInt(5)), money(r, 0.01, 450),
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def writeRows(spark: SparkSession, out: Path, t: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    val build = out.resolve(s"_build_$t")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").option("compression", "snappy").parquet(build.toString)
    Files.move(graft.FsUtil.singleParquetPart(build), out.resolve(s"$t.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.FsUtil.deleteRecursively(build)
  }

  /** One generated trading day: its payload and the route the daily
    * pipeline must take for it.
    */
  final case class Day(date: String, shape: String, body: String,
      expectedRow: Option[Seq[String]] = None)

  /** Seeded BFI82U payload stream, one calendar day per tick from
    * `start`, so every tick lands a new file. The shape follows the date,
    * as the reference's `@daily` schedule meets it: weekdays are open
    * days, Saturdays and Sundays closed days. Drift (the pre-IFRS table
    * shape) is all but absent from real forward ticks; one seeded weekday
    * in the first week of every [[Fortnight]] days takes that shape, so a
    * window of a week or more takes the alert route, at 1 tick in 14 over
    * whole fortnights. The seed drives the amounts and which weekday
    * drifts.
    */
  object TwsePayloads {
    val Fortnight = 14
    private val open4 = Seq("自營商(自行買賣)", "自營商(避險)", "投信", "外資及陸資")

    def weekend(d: java.time.LocalDate): Boolean =
      d.getDayOfWeek.getValue >= java.time.DayOfWeek.SATURDAY.getValue

    def days(seed: Long, n: Int,
        start: java.time.LocalDate = java.time.LocalDate.of(2023, 1, 2)): IndexedSeq[Day] = {
      val r = rng(seed, "bfi82u")
      val dates = (0 until n).map(i => start.plusDays(i))
      val drift = dates.indices.grouped(Fortnight).flatMap { f =>
        val weekdays = f.take(7).filterNot(i => weekend(dates(i)))
        if (weekdays.isEmpty) None else Some(weekdays(r.nextInt(weekdays.size)))
      }.toSet
      dates.zipWithIndex.map { case (date, i) =>
        val d = date.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
        if (weekend(date)) closedDay(d)
        else if (drift(i)) driftDay(r, d)
        else openDay(r, d)
      }
    }

    private def grouped(v: Long): String =
      java.text.NumberFormat.getIntegerInstance(java.util.Locale.US).format(v)

    private def triple(r: SplittableRandom): Seq[String] = {
      val buy = 1000000L + r.nextLong(60000000000L)
      val sell = 1000000L + r.nextLong(60000000000L)
      Seq(grouped(buy), grouped(sell), grouped(buy - sell))
    }

    private def json(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

    private def openDay(r: SplittableRandom, d: String): Day = {
      val rows = open4.map(_ => triple(r))
      val total = Seq(0, 1, 2).map(j => grouped(rows.map(_(j).replace(",", "").toLong).sum))
      val data = (open4.zip(rows) :+ ("合計" -> total)).map { case (label, v) =>
        (label +: v).map(json).mkString("[", ",", "]")
      }.mkString("[", ",", "]")
      val body = s"""{"stat":"OK","title":${json(s"$d 三大法人買賣金額統計表")},""" +
        s""""fields":["單位名稱","買進金額","賣出金額","買賣差額"],"date":"$d",""" +
        s""""data":$data,"params":{"response":"json","dayDate":"$d"},"notes":[]}"""
      Day(d, "open", body, Some(d +: rows.flatten.map(_.replace(",", ""))))
    }

    private def closedDay(d: String): Day = Day(d, "closed",
      s"""{"stat":"很抱歉，沒有符合條件的資料!","title":null,"fields":null,"date":"$d",""" +
        s""""data":null,"params":{"response":"json","dayDate":"$d"},"notes":null}""")

    private def driftDay(r: SplittableRandom, d: String): Day = {
      val rows = Seq("自營商", "投信", "外資及陸資", "合計").map { label =>
        (label +: triple(r).take(2)).map(json).mkString("[", ",", "]")
      }.mkString("[", ",", "]")
      Day(d, "drift", s"""{"stat":"OK","title":${json(s"$d 三大法人買賣金額統計表")},""" +
        s""""fields":["單位名稱","買進金額","賣出金額"],"date":"$d","data":$rows,""" +
        s""""params":{"response":"json","dayDate":"$d"},"notes":[]}""")
    }
  }
}
