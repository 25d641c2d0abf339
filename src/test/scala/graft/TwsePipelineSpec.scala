package graft

import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.operators.{TwseAnalytics, TwsePipeline}

/** Golden-scenario tests for the reference pipeline surface — the
  * reference's manual test plan (README.md:545-552), automated.
  */
class TwsePipelineSpec extends SparkTestBase {

  test("flagship produces exactly the golden investment_data row") {
    val rows = TwsePipeline.flagship(spark).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("dt") === "20220819")
    assert(r.getAs[String]("dealer_buy") === "2279109983")
    assert(r.getAs[String]("foreign_dif") === "-7298108131")
    assert(TwsePipeline.flagship(spark).columns.toSeq === Schemas.investmentCols)
  }

  test("market-closed scenario yields no rows anywhere downstream") {
    val closedDates = TwsePipeline.open(spark)
      .filter(col("date") === "20220820").count()
    assert(closedDates === 0)
  }

  test("drift scenario routes to alert, not insert") {
    val branches = TwsePipeline.branchArity(spark)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(branches === Map("20220819" -> "insert_data", "20100106" -> "alert"))
    // no alert row on success days (Airflow skip semantics, not when/otherwise)
    val alerts = TwsePipeline.notifyAlert(spark).collect()
    assert(alerts.map(_.getString(0)).toSeq === Seq("20100106"))
  }

  test("routedFrom routes like branchMarket/branchArity, ANSI-safe on edge payloads") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    def table(rows: Seq[String]*): String =
      rows.map(_.map(v => "\"" + v + "\"").mkString("[", ",", "]")).mkString("[", ",", "]")
    def payload(date: String, stat: String, data: String): String =
      s"""{"stat":$stat,"date":"$date","data":$data}"""
    val row = Seq("x", "1,000", "2", "3")
    val total = Seq("合計", "9", "9", "9")
    val edges = Seq(
      payload("20300101", "null", table(row, total)),
      payload("20300102", "\"OK\"", "null"),
      payload("20300103", "\"OK\"", table(row, row, row, Seq("x", "1", "2"), total)), // 11
      payload("20300104", "\"OK\"", table(row, row, row, row, Seq("x", "1"), total)), // 13
      payload("20300105", "\"OK\"", // ragged widths, empty and label-only rows
        table(Seq(), Seq("x"), row, Seq("x", "1", "2", "3", "4", "5", "6", "7"), total)),
      payload("20300106", "\"OK\"", "[]"),
      payload("20300107", "\"closed\"", "[]"))
    val parsed = TwsePipeline.parsed(spark).unionByName(edges.toDF("body")
      .select(from_json(col("body"), Schemas.twsePayload).as("p")).select(col("p.*")))
    def pairs(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val routed = TwsePipeline.routedFrom(parsed)
    val routes = pairs(routed.select(col("date"), col("route")))
    val arity = pairs(TwsePipeline.branchArityFrom(parsed))
    val want = pairs(TwsePipeline.branchMarketFrom(parsed)).map {
      case (d, "do_nothing") => d -> "do_nothing"
      case (d, _) => d -> arity(d)
    }
    assert(routes.size === 3 + edges.size)
    assert(routes === want)
    assert(routes === Map(
      "20220819" -> "insert_data", "20220820" -> "do_nothing", "20100106" -> "alert",
      "20300101" -> "do_nothing", "20300102" -> "alert", "20300103" -> "alert",
      "20300104" -> "alert", "20300105" -> "alert", "20300106" -> "alert",
      "20300107" -> "do_nothing"))
    // the insert_data rows pivot to exactly the flagship row
    val wide = TwsePipeline.pivotWide(routed.filter(col("route") === "insert_data"))
    assert(canon(wide) === canon(TwsePipeline.flagship(spark)))
  }

  test("validation split is a partition of the open payloads") {
    val all = TwsePipeline.validated(spark).count()
    val v = TwsePipeline.valid(spark).count()
    val i = TwsePipeline.invalid(spark).count()
    assert(v + i === all)
    assert(v === 1 && i === 1)
  }

  test("cleaned vector preserves row-major order (ipynb cell-5)") {
    val vec = TwsePipeline.cleaned(spark)
      .filter(col("date") === "20220819")
      .select(col("vec")).collect().head.getSeq[String](0)
    assert(vec === Seq(
      "2279109983", "1817670433", "461439550",
      "5567838537", "5073450525", "494388012",
      "4094216360", "2519550872", "1574665488",
      "52999169995", "60297278126", "-7298108131"))
  }

  test("G3: the task retry budget mirrors the reference's retries=2") {
    // Final_app.py:18-19 — retries: 2, i.e. 3 total attempts per task.
    assert(spark.sparkContext.getConf.get("spark.task.maxFailures") === "3")
  }

  test("sign-math consistency: dif = buy - sell for every institution row") {
    val bad = TwseAnalytics.signMath(spark).filter(!col("consistent")).count()
    assert(bad === 0)
  }

  test("exact casts never lose digits (decimal internally, int64 out)") {
    val r = TwseAnalytics.castExact(spark).collect().head
    assert(r.getAs[Long]("foreign_buy") === 52999169995L)
    // final projection is hash-canonical BIGINT (magnitudes ≤ 11 digits)
    val types = TwseAnalytics.castExact(spark).schema.fields.tail.map(_.dataType.sql).distinct
    assert(types.toSeq === Seq("BIGINT"))
  }

  test("A1 live mode: the DSv2 source performs real per-partition HTTP fetches") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    server.createContext("/BFI82U", (ex: HttpExchange) => {
      val q = ex.getRequestURI.getQuery
      val dt = q.split("&").find(_.startsWith("dayDate=")).get.drop("dayDate=".length)
      hits.merge(dt, 1, (a, b) => a + b)
      val body = graft.sources.TwseFixtureSource.days.toMap.apply(dt).getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/BFI82U"
      val live = spark.read.format("graft.sources.TwseFixtureSource")
        .option("baseUrl", base).load()
      val fix = spark.read.format("graft.sources.TwseFixtureSource").load()
      // live fetches return byte-identical payloads through the same plan
      assert(live.orderBy("dt").collect().toSeq === fix.orderBy("dt").collect().toSeq)
      assert(hits.keySet().size === 3) // one GET per day-partition
    } finally server.stop(0)
  }

  test("JDBC store: DDL + append + readback; partitioned read splits 4 ways") {
    val r = graft.sources.JdbcStore.roundtrip(spark).collect()
    assert(r.length === 1)
    assert(r.head.getAs[String]("foreign_buy") === "52999169995")
    val p = graft.sources.JdbcStore.eventsDailyPartitioned(spark, sf())
    assert(p.rdd.getNumPartitions === 4) // four concurrent range scans
    assert(p.count() > 0)
  }

  test("sink roundtrip: append then readback returns the written row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val back = TwsePipeline.sinkRoundtrip(spark, s"$dir/t")
    assert(back.count() === 1)
    assert(back.columns.toSeq.sorted === Schemas.investmentCols.sorted)
  }
}

/** Property tests for the clean-transform algebra (scalacheck generators,
  * evaluated in one batched Spark pass per property — not per-case jobs).
  */
class TwsePropertySpec extends SparkTestBase {
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val grouped: Gen[String] = for {
    sign <- Gen.oneOf("", "-")
    groups <- Gen.choose(1, 4)
    head <- Gen.choose(1, 999)
    tail <- Gen.listOfN(groups - 1, Gen.choose(0, 999).map(n => f"$n%03d"))
  } yield sign + (head.toString +: tail).mkString(",")

  test("strip-commas removes exactly the separators (100 generated amounts)") {
    import spark.implicits._
    val in = samples(grouped, 100)
    val out = in.toDF("v")
      .select(regexp_replace(col("v"), ",", "").as("s"))
      .as[String].collect()
    assert(out.toSeq === in.map(_.replace(",", "")))
  }

  test("flatten preserves row-major order for arbitrary ragged tables") {
    import spark.implicits._
    val tables: Seq[Seq[Seq[String]]] = (0 until 50).map { i =>
      val r = new scala.util.Random(42 + i)
      Seq.fill(1 + r.nextInt(5))(Seq.fill(1 + r.nextInt(4))(r.nextInt(1000).toString))
    }
    val out = tables.toDF("t")
      .select(flatten(col("t")).as("f")).as[Seq[String]].collect()
    assert(out.toSeq === tables.map(_.flatten))
  }

  test("validation split is always a disjoint partition") {
    import spark.implicits._
    val vecs = (0 until 100).map { i =>
      val r = new scala.util.Random(7 * i)
      Seq.fill(r.nextInt(20))(r.nextInt(100).toString)
    }
    val df = vecs.toDF("vec").withColumn("ok", size(col("vec")) === 12)
    val v = df.filter(col("ok")).count()
    val inv = df.filter(!col("ok")).count()
    assert(v + inv === 100)
  }
}
