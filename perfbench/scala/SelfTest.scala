package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** Checks of the benchmark's own helpers, run by `test_perfbench.py`:
  * generator determinism (same seed → byte-identical tables and
  * payloads, a second seed → different ones), fingerprint row-order
  * independence, and the loopback server's routes.
  */
object SelfTest {
  def run(tmp: Path): Int = {
    val spark = Harness.session(tmp.resolve("session"), 2)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
      println(s"${if (pass) "PASS" else "FAIL"} $name")
      if (!pass) failures += name
    }
    def bytes(dir: Path): Map[String, Seq[Byte]] =
      graft.FsUtil.listDir(dir).filter(_.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

    val sf = 0.0005
    Seq("a" -> 7L, "b" -> 7L, "c" -> 8L).foreach { case (d, seed) =>
      DataGen.tables(spark, tmp.resolve(d), sf, seed)
    }
    val (a, b, c) = (bytes(tmp.resolve("a")), bytes(tmp.resolve("b")), bytes(tmp.resolve("c")))
    check("tables: ten tables written") { a.size == 10 }
    check("tables: same seed gives byte-identical files") { a == b }
    check("tables: second seed gives different files") {
      Seq("lineitem.parquet", "documents.parquet", "events.parquet").forall(t => a(t) != c(t))
    }
    check("tables: row counts follow sf") {
      DataGen.counts(sf).forall { case (t, n) =>
        spark.read.parquet(tmp.resolve("a").resolve(s"$t.parquet").toString).count() == n
      }
    }

    val p1 = DataGen.TwsePayloads.days(7, 42)
    val p2 = DataGen.TwsePayloads.days(7, 42)
    val p3 = DataGen.TwsePayloads.days(8, 42)
    check("payloads: same seed gives byte-identical bodies") {
      p1.map(_.body.getBytes("UTF-8").toSeq) == p2.map(_.body.getBytes("UTF-8").toSeq)
    }
    check("payloads: second seed gives different bodies") { p1.map(_.body) != p3.map(_.body) }
    check("payloads: weekends closed, one drift weekday per fortnight, other weekdays open") {
      val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
      p1.forall(d => (d.shape == "closed") ==
          DataGen.TwsePayloads.weekend(java.time.LocalDate.parse(d.date, fmt))) &&
        p1.grouped(DataGen.TwsePayloads.Fortnight).forall(_.count(_.shape == "drift") == 1)
    }
    check("payloads: open days carry comma-grouped amounts the pipeline cleans to 12 values") {
      import spark.implicits._
      val open = p1.filter(_.shape == "open")
      val parsed = spark.read.schema(graft.model.Schemas.twsePayload).json(open.map(_.body).toDS())
      val rows = graft.operators.TwsePipeline.pivotWide(
        graft.operators.TwsePipeline.validatedFrom(parsed).filter(col("arity_ok")))
        .collect().map(r => (0 until r.length).map(r.getString).toSeq).toSet
      open.forall(_.body.contains(",")) && rows == open.flatMap(_.expectedRow).toSet
    }

    val df = spark.range(0, 500).select(col("id"), (col("id") * 0.1).as("x"),
      array(col("id"), col("id") + 1).as("arr"), concat(lit("k"), col("id")).as("s"))
    val fp = Fingerprint.of(df)
    check("fingerprint: independent of row order and partitioning") {
      fp == Fingerprint.of(df.orderBy(col("id").desc)) &&
        fp == Fingerprint.of(df.repartition(7, col("s")))
    }
    check("fingerprint: a changed, dropped or duplicated row changes it") {
      Seq(df.withColumn("x", when(col("id") === 3, 0.5).otherwise(col("x"))),
        df.filter(col("id") =!= 9), df.union(df.filter(col("id") === 9)))
        .forall(d => Fingerprint.of(d) != fp)
    }
    check("fingerprint: summation-order noise in doubles does not change it") {
      Fingerprint.canon(0.1 + 0.2 + 0.3) == Fingerprint.canon(0.3 + 0.2 + 0.1)
    }

    val server = new DailyServer(p1.map(d => d.date -> d).toMap)
    try {
      check("server: serves the generated payload and counts the fetch") {
        graft.sources.TwseFixtureSource.fetch(
          s"${server.fetchUrl}?response=json&dayDate=${p1(3).date}") == p1(3).body &&
          server.fetches.get == 1
      }
      check("server: unknown day and path are 404s counted as bad routes") {
        Seq(s"${server.fetchUrl}?dayDate=19000101", s"${server.base}/nope").forall { u =>
          scala.util.Try(graft.sources.TwseFixtureSource.fetch(u)).isFailure
        } && server.badRoutes.get == 2
      }
    } finally server.stop()

    println(s"selftest: ${failures.size} failed")
    if (failures.isEmpty) 0 else 1
  }
}
