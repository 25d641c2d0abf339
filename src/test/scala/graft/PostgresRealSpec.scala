package graft

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll

import graft.model.Schemas

/** The reference's system of record is PostgreSQL 13
  * (`docker-compose.yml:64-73`, DDL `database/sql/create_table.sql:2-16`).
  * The sandbox has no Postgres JDBC driver jar (offline resolver), so the
  * Spark JDBC codepath is exercised live against embedded Derby with the
  * PostgresDialect mapping spec-pinned (PostgresDialectSpec) — but the
  * container DOES ship a real PostgreSQL 15 server. This suite closes the
  * "real Postgres never executed" gap through the psql wire path: a real
  * initdb'd server (unix socket, no TCP) validates that the engine's DDL
  * text and its RENDERED INSERT statement (the q_sql_templating output —
  * byte-for-byte what the reference's Jinja templating produces) parse,
  * execute, and round-trip on the actual target engine, not just on
  * stand-ins, and a real `DailyApp` tick appends into the reference DDL
  * through a psql-backed append target. Postgres refuses to run as root,
  * so every server-side command runs as `nobody` over a world-writable
  * state dir.
  */
class PostgresRealSpec extends SparkTestBase with BeforeAndAfterAll {

  private val base = "/tmp/graft_pg_real"
  private val dataDir = s"$base/data"

  private def run(cmd: Seq[String]): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(new java.io.File("/tmp"))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    (p.waitFor(), out)
  }

  private def asNobody(cmd: String): (Int, String) =
    run(Seq("su", "nobody", "-s", "/bin/bash", "-c", cmd))

  /** Run a SQL file through psql with ON_ERROR_STOP; returns stdout in
    * tuples-only pipe-separated form.
    */
  private def psqlFile(sqlPath: String): (Int, String) =
    asNobody(s"psql -h $base -d postgres -v ON_ERROR_STOP=1 -tA -F '|' -f $sqlPath")

  private def psql(sql: String): (Int, String) = {
    val f = Files.createTempFile(Paths.get("/tmp"), "graft_pg_", ".sql")
    Files.writeString(f, sql)
    f.toFile.setReadable(true, false)
    try psqlFile(f.toString) finally Files.delete(f)
  }

  private lazy val available: Boolean =
    run(Seq("which", "initdb"))._1 == 0 &&
      run(Seq("which", "pg_ctl"))._1 == 0 &&
      run(Seq("which", "psql"))._1 == 0 &&
      run(Seq("id", "nobody"))._1 == 0

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (available) {
      if (asNobody(s"pg_ctl -D $dataDir status")._1 != 0) {
        run(Seq("rm", "-rf", base))
        Files.createDirectories(Paths.get(base))
        new java.io.File(base).setWritable(true, false)
        new java.io.File(base).setExecutable(true, false)
        val (ic, iout) = asNobody(s"initdb -D $dataDir -A trust")
        assert(ic == 0, s"initdb failed:\n$iout")
        // unix-socket only: -h '' disables TCP, no port to collide on
        val (sc, sout) = asNobody(
          s"""pg_ctl -D $dataDir -o '-k $base -h ""' -l $base/log -w start""")
        assert(sc == 0, s"pg_ctl start failed:\n$sout")
      }
      psql("DROP TABLE IF EXISTS investment_data")
    }
  }

  override def afterAll(): Unit = {
    if (available) asNobody(s"pg_ctl -D $dataDir -m fast stop")
    super.afterAll()
  }

  private def ddl: String =
    s"CREATE TABLE IF NOT EXISTS investment_data (" +
      Schemas.investmentCols.map(c => s"$c TEXT NOT NULL").mkString(", ") + ")"

  test("reference DDL applies idempotently on a real Postgres 15") {
    assume(available, "postgres binaries or nobody user missing")
    val (c1, o1) = psql(ddl)
    assert(c1 == 0, s"DDL failed:\n$o1")
    val (c2, o2) = psql(ddl) // IF NOT EXISTS: second apply is a no-op
    assert(c2 == 0, s"repeat DDL failed:\n$o2")
    val (c3, cols) = psql(
      """SELECT column_name, data_type FROM information_schema.columns
        |WHERE table_name = 'investment_data' ORDER BY ordinal_position""".stripMargin)
    assert(c3 == 0)
    val parsed = cols.trim.split("\n").toSeq.map(_.split("\\|").toSeq)
    assert(parsed.map(_.head) == Schemas.investmentCols,
      s"column order must match the reference DDL: $parsed")
    assert(parsed.forall(_(1) == "text"),
      s"all 13 columns are TEXT in the reference: $parsed")
  }

  test("the engine-rendered INSERT round-trips the golden row through psql") {
    assume(available, "postgres binaries or nobody user missing")
    psql(ddl)
    psql("DELETE FROM investment_data")
    // byte-for-byte the statement the reference's Jinja templating renders
    val rendered = SparkEntry.queries("q_sql_templating")(spark, sf())
      .head.getString(0)
    assert(rendered.startsWith("INSERT INTO investment_data("))
    val (ic, iout) = psql(rendered)
    assert(ic == 0, s"rendered INSERT rejected by real Postgres:\n$iout")
    val (rc, rows) = psql(
      s"SELECT ${Schemas.investmentCols.mkString(", ")} FROM investment_data")
    assert(rc == 0)
    val got = rows.trim.split("\\|").toSeq
    val expected = graft.operators.TwsePipeline.flagship(spark)
      .head.toSeq.map(String.valueOf)
    assert(got == expected,
      s"readback must equal the flagship golden row: $got vs $expected")
  }

  /** The reference table on the live server as a tick's append target,
    * through psql: `held` is a `dt IN (...)` SELECT, `append` runs the
    * engine-rendered INSERT of each row (the q_sql_templating rendering).
    */
  private object LiveTable extends DailyApp.AppendTarget {
    def held(dates: Seq[String]): Set[String] = {
      val (rc, out) = psql("SELECT dt FROM investment_data WHERE dt IN (" +
        dates.map(d => s"'$d'").mkString(", ") + ")")
      assert(rc == 0, out)
      out.linesIterator.map(_.trim).filter(_.nonEmpty).toSet
    }
    def append(rows: org.apache.spark.sql.DataFrame): Unit = {
      val inserts = graft.operators.TwsePipeline.insertSql(rows).collect().map(_.getString(0))
      val (rc, out) = psql(inserts.mkString("", ";\n", ";"))
      assert(rc == 0, s"INSERT rejected by real Postgres:\n$out")
    }
  }

  test("a DailyApp tick appends exactly once into the reference DDL on a " +
      "real Postgres (full and partial replay)") {
    assume(available, "postgres binaries or nobody user missing")
    psql("DROP TABLE IF EXISTS investment_data")
    val (cc, co) = psql(ddl) // the reference DDL as-is: no bookkeeping column
    assert(cc == 0, s"create failed:\n$co")
    def rows(): Seq[String] = {
      val (rc, out) = psql(s"SELECT ${Schemas.investmentCols.mkString(", ")} FROM investment_data")
      assert(rc == 0, out)
      out.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    }
    // the same replay cases the parquet and Derby targets pass
    val live = DailyAppSpec.replayCases(spark, _ => LiveTable, _ => rows())
    val viaParquet = DailyAppSpec.replayCases(spark,
      cfg => DailyApp.ParquetTarget(spark, cfg.table),
      cfg => DailyAppSpec.canonRows(spark.read.parquet(cfg.table.toString)))
    assert(live === viaParquet)
  }
}
