package graft.tools

import org.apache.spark.sql.catalyst.TableIdentifier

import graft.operators.Dedup

/** Cross-JVM managed-table persistence check — run twice against the
  * same work dir from SEPARATE processes:
  *
  * {{{
  *   runMain graft.tools.MetastoreCheck seed  /work /root/testdata/sf0.001
  *   runMain graft.tools.MetastoreCheck probe /work /root/testdata/sf0.001
  * }}}
  *
  * Each invocation builds its own SparkSession against a Derby-backed
  * HIVE metastore rooted at `<workDir>/metastore_db` (the embedded
  * stand-in for the Hive metastore / Glue / Unity catalog a production
  * deployment points `spark.sql.catalogImplementation=hive` at). The
  * seed run pays `ensureBandIndex`'s corpus scan once; the probe run —
  * a FRESH JVM — must find the table already in the catalog, pass the
  * content-fingerprint staleness gate, and reuse the index with ZERO
  * rewrite. `MetastoreSpec` drives both as child processes and asserts
  * the table's data files are byte-identical across the two runs.
  *
  * Emits machine-readable `GRAFT_MS key=value` lines on stdout.
  */
object MetastoreCheck {
  def main(args: Array[String]): Unit = {
    val Array(mode, workDir, sfDir) = args.take(3)
    val spark = graft.GraftSession.start(
      graft.GraftSession.local(s"graft-metastore-$mode", 4) ++ Map(
        "spark.sql.warehouse.dir" -> s"$workDir/warehouse",
        "spark.hadoop.javax.jdo.option.ConnectionURL" ->
          s"jdbc:derby:;databaseName=$workDir/metastore_db;create=true"),
      hive = true)
    try {
      val bound = 450L
      val table = Dedup.bandIndexTable(sfDir, bound)
      // does THIS fresh JVM's catalog already know the table? (in-memory
      // catalog: never; Derby-backed metastore: yes after a seed run)
      println(s"GRAFT_MS exists_before=${spark.catalog.tableExists(table)}")
      val t = Dedup.ensureBandIndex(spark, sfDir, bound)
      val loc = new java.net.URI(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(t)).location.toString).getPath
      val files = graft.FsUtil.listDir(java.nio.file.Paths.get(loc))
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}")
        .sorted.mkString(",")
      println(s"GRAFT_MS files=$files")
      if (mode == "probe") {
        val n = Dedup.dedupIncremental(spark, sfDir, bound).count()
        println(s"GRAFT_MS probe_rows=$n")
      }
    } finally spark.stop()
  }
}
