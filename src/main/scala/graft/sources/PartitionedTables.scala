package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftConf, Staging}

/** Partition-pruned fact layouts — the "at 100 TB these become
  * partitioned scans" promise in [[Tables]] made real: `orders` and
  * `lineitem` staged month-partitioned on their date column, `events`
  * day-partitioned on `ts`. A date-band query against these reads ONLY
  * the matching partition directories (`PartitionFilters` at the file
  * listing, before any row or footer is touched), which is the
  * difference between scanning a year and scanning a month when the
  * corpus is 100 TB.
  *
  * ROUTING IS SIZE-GATED. Partition pruning pays when the bytes it
  * skips dwarf the fixed cost it adds (directory listing + one task
  * per partition file); below that the flat single-file scan wins —
  * measured at sf0.1, routing q3 through the 84-directory layout was
  * 0.7 s SLOWER than the 10 MB flat scan it replaced. So each accessor
  * returns the partitioned layout only when the base table is at least
  * `graft.layout.minBytes` (default 64 MB); under that it returns the
  * flat table with the SAME partition column derived per-row, so
  * consumers are layout-agnostic: their coarse band predicate is a
  * directory prune on the staged path and a cheap row filter on the
  * flat path. At 100 TB every fact table clears the gate and always
  * routes partitioned; the gate exists so the layout never costs more
  * than it saves at the small end. Tests pin the staged plan shape by
  * setting the conf to 0.
  *
  * Staging is idempotent per base table (one layout rewrite, amortized
  * across every subsequent query — the bucketed-table discipline) and
  * atomic: [[graft.Staging]] keys the layout on the data dir and the
  * table's FS fingerprint and publishes it by one rename, so a concurrent
  * bench/verify process sees the complete layout or none. The partition
  * value is a ZERO-PADDED string (`yyyy-MM` / `yyyy-MM-dd`), so
  * lexicographic comparisons equal chronological ones and range
  * predicates prune directly.
  *
  * The staging write is SKEW-SAFE: rows are range-partitioned on
  * (partition column, intra-partition key), so one hot month splits
  * across many write tasks instead of funneling through one — a
  * `repartition(col(partCol))` would hand a 1.2 TB month to a single
  * task at 100 TB. `maxRecordsPerFile` bounds each output file, so a
  * partition's file count grows with its data and no file exceeds the
  * scan-friendly size.
  *
  * Usage contract: a consumer keeps its EXACT row-level date predicate
  * and adds the coarse partition-column band alongside it — the
  * partition predicate prunes directories (staged path), the row
  * predicate keeps the semantics exact at the boundaries.
  */
object PartitionedTables {

  /** Rows per staged parquet file — bounds file size regardless of how
    * many rows a write task holds (~600 MB at TPC-H fact row widths).
    */
  private val MaxRecordsPerFile = 4L * 1000 * 1000

  /** Stage `df` partitioned by `partCol` through [[graft.Staging]], keyed
    * on the base table; returns the read-back DataFrame (partition column
    * appears as a string column). `splitKey` spreads a single partition
    * value across write tasks (range partitioning on the pair).
    */
  private def staged(spark: SparkSession, sfDir: String, table: String,
      name: String, partCol: String, splitKey: Column, df: => DataFrame): DataFrame =
    Tables.parquet(spark, Staging.derived(spark, s"pt_$name", sfDir,
        Seq(s"$sfDir/$table.parquet")) { build =>
      df.repartitionByRange(spark.sessionState.conf.numShufflePartitions,
          col(partCol), splitKey)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MaxRecordsPerFile)
        .partitionBy(partCol)
        .parquet(build)
    })

  private def routed(spark: SparkSession, sfDir: String, table: String,
      name: String, partCol: String, partExpr: Column, splitKey: Column,
      flat: => DataFrame): DataFrame = {
    // no missing-table case: each caller's flat form reads the same table
    if (Tables.fsFingerprint(spark, s"$sfDir/$table.parquet")._2 >=
        GraftConf.LayoutMinBytes(spark))
      staged(spark, sfDir, table, name, partCol, splitKey,
        flat.withColumn(partCol, partExpr))
    else flat.withColumn(partCol, partExpr)
  }

  /** `orders` + `o_month` (yyyy-MM of o_orderdate) partition column. */
  def ordersByMonth(spark: SparkSession, sfDir: String): DataFrame =
    routed(spark, sfDir, "orders", "orders_m", "o_month",
      date_format(col("o_orderdate"), "yyyy-MM"), col("o_orderkey"),
      Tables.orders(spark, sfDir))

  /** `lineitem` + `l_ship_month` (yyyy-MM of l_shipdate). */
  def lineitemByShipMonth(spark: SparkSession, sfDir: String): DataFrame =
    routed(spark, sfDir, "lineitem", "lineitem_m", "l_ship_month",
      date_format(col("l_shipdate"), "yyyy-MM"), col("l_orderkey"),
      Tables.lineitem(spark, sfDir))

  /** `events` + `e_day` (yyyy-MM-dd of ts). */
  def eventsByDay(spark: SparkSession, sfDir: String): DataFrame =
    routed(spark, sfDir, "events", "events_d", "e_day",
      date_format(col("ts"), "yyyy-MM-dd"), col("event_id"),
      Tables.events(spark, sfDir))
}
