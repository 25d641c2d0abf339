package graft.tools

import java.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Adversarial fixture regeneration (multi-seed fuzz): rebuilds the
  * three DATA-DEPENDENT tables — `documents`, `embeddings`, `events` —
  * under a fresh RNG seed with the exact driver schemas
  * (TESTDATA.md), and file-copies the untouched TPC-H star from the
  * source sf dir. The fixed testdata has been stable for eight rounds;
  * tie-break and rounding discipline (dedup band boundaries, quantile
  * interpolation, window frame ties, sampling strata) deserve inputs
  * they were never tuned on. Each seed dir is a drop-in `sfDir`: the
  * full Verify + DuckDB oracle gate runs against it unchanged.
  *
  * Distributional shape mirrors the driver fixtures (measured at
  * sf0.01): ~30-word vocabulary word-salad docs, 5 langs / 20 sources,
  * planted near-duplicate pairs (~8% of docs are a mutated copy of an
  * earlier doc — the LSH/minhash recall surface), 64-dim embeddings in
  * 10 label clusters, 10 k events over 30 days × 150 users × 5 types
  * with 2-decimal values and one-key JSON props. Values are NOT the
  * driver's — that is the point.
  *
  * Usage: runMain graft.tools.SeedGen <srcSfDir> <outDir> <seed>
  */
object SeedGen {

  private val vocab = Array(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "window", "spark", "order", "data", "column",
    "join", "small", "line", "customer", "query", "big", "stream", "sort",
    "group", "filter", "vector", "the", "a", "plan", "stage")

  def main(args: Array[String]): Unit = {
    val Array(src, out, seedStr) = args.take(3)
    val seed = seedStr.toLong
    val marker = new java.io.File(out, "_SEEDGEN_OK")
    val tag = s"$src seed=$seed"
    if (marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == tag) {
      println(s"SEEDGEN reuse $out ($tag)")
      return
    }
    val spark = graft.GraftSession.start(graft.GraftSession.local("graft-seedgen", 8))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    // untouched tables: byte-copy from the source sf dir (single files)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      val s = java.nio.file.Paths.get(src, s"$t.parquet")
      // Files.copy of a DIRECTORY creates an empty dir and both engines
      // would read the same empty table — the gate would pass vacuously.
      // Dir-based layouts (ScaleUp's writeDir output) are not supported
      // as a seed source; fail loudly instead of silently dropping rows.
      require(java.nio.file.Files.isRegularFile(s),
        s"seed source $s must be a single parquet file (dir layouts unsupported)")
      val d = java.nio.file.Paths.get(out, s"$t.parquet")
      java.nio.file.Files.copy(s, d,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    val rnd = new Random(seed)
    def writeFile(rows: Seq[Row], schema: StructType, t: String): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema)
      val tmp = java.nio.file.Paths.get(out, s"_build_$t")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val partF = graft.FsUtil.singleParquetPart(tmp)
      val dst = java.nio.file.Paths.get(out, s"$t.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(partF, dst)
      graft.FsUtil.listDir(tmp).foreach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(tmp)
      println(s"SEEDGEN wrote $t (${rows.size} rows)")
    }

    // ---- documents: 500 word-salad docs, planted near-dup pairs ----
    val langs = Array("en", "en", "en", "en", "zh", "de", "fr", "es")
    val nDocs = 500
    val texts = new Array[String](nDocs)
    val docRows = (0 until nDocs).map { i =>
      val text =
        if (i >= 40 && rnd.nextDouble() < 0.08) {
          // near-dup: mutate ~3% of an earlier doc's words
          val base = texts(rnd.nextInt(i)).split(" ")
          base.map(w => if (rnd.nextDouble() < 0.03)
            vocab(rnd.nextInt(vocab.length)) else w).mkString(" ")
        } else {
          val n = 20 + rnd.nextInt(80)
          (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
        }
      texts(i) = text
      Row(i.toLong, text, langs(rnd.nextInt(langs.length)),
        s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    writeFile(docRows, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), "documents")

    // ---- embeddings: 64-dim, 10 Gaussian clusters ----
    val dim = 64
    val centroids = Array.fill(10, dim)((rnd.nextDouble() - 0.5) * 0.3)
    val embRows = (0 until 500).map { i =>
      val label = rnd.nextInt(10)
      val v = (0 until dim).map(j =>
        (centroids(label)(j) + rnd.nextGaussian() * 0.08).toFloat)
      Row(i.toLong, v, label)
    }
    writeFile(embRows, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))), "embeddings")

    // ---- events: 10 k over 30 days × 150 users × 5 types ----
    val types = Array("click", "view", "signup", "purchase", "error")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val evRows = (0 until 10000).map { i =>
      val ts = t0.plusNanos(
        (rnd.nextDouble() * 30L * 86400 * 1000000L).toLong * 1000L)
      // zipf-ish user skew: square a uniform draw
      val u = (rnd.nextDouble() * rnd.nextDouble() * 150).toInt.min(149)
      val v = math.rint((0.01 + rnd.nextDouble() * 450) * 100) / 100.0
      Row(i.toLong, java.sql.Timestamp.from(ts), u.toLong,
        types(rnd.nextInt(types.length)), v,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    writeFile(evRows, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      "events")

    java.nio.file.Files.write(marker.toPath, tag.getBytes)
    println(s"SEEDGEN done: $out ($tag)")
    spark.stop()
  }
}
