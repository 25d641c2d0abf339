package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-step generator: replicates the sf0.1 testdata
  * `factor`× (default 10 → "sf1", ~6 M lineitem rows) so the full query
  * surface can be validated one decade above bench scale — the step
  * that surfaces broadcast-threshold flips, AQE skew behavior on real
  * volume, and per-key heavy hitters that sf0.1 cannot.
  *
  * Replication preserves every FK relationship by remapping keys with a
  * per-entity stride (stride = max(key)+1 from the source, same stride
  * applied to the referencing fact columns), so joins land exactly as
  * they do at sf0.1 — 10× the entities, identical per-entity shape.
  * Replica 0 is the identity. Content perturbation where identity
  * copies would distort an operator's semantics:
  *   - `documents.text` gets a per-replica affine cipher over the
  *     letters (i → a·i+b mod 26, a coprime to 26 — a bijective
  *     character map: intra-replica near-dup structure is EXACTLY
  *     preserved, while cross-replica shingle overlap — which would
  *     manufacture factor-wide near-dup clusters out of thin air —
  *     drops to zero). 12 multipliers × 26 shifts = 312 distinct maps,
  *     so factors up to 312 stay collision-free; replicas 0..25 use
  *     a=1 (pure rotation), keeping sf1 outputs bit-identical to the
  *     original Caesar scheme. Lengths unchanged, so n_chars stays
  *     truthful.
  *   - `embeddings.embedding` gets a small deterministic per-replica
  *     offset (cluster structure kept, exact cross-replica duplicate
  *     vectors avoided).
  * `events.ts` is re-written as plain INT64 nanos (Spark cannot write
  * parquet ns timestamps); Tables.events reads both encodings
  * identically via nanosAsLong + `ts div 1000`.
  *
  * Output layout: single FILES named `<table>.parquet` for small
  * tables and events; multi-file directories (same name) for
  * lineitem/orders always and for documents/embeddings from factor 60
  * up (~30 replicas per file — the production split shape; see the
  * inline note at the documents writer). Spark, DuckDB, and the
  * streaming stagers (hadoop `FileUtil.copy` recurses) all read both
  * shapes transparently.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    // staging writes tens of GB: reclaim stale crashed-run debris first
    if (sys.env.getOrElse("SPARK_GRAFT_RECLAIM", "1") != "0")
      Reclaim.sweep(): Unit
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val marker = new java.io.File(out, "_SCALEUP_OK")
    // the tag carries a LAYOUT VERSION: a staging produced by older code
    // (v-less: single-file documents/embeddings at factor ≥ 60 — the
    // round-12 "gopher 54.2 s" scan-parallelism pathology) must be
    // invalidated and restaged, not silently reused
    val tag = s"$src x$factor v2"
    if (marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == tag) {
      println(s"SCALEUP reuse $out ($tag)")
      return
    }
    // per-table resume: a crashed/killed run leaves complete tables
    // behind — rebuilding a 600 M-row lineitem to regain a missing
    // documents file wastes half an hour. The start tag says whether
    // existing outputs belong to THIS (src, factor); anything else is
    // wiped.
    val startTag = java.nio.file.Paths.get(out, "_SCALEUP_TAG")
    val resumable = java.nio.file.Files.exists(startTag) &&
      new String(java.nio.file.Files.readAllBytes(startTag)) == tag
    if (!resumable) {
      val root = java.nio.file.Paths.get(out)
      if (java.nio.file.Files.exists(root))
        graft.FsUtil.deleteRecursively(root)
      java.nio.file.Files.createDirectories(root)
      java.nio.file.Files.writeString(startTag, tag)
    }
    val spark = graft.GraftSession.start(graft.GraftSession.local("graft-scaleup", 16))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    def read(t: String) = graft.sources.Tables.parquet(spark, s"$src/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L

    // per-entity strides, computed once and shared with referencing FKs
    val custS = maxOf(read("customer"), "c_custkey")
    val suppS = maxOf(read("supplier"), "s_suppkey")
    val partS = maxOf(read("part"), "p_partkey")
    val orderS = maxOf(read("orders"), "o_orderkey")
    val eventS = maxOf(read("events"), "event_id")
    val userS = maxOf(read("events"), "user_id")
    val docS = maxOf(read("documents"), "doc_id")
    val vecS = maxOf(read("embeddings"), "vec_id")

    /** factor× explode with stride remaps; original column types kept.
      *
      * `spread` pre-shuffles the (tiny) base table across that many
      * tasks BEFORE the explode: the source fixtures are single-row-
      * group files, so a parquet scan of one is ONE task and without
      * the spread the whole factor× row generation runs single-
      * threaded (measured: the entire sf100 staging wall — 600 M
      * lineitem rows through one core). Shuffling base rows costs ~MBs;
      * the generated rows then never shuffle ([[writeDir]] with
      * preSpread writes the explode's own partitioning straight out).
      */
    def replicated(df: DataFrame, spread: Int,
        remaps: (String, Long)*): DataFrame = {
      val withRep = df.repartition(spread).withColumn("rep",
        explode(sequence(lit(0L), lit(factor - 1L))))
      remaps.foldLeft(withRep) { case (d, (c, stride)) =>
        d.withColumn(c,
          (col(c).cast("long") + col("rep") * stride)
            .cast(df.schema(c).dataType))
      }.drop("rep")
    }

    /** Write as ONE file named `<table>.parquet` (stagers file-copy it).
      * `viaShuffle` funnels through repartition(1) instead of
      * coalesce(1): coalesce collapses the UPSTREAM stage to one task
      * (un-doing a [[replicated]] spread), while repartition keeps the
      * explode parallel and single-threads only the final write — use
      * it for any replicated table big enough for generation to matter.
      */
    def writeFile(df: DataFrame, t: String,
        viaShuffle: Boolean = false): Unit = {
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(out, s"$t.parquet"))) {
        println(s"SCALEUP resume-skip $t"); return
      }
      val tmp = java.nio.file.Paths.get(out, s"_build_$t")
      val one = if (viaShuffle) df.repartition(1) else df.coalesce(1)
      one.write.mode("overwrite").parquet(tmp.toString)
      val part = graft.FsUtil.singleParquetPart(tmp)
      val dst = java.nio.file.Paths.get(out, s"$t.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part, dst)
      graft.FsUtil.listDir(tmp).foreach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(tmp)
      println(s"SCALEUP wrote $t (single file)")
    }

    /** Multi-file directory. `preSpread` writes the frame's existing
      * partitioning as-is (a [[replicated]] frame already carries
      * `files` partitions from its base spread — re-repartitioning
      * would shuffle the GENERATED rows, tens of GB at factor 1000).
      */
    def writeDir(df: DataFrame, t: String, files: Int,
        preSpread: Boolean = false): Unit = {
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(out, s"$t.parquet", "_SUCCESS"))) {
        println(s"SCALEUP resume-skip $t"); return
      }
      val shaped = if (preSpread) df else df.repartition(files)
      shaped.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"SCALEUP wrote $t ($files files)")
    }

    // dims replicate 1:1 (25 nations / 5 regions at ANY scale factor)
    writeFile(read("region"), "region")
    writeFile(read("nation"), "nation")

    writeFile(replicated(read("customer"), 16, "c_custkey" -> custS),
      "customer", viaShuffle = true)
    writeFile(replicated(read("supplier"), 16, "s_suppkey" -> suppS),
      "supplier", viaShuffle = true)
    writeFile(replicated(read("part"), 16, "p_partkey" -> partS),
      "part", viaShuffle = true)
    val ordersFiles = math.max(4, 4 * factor / 10)
    writeDir(replicated(read("orders"), ordersFiles,
      "o_orderkey" -> orderS, "o_custkey" -> custS), "orders",
      ordersFiles, preSpread = true)
    val liFiles = math.max(8, 8 * factor / 10)
    writeDir(replicated(read("lineitem"), liFiles,
      "l_orderkey" -> orderS, "l_partkey" -> partS, "l_suppkey" -> suppS),
      "lineitem", liFiles, preSpread = true)
    writeFile(replicated(read("events"), 16,
      "event_id" -> eventS, "user_id" -> userS), "events",
      viaShuffle = true)

    // documents: per-replica affine cipher (bijective char map).
    // Replica r → (a, b) = (coprime[(r/26) % 12], r % 26); i ↦ a·i+b
    // mod 26. a=1 for r<26 reproduces the original Caesar rotation
    // exactly, so existing sf1 markers stay valid.
    // 312 distinct affine maps exist; beyond that the (r/26, r%26)
    // derivation CYCLES with period 312, so replicas r and r+312 carry
    // IDENTICAL text — bounded exact-duplicate groups of ⌈factor/312⌉
    // documents, the realistic kind of duplication (real corpora are
    // full of exact copies), never manufactured cross-replica NEAR-dup
    // noise (every colliding pair is a byte-identical clone, which
    // every dedup operator already models). Surface it rather than cap.
    if (factor > 312)
      println(s"SCALEUP note: $factor replicas cycle 312 affine maps — " +
        s"exact-duplicate groups of ${(factor + 311) / 312} per document")
    val docs = read("documents")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val coprimes = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def affine(s: String, r: Int): String = {
      val a = coprimes((r / 26) % coprimes.length)
      val b = r % 26
      (0 until 26).map(i => s((a * i + b) % 26)).mkString
    }
    val docReps = (0 until factor).map { r =>
      val text =
        if (r == 0) col("text")
        else translate(col("text"),
          lower + lower.toUpperCase,
          affine(lower, r) + affine(lower.toUpperCase, r))
      docs.select((col("doc_id") + lit(r * docS)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }
    // PRODUCTION SPLIT SHAPE (the round-12 probe lesson): a parquet scan
    // parallelizes at most one task per row group, and a coalesce(1)
    // single file carries only a handful of them — the sf100 one-file
    // documents fixture fed 32 cores from a ≤5-task scan and inflated
    // every doc-family ratio until it was restaged as a 33-file dir
    // (gopher 54.2→16.9 s, same code). A real 100 TB corpus arrives in
    // thousands of files; stage the scaled twins the same way. ~30
    // replicas per file keeps files tens-of-MB-sized at any factor.
    val corpusFiles = math.max(1, factor / 30)
    // The replica union carries `factor` upstream partitions (one
    // single-row-group scan each), so when there are enough of them to
    // keep every core busy, coalesce merges ~30 adjacent replicas per
    // output file WITHOUT shuffling the generated rows — the writeDir
    // preSpread discipline (repartition(corpusFiles) would full-shuffle
    // tens of GB at factor 1000). Below that, coalesce would throttle
    // generation parallelism under the core count, and the rows being
    // shuffled are small — keep the repartition.
    def writeCorpus(df: DataFrame, t: String): Unit =
      if (corpusFiles >= 16) // = local[16] staging cores
        writeDir(df.coalesce(corpusFiles), t, corpusFiles, preSpread = true)
      else if (corpusFiles > 1) writeDir(df, t, corpusFiles)
      else writeFile(df, t)
    writeCorpus(docReps.reduce(_ unionByName _), "documents")

    // embeddings: small deterministic per-replica offset
    val emb = read("embeddings")
    val embReps = (0 until factor).map { r =>
      val vid = (col("vec_id") + lit(r * vecS)).as("vec_id")
      val vec =
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x + (pmod(col("vec_id") + i.cast("long"), lit(7L)).cast("double")
            - lit(3.0)) * lit(r * 0.0005)).cast("float"))
      emb.select(vid, vec.as("embedding"), col("label"))
    }
    writeCorpus(embReps.reduce(_ unionByName _), "embeddings")

    java.nio.file.Files.write(marker.toPath, tag.getBytes)
    println(s"SCALEUP done: $out ($tag)")
    spark.stop()
  }
}
