package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftConf, GraftSession}
import graft.functions.TextFunctions._
import graft.Checkpoints.TruncateOps
import graft.sources.Tables

/** Deduplication operators over the `documents` corpus — the core of a
  * training-data pipeline. Hash groups ([[exact]], [[near]]) are one
  * shuffle on a short key. The near-dup keys split into candidate
  * GENERATORS feeding one exact VERIFIER per score:
  *
  *   - generators: the stop-capped postings self-join
  *     ([[sharedKeyCount]]), minhash-LSH band buckets, simhash prefix
  *     blocks, the prefix-filter index, their successor-capped twins
  *     ([[cappedBlockPairs]]) and the min-wise inclusion ensemble;
  *   - verifiers: Jaccard ≥ 0.8 ([[jaccard]]) and containment ≥ 0.9 from
  *     the smaller side ([[containmentScore]], oriented by
  *     [[smallerFirst]]), on candidate pairs joined to their documents'
  *     columns by [[pairSides]] after the [[pruneToParticipants]] gate.
  *
  * Scale shape: signatures, band keys and fingerprints are computed
  * per row (narrow), and only those short keys — a few dozen bytes per
  * document, not the text — flow into the generators' shuffles.
  * Verification runs only on candidate pairs, never all-pairs.
  */
object Dedup {

  /** Thrown by the exact-generator fail-fast gate (see
    * [[gateExactGenerator]]). A dedicated type so harnesses can tell a
    * DESIGNED refusal ("this corpus is above the exact generators'
    * documented limit — run the scale twin") from a genuine failure:
    * `graft.Verify` records these as skip-with-reason in
    * `skipped.json` instead of an error, so a big-sf correctness sweep
    * over the full key set never books the gate as `err`.
    */
  final class ScaleGateException(msg: String)
      extends IllegalStateException(msg)

  /** Expected block occupancy: the one design number of the blocking
    * rule shared by the near-dup pair generators here and in
    * [[Similarity]]. [[blockWidth]] holds N / 2^width near it, and the
    * successor cap of [[cappedBlockPairs]] defaults to it, so an ordinary
    * block emits all of its pairs and only a mega block is trimmed.
    */
  private[graft] val Occupancy = 32

  /** Corpus-adaptive block width in bits: max(floor, len(bin(N /
    * [[Occupancy]]))), one more bit per corpus doubling, so expected block
    * occupancy stays near [[Occupancy]] and intra-block pairs grow
    * linearly with N. A fixed width saturates: blocks go quadratic (the
    * round-6 sf1 run measured 50× simhash and 27× LSH time on 10× the
    * data). The width is integer-only (binary-string length, never a
    * float log2 whose last ulp can flip at a power of two), so the DuckDB
    * oracles reproduce it verbatim.
    */
  private[graft] def blockWidth(floor: Int, n: Long): Int =
    math.max(floor, java.lang.Long.toBinaryString(n / Occupancy).length)

  /** Successor-capped pairs inside blocks: the guard that keeps pair
    * output linear when a block is one mega dup-family. [[blockWidth]]
    * holds EXPECTED occupancy near [[Occupancy]], but replicated corpora
    * concentrate: a ~1000-replica family lands in ONE block whatever its
    * width, and all-pairs inside it is C(1000,2) (the round-11 sf100
    * probe sat 105 min in exactly that).
    *
    *  - Rank-successors: each block is ranked by `orderCols`, and every
    *    row pairs only with its ≤ `maxSucc` rank-successors. That is
    *    ≤ N·maxSucc pairs in total, all pairs of any block of
    *    ≤ maxSucc + 1 rows, and a mega block stays CONNECTED through
    *    the rank-adjacent chain, which is what components consume.
    *  - Locality order: the order should be a similarity-locality key,
    *    not the bare id, where a block can hold several interleaved
    *    dup-families. Sorted by a finer signature first, each family
    *    sits together, and a row's rank-successors are its
    *    near-identical neighbours: the pairs a downstream score
    *    threshold keeps, so a thresholded mega block stays connected
    *    where bare id order would pair across families. The pair still
    *    comes out in canonical orientation, smaller id first, each
    *    side's `carried` columns swapped along with its id, whatever
    *    the order.
    *  - Slot keys: one row_number window over the block (one shuffle and
    *    sort of N rows), then each row EXPLODES its successor slots and
    *    equi-joins on (block, slot = rn). The rank range becomes the join
    *    key, so the join materializes exactly the capped pairs, never
    *    block² rows with a post-filter. Slots past the block's end are
    *    filtered BEFORE the exchange: most blocks are far smaller than
    *    the cap, and otherwise every row would ship `maxSucc` slots into
    *    the join shuffle however small its block.
    *
    * Returns the block columns, `id_a` < `id_b`, and `<c>_a`/`<c>_b` for
    * each carried column `c`. Callers keep their own names, distinct and
    * scoring.
    */
  private[graft] def cappedBlockPairs(df: DataFrame, blockCols: Seq[String],
      idCol: String, orderCols: Seq[String], carried: Seq[String],
      maxSucc: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val block = blockCols.map(col)
    val cols = idCol +: carried
    val ranked = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(block: _*).orderBy(orderCols.map(col): _*)))
      // block size, same exchange (no extra sort: unordered frame)
      .withColumn("g", count(lit(1)).over(Window.partitionBy(block: _*)))
      .select(block ++ (cols :+ "rn" :+ "g").map(col): _*)
      .truncateLineage() // one ranking pass feeds both join sides
    def side(s: String) = cols.map(c => col(c).as(s"${c}_$s"))
    val left = ranked
      .withColumn("slot", explode(sequence(col("rn") + 1, col("rn") + maxSucc)))
      .filter(col("slot") <= col("g"))
      .select(block ++ side("l") :+ col("slot"): _*)
    val right = ranked.select(block ++ side("r") :+ col("rn").as("slot"): _*)
    val swap = col(s"${idCol}_l") > col(s"${idCol}_r")
    def pick(c: String, first: String, second: String) =
      when(swap, col(s"${c}_$second")).otherwise(col(s"${c}_$first"))
    left.join(right, blockCols :+ "slot")
      .select(block ++ Seq(pick(idCol, "l", "r").as("id_a"),
        pick(idCol, "r", "l").as("id_b")) ++ carried.flatMap(c => Seq(
        pick(c, "l", "r").as(s"${c}_a"), pick(c, "r", "l").as(s"${c}_b"))): _*)
  }

  /** Hash groups: the documents grouped by `key`, each group's minimum
    * doc_id as its `canonical_id` and its size as `n_docs`.
    */
  private def hashGroups(spark: SparkSession, sfDir: String,
      key: Column): DataFrame =
    Tables.documents(spark, sfDir).groupBy(key)
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** I1 — exact dedup groups: canonical (minimum) doc_id per md5(text). */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    hashGroups(spark, sfDir, md5(col("text")).as("content_hash"))

  /** I2a — near-dup groups by normalized key: lowercase, strip
    * non-alphanumerics, collapse whitespace. Catches punctuation/casing
    * variants that exact hashing misses.
    */
  def near(spark: SparkSession, sfDir: String): DataFrame =
    hashGroups(spark, sfDir, md5(regexp_replace(
      regexp_replace(normText(col("text")), "[^a-z0-9\\s]", ""), "\\s+", " "))
      .as("norm_hash"))

  /** The band rows of a docs frame: each doc_id × 4 `(band_id, band_key)`
    * minhash band keys, the narrow half of LSH.
    */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.functions.HashExpressions.minhash_band_keys(col("text")))
        .as(Seq("band_id", "band_key")))

  /** Per-document minhash band keys ([[bandRows]] of the corpus). This
    * is the *entire* per-document state the shuffle ever sees.
    */
  def minhashBands(spark: SparkSession, sfDir: String): DataFrame =
    bandRows(Tables.documents(spark, sfDir))

  /** I2b — minhash LSH candidate pairs: documents sharing ≥1 band bucket.
    * The join is on (band_id, band_key) — collision buckets only, never
    * all-pairs.
    */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialize the band keys once: a self-join would otherwise run the
    // 16-hash signature computation on BOTH sides. The checkpointed
    // relation is tiny (doc_id + 4×32-byte keys per document — this is
    // the "signatures, not text, flow into the shuffle" property). At
    // warehouse scale this is a persisted intermediate table.
    val b = minhashBands(spark, sfDir).truncateLineage()
    val a = b.as("a"); val c = b.as("b")
    a.join(c, col("a.band_id") === col("b.band_id")
        && col("a.band_key") === col("b.band_key")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** [[minhashPairs]] with the successor cap of [[cappedBlockPairs]]
    * over each (band_id, band_key) bucket, ranked by doc_id. Recall
    * contract: a pair survives iff it is within the cap in ANY shared
    * band. The uncapped [[minhashPairs]] remains the exact generator the
    * graph family builds on through sf10.
    */
  def minhashPairsCapped(spark: SparkSession, sfDir: String,
      maxSucc: Int = Occupancy): DataFrame =
    cappedBlockPairs(minhashBands(spark, sfDir), Seq("band_id", "band_key"),
        "doc_id", Seq("doc_id"), Nil, maxSucc)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")).distinct()

  /** I2c — simhash: 64-bit signature string + 16-bit prefix bucket.
    * Near-dups differ in O(1) bits; bucketing the prefix (or rotations,
    * at scale) turns Hamming search into a hash join.
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.HashExpressions.simhash64(col("text")).as("simhash"))
      .withColumn("bucket16", substring(col("simhash"), 1, 16))

  /** Simhash blocks: `bucket` is the first [[blockWidth]] (floor 8) bits
    * of the 64-bit signature. Near-dups differ in O(1) bits, so they
    * still collide on the prefix with high probability; at extreme scale
    * the standard complement is blocking on several rotations of the
    * signature so any ≤k-bit difference collides in at least one block,
    * a recall knob orthogonal to the width.
    */
  private def simhashBlocks(spark: SparkSession, sfDir: String): DataFrame = {
    val width = blockWidth(8, Tables.documents(spark, sfDir).count())
    simhash(spark, sfDir)
      .select(col("doc_id"), col("simhash"),
        substring(col("simhash"), 1, width).as("bucket"))
  }

  /** Hamming distance of two 64-char binary signatures via 8 chunk-wise
    * popcounts (parse 8 binary chars → int, xor, bit_count): a 24-node
    * codegen-friendly expression. The per-character form (64 chained
    * substring compares) is a 128-deep tree that falls out of
    * whole-stage codegen and ran ~10× slower.
    */
  private def hamming(a: Column, b: Column): Column = {
    def chunk(s: Column, c: Int) = conv(substring(s, c * 8 + 1, 8), 2, 10).cast("long")
    (0 until 8).map(c => bit_count(chunk(a, c).bitwiseXOR(chunk(b, c))))
      .reduce(_ + _).cast("int")
  }

  /** Simhash candidate pairs: all pairs of each [[simhashBlocks]] block,
    * with the exact Hamming distance on the 64-bit signatures. The
    * Hamming computation runs only on block collisions, never all-pairs.
    */
  def simhashPairs(spark: SparkSession, sfDir: String, maxHamming: Int = 8): DataFrame = {
    val s = simhashBlocks(spark, sfDir).truncateLineage()
    s.as("a").join(s.as("b"),
        col("a.bucket") === col("b.bucket")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .withColumn("near_dup", col("hamming") <= maxHamming)
  }

  /** [[simhashPairs]] with the successor cap of [[cappedBlockPairs]],
    * ranked by doc_id. Recall contract: exact Hamming on every emitted
    * pair; a mega block keeps only its rank-adjacent band (near-identical
    * replicas are rank-neighbours' neighbours, so dup detection keeps its
    * signal).
    */
  def simhashPairsCapped(spark: SparkSession, sfDir: String,
      maxHamming: Int = 8, maxSucc: Int = Occupancy): DataFrame =
    cappedBlockPairs(simhashBlocks(spark, sfDir), Seq("bucket"), "doc_id",
        Seq("doc_id"), Seq("simhash"), maxSucc)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        hamming(col("simhash_a"), col("simhash_b")).as("hamming"))
      .withColumn("near_dup", col("hamming") <= maxHamming)

  /** The pair-side join: each candidate `(doc_a, doc_b)` joined to
    * `docs` once per side, each of `cols` arriving as `<c>_a`/`<c>_b`.
    * A join hint on `docs` reaches both joins.
    */
  private def pairSides(pairs: DataFrame, docs: DataFrame,
      cols: Seq[String]): DataFrame =
    Seq("a", "b").foldLeft(pairs) { (p, s) =>
      p.join(docs.select(col("doc_id").as(s"doc_$s") +:
        cols.map(c => col(c).as(s"${c}_$s")): _*), s"doc_$s")
    }

  /** Checkpointed [[minhashPairs]] with the doc_id and `cols` of their
    * participants: [[pruneToParticipants]] runs BEFORE the per-row
    * projection, so the heavy arrays are computed only for documents a
    * candidate pair references, and the participant frame is
    * materialized once, so each array is computed once, not once per
    * pair side. The calibration table is per-PAIR: computing and
    * shuffling 500 k full shingle arrays to serve ~25 k pairs measured
    * 397 s at sf10, linear in pairs after the prune.
    */
  private def pairsWithParticipants(spark: SparkSession, sfDir: String,
      cols: Column*): (DataFrame, DataFrame) = {
    val pairs = minhashPairs(spark, sfDir).truncateLineage()
    val docs = pruneToParticipants(spark, Tables.documents(spark, sfDir), pairs)
      .select(col("doc_id") +: cols: _*)
      .truncateLineage()
    (pairs, docs)
  }

  /** The verification stage of LSH dedup: candidate pairs from the
    * minhash buckets get exact checks — Levenshtein edit distance and
    * distinct-token Jaccard (cross-multiplied, no division). Only
    * collision candidates pay the quadratic-cost exact comparison, and
    * only their participants are tokenized; the corpus never is.
    */
  def verifyPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val (pairs, docs) = pairsWithParticipants(spark, sfDir,
      col("text"), array_distinct(wsTokens(col("text"))).as("toks"))
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    pairSides(pairs, docs, Seq("text", "toks"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).as("edit_dist"),
        inter.as("tok_inter"),
        (size(col("toks_a")) + size(col("toks_b")) - inter).as("tok_union"))
  }

  /** Sketch calibration — how good is the 16-row minhash as a Jaccard
    * estimator on the pairs it surfaced? Per candidate pair: the
    * estimate (fraction of agreeing signature rows — the textbook
    * unbiased minhash estimator) next to the EXACT shingle Jaccard and
    * the absolute error. The numbers a pipeline owner uses to size the
    * signature (16 rows ⇒ ±1/16 estimator granularity) and set the
    * verify threshold. Signatures and shingle arrays are computed for
    * pair participants only ([[pairsWithParticipants]]); exact Jaccard
    * runs only on the candidate pairs, never all-pairs.
    */
  def jaccardCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val (pairs, docs) = pairsWithParticipants(spark, sfDir,
      graft.functions.HashExpressions.minhash_signature(col("text")).as("sig"),
      array_distinct(shingles3(col("text"))).as("sh"))
    pairSides(pairs, docs, Seq("sig", "sh"))
      .withColumn("n_agree",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)))
      .withColumn("est", col("n_agree").cast("double") / lit(16.0))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("exact",
        round(col("inter").cast("double") / col("uni").cast("double"), 6))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("est"),
        col("exact").as("exact_j"),
        round(abs(col("est") - col("inter").cast("double") / col("uni").cast("double")), 6)
          .as("abs_err"))
  }

  /** The clustering stage of dedup: connected components over the LSH
    * candidate graph by iterative minimum-label propagation, then the
    * canonical (minimum) doc per component. The driver loop runs
    * O(component-diameter) rounds — each a small join on the edge list
    * (never the corpus) with a checkpoint per round to keep lineage flat;
    * the standard large-scale CC shape. Singleton documents are their own
    * canonical.
    */
  def components(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir).truncateLineage()
    val nodes = Tables.documents(spark, sfDir).select(col("doc_id"))
    val out = componentsFromPairs(spark, pairs, nodes)
    pairs.unpersist()
    out
  }

  /** The label-propagation loop itself, over an explicit candidate-pair
    * edge list and node set. Each round is min-label propagation over
    * edges PLUS a pointer-doubling shortcut (label ← label's label) —
    * the shortcut doubles the distance a minimum travels per round, so
    * the loop converges in O(log diameter) rounds instead of
    * O(diameter); with driver-paced rounds that is the difference
    * between ~5 and ~50 jobs on a long-chain graph, and the standard
    * trick that makes distributed CC viable on 100 TB graphs. Throws if
    * the loop hits `maxRounds` without converging — silently returning
    * partial labels would merge/split dedup groups wrongly downstream.
    */
  private[graft] def componentsFromPairs(spark: SparkSession, pairs: DataFrame,
      nodes: DataFrame, maxRounds: Int = 50): DataFrame = {
    // The loop's working set is (node, label) and (node, node) tuples —
    // orders of magnitude smaller than the corpus that produced the
    // pairs — so a handful of shuffle partitions minimizes per-round
    // fixed job cost; at warehouse scale this is sized to the edge
    // count (or left to AQE), not to the corpus.
    GraftSession.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> "8")) {
      componentsLoop(spark, pairs, nodes, maxRounds)
    }
  }

  private def componentsLoop(spark: SparkSession, pairs: DataFrame,
      nodes: DataFrame, maxRounds: Int): DataFrame = {
    val edges = pairs.select(col("doc_a").as("n"), col("doc_b").as("m"))
      .unionByName(pairs.select(col("doc_b").as("n"), col("doc_a").as("m")))
      .truncateLineage()
    var persisted = nodes
      .select(col("doc_id").as("n"), col("doc_id").as("lbl"))
      .truncateLineage()
    var labels = persisted
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val neigh = edges.join(labels.withColumnRenamed("n", "m"), "m")
        .groupBy(col("n")).agg(min(col("lbl")).as("nlbl"))
      // checkpoint the propagation so the doubling self-join below reads
      // it twice instead of executing the edge join twice; carry the
      // round's starting label (`old`) through so the convergence check
      // is a filter over the final checkpoint, not another join
      val prop = labels.join(neigh, Seq("n"), "left")
        .select(col("n"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .truncateLineage()
      // shortcut: follow the label pointer one hop (labels only ever
      // decrease, and a node's label is always in its own component, so
      // the substitution is safe and monotone)
      val next = prop
        .join(prop.select(col("n").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .select(col("n"), col("old"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
        .truncateLineage()
      changed = next.filter(col("lbl") =!= col("old")).count()
      persisted.unpersist() // release the superseded round's checkpoint blocks
      prop.unpersist()
      persisted = next
      labels = next.select(col("n"), col("lbl"))
      rounds += 1
    }
    edges.unpersist()
    if (changed > 0) {
      persisted.unpersist()
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          s"($changed labels still changing) — component diameter exceeds " +
          "the doubling bound; raise maxRounds")
    }
    labels.select(col("n").as("doc_id"), col("lbl").as("component_id"),
      (col("n") === col("lbl")).as("is_canonical"))
  }

  /** The dedup pipeline's terminal: the deduplicated corpus — canonical
    * documents only, annotated with how many near-duplicates each one
    * absorbed. What actually ships to training.
    */
  def dedupApply(spark: SparkSession, sfDir: String): DataFrame = {
    val comp = components(spark, sfDir).truncateLineage()
    val sizes = comp.groupBy(col("component_id")).agg(count(lit(1)).as("n_members"))
    Tables.documents(spark, sfDir)
      .join(comp.filter(col("is_canonical")), "doc_id")
      .join(sizes, "component_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_members"))
  }

  /** Benchmark decontamination — the training-data hygiene pass: flag
    * every corpus document sharing ANY 3-gram shingle with a benchmark
    * set (here: doc_id < 5 stands in for the held-out eval set). The
    * benchmark's distinct shingles are a broadcast set (benchmarks are
    * tiny next to the corpus), so the overlap test is one narrow
    * semi-join over exploded postings + one count per document — the
    * corpus is scanned once and never shuffled on text.
    */
  def decontaminate(spark: SparkSession, sfDir: String,
      benchBound: Long = 5L): DataFrame =
    benchOverlap(spark, sfDir, benchBound)(_ => None)

  /** Per corpus document (doc_id ≥ `benchBound`): how many of its distinct
    * 3-gram shingles the benchmark (doc_id < `benchBound`) also holds, and
    * whether any. `prefilter` may derive from the benchmark's distinct
    * shingles a cheap predicate on the corpus shingles, applied before
    * the exact semi-join against the broadcast benchmark set.
    */
  private def benchOverlap(spark: SparkSession, sfDir: String, benchBound: Long)(
      prefilter: DataFrame => Option[Column]): DataFrame = {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(array_distinct(shingles3(col("text")))).as("shingle"))
    val bench = sh.filter(col("doc_id") < benchBound)
      .select(col("shingle")).distinct()
    val corpus = sh.filter(col("doc_id") >= benchBound)
    val overlap = prefilter(bench).fold(corpus)(corpus.filter)
      .join(broadcast(bench), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    flagDocs(spark, sfDir, benchBound, overlap, "n_overlap", "contaminated")
  }

  /** Every document with doc_id ≥ `from`, flagged by its row of the
    * per-doc `counts`: the count column `n` (0 for a doc without a row),
    * the other `counts` columns, and `flag` = `n` > 0.
    */
  private def flagDocs(spark: SparkSession, sfDir: String, from: Long,
      counts: DataFrame, n: String, flag: String): DataFrame = {
    val cnt = coalesce(col(n), lit(0L))
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= from)
      .select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id") +: cnt.as(n) +:
        counts.columns.filterNot(Set("doc_id", n)).map(col) :+
        (cnt > 0).as(flag): _*)
  }

  /** Catalog name of the standing band-index table for (sfDir, bound).
    * One managed table per corpus: in production this is the Hive
    * metastore / Glue / Unity table every ingest job shares.
    */
  private[graft] def bandIndexTable(sfDir: String, bound: Long): String =
    "graft_band_index_" +
      s"${new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9_]", "_")}_$bound"

  /** Seed — or validate and reuse — the standing corpus's band index as
    * a MANAGED, appendable catalog table. Reuse is gated on a content
    * fingerprint (corpus doc count + max doc_id must match the source),
    * so regenerated fixture data at the same path triggers a rebuild
    * instead of silently probing a stale index; the check costs one
    * narrow aggregate over the (small) index, never a corpus rescan.
    * Returns the table name.
    */
  private[graft] def ensureBandIndex(spark: SparkSession, sfDir: String,
      bound: Long): String = {
    val t = bandIndexTable(sfDir, bound)
    val src = Tables.documents(spark, sfDir).filter(col("doc_id") < bound)
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("mx")).head()
    val (nDocs, maxDoc) =
      (src.getLong(0), if (src.isNullAt(1)) -1L else src.getLong(1))
    // fingerprint only the SEED slice (doc_id < bound): appended ingest
    // batches carry doc_id ≥ bound and must not look like staleness
    val reusable = spark.catalog.tableExists(t) && {
      val idx = spark.table(t).filter(col("doc_id") < bound)
        .agg(countDistinct(col("doc_id")).as("n"), max(col("doc_id")).as("mx"))
        .head()
      idx.getLong(0) == nDocs &&
        (nDocs == 0L || (!idx.isNullAt(1) && idx.getLong(1) == maxDoc))
    }
    if (!reusable) {
      // a fresh session's in-memory catalog may not know the table while
      // its warehouse directory (from an earlier JVM) still exists —
      // saveAsTable would then refuse with LOCATION_ALREADY_EXISTS.
      // Drop both the metadata and any orphaned directory before seeding.
      // (With a persistent metastore the tableExists check above reuses
      // the index across JVMs instead of ever reaching this branch.)
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
      minhashBands(spark, sfDir).filter(col("doc_id") < bound)
        .write.mode("overwrite").format("parquet").saveAsTable(t)
    }
    t
  }

  /** Append one ingested batch's band keys to the standing index so the
    * NEXT ingest probes them — the O(new batch) append that keeps
    * steady-state ingest incremental (no corpus re-clustering, ever).
    */
  private[graft] def appendToBandIndex(spark: SparkSession, table: String,
      bands: DataFrame): Unit =
    bands.select(col("doc_id"), col("band_id"), col("band_key"))
      .write.mode("append").format("parquet").saveAsTable(table)

  /** Probe a batch's band keys against the standing index: candidate
    * count + first matching corpus doc per probed doc_id. Shuffles only
    * (band_id, band_key, doc_id) tuples on the collision key.
    */
  private[graft] def probeBandIndex(spark: SparkSession, table: String,
      newBands: DataFrame): DataFrame = {
    val index = spark.table(table)
      .select(col("doc_id").as("corpus_doc"), col("band_id"), col("band_key"))
    newBands.join(index, Seq("band_id", "band_key"))
      .select(col("doc_id"), col("corpus_doc")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_candidates"),
        min(col("corpus_doc")).as("first_match"))
  }

  /** Incremental near-dup detection — the production ingest shape. The
    * standing corpus's minhash band index lives in a MANAGED catalog
    * table ([[ensureBandIndex]]: content-fingerprint-validated seed,
    * [[appendToBandIndex]]: per-ingest append), and a new batch joins
    * only ITS OWN band keys against that index: per-ingest work is
    * O(new batch) + an index probe, never a re-clustering of the full
    * corpus. Here docs with doc_id ≥ `newBound` play the incoming batch
    * and the rest are the standing corpus; the output flags each new
    * document with its duplicate-candidate count and first matching
    * corpus doc. `SketchSpec` ("band index is a managed appendable
    * table") drives two successive batches through the same table with
    * an append in between.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String,
      newBound: Long = 450L): DataFrame = {
    val table = ensureBandIndex(spark, sfDir, newBound)
    val newBands = minhashBands(spark, sfDir)
      .filter(col("doc_id") >= newBound)
    flagDocs(spark, sfDir, newBound, probeBandIndex(spark, table, newBands),
      "n_dup_candidates", "is_duplicate")
  }

  /** Bloom-prefiltered decontamination — identical output contract to
    * [[decontaminate]], different scale envelope. [[decontaminate]]
    * broadcasts the benchmark's distinct shingles as a hash set, which
    * caps the benchmark at executor-memory size (~50+ bytes/shingle in a
    * hash relation). Here the benchmark side is collapsed to ONE bloom
    * sketch (~1 bit-per-key × 8-10, so 10 M shingles ≈ 10 MB) that rides
    * the corpus scan as a codegen'd literal predicate
    * ([[graft.functions.SketchFunctions]]); only the candidate shingles
    * that pass the bloom — true overlaps plus the ~1% false positives —
    * reach the exact semi-join that restores exact semantics. The corpus
    * is still scanned once; what changed is the 100 TB-side shuffle: it
    * carries only bloom survivors instead of every corpus shingle or a
    * memory-bound broadcast set.
    */
  def decontaminateBloom(spark: SparkSession, sfDir: String,
      benchBound: Long = 5L): DataFrame = {
    import graft.functions.SketchFunctions._
    // benchmarks are tiny next to the corpus: the collect moves one
    // ~128 KB sketch to the driver, never the shingle rows; the exact
    // semi-join then verifies the (now tiny) bloom survivors, removing
    // the false positives
    benchOverlap(spark, sfDir, benchBound) { bench =>
      val bloom = buildBloom(bench, col("shingle"), expectedItems = 100000L, numBits = 1L << 20)
      Some(bloom_might_contain(bloom, col("shingle")))
    }
  }

  /** Per-document duplicated-ngram fraction — the exact-substring-dup
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): what share of a document's distinct
    * shingles also appear in at least one OTHER document. Near-dup
    * clustering finds whole-document copies; this finds boilerplate —
    * headers, licenses, templates — that contaminates otherwise-unique
    * documents, and is the standard pre-training diagnostic for "how
    * much of this corpus is repeated text".
    *
    * Plan shape — ONE postings shuffle, no join-back. The naive
    * inverted-index form (aggregate postings to a df table, join the
    * postings AGAINST it, roll up to doc_id) shuffles the full postings
    * relation twice more after the df aggregate; at the sf100 probe
    * that was the whole cost — 201.7 s, 20.0× for 10× data, all of it
    * shuffle spill on a structurally LINEAR query. The identity
    * `n_dup = n_shingles − n_uniq` removes both extra shuffles:
    *
    *   - `n_shingles` is `size(array_distinct(...))` INSIDE the row —
    *     zero exchange;
    *   - a shingle with corpus df = 1 belongs to exactly ONE document,
    *     so `min(doc_id)` in the SAME df aggregate already names its
    *     owner: filter df = 1, count per owner, and that is `n_uniq`
    *     per doc — a ≤|docs|-row shuffle, not a postings shuffle.
    *
    * What remains: the unavoidable map-side-combined postings aggregate
    * (partial agg collapses replica-shared shingles before the
    * exchange) and two |docs|-sized doc-keyed relations joined at the
    * end. Docs whose every shingle is shared simply have no df=1 row —
    * the left join coalesces them to n_uniq = 0.
    *
    * Shingles travel as 60-bit fingerprints ([[TextFunctions.fp60]],
    * exactly Lee et al.'s hashed-ngram representation): the checkpoint
    * and the one postings exchange carry 8-byte longs instead of
    * ~50-byte strings. The sf100 half-slice adjudication measured the
    * string form 5.96× for a 1.94× data step — the hash aggregate
    * crossing its spill cliff — and byte width, not partition count,
    * was the lever (a 256-partition re-probe was slower). Counts are
    * fingerprint-exact (see fp60's collision math), so the DuckDB
    * oracle keeps the plain string formulation.
    */
  def dupNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    // one shingling pass (regex-heavy) feeds BOTH the narrow per-doc
    // count and the postings explode. NO size filter before the
    // checkpoint: shingles3 always yields ≥1 element (the <3-token
    // fallback), and a filter here would push the whole shingling chain
    // into an interpreted Filter condition — FilterExec with a
    // higher-order-function predicate drops out of codegen and
    // InterpretedPredicate has no subexpression elimination, so the
    // chain re-evaluates per conjunct (measured 11× on this exact
    // projection at sf10: 48 s filtered vs 4.4 s without).
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), shingleFps3(col("text")).as("ds"))
      .truncateLineage()
    val perDoc = docs.select(col("doc_id"),
      size(col("ds")).cast("long").as("n_shingles"))
    val uniqPerDoc = docs
      .select(col("doc_id"), explode(col("ds")).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner")).agg(count(lit(1)).as("n_uniq"))
    perDoc.join(uniqPerDoc, col("doc_id") === col("owner"), "left")
      .withColumn("n_dup_shingles",
        col("n_shingles") - coalesce(col("n_uniq"), lit(0L)))
      .select(col("doc_id"), col("n_shingles"), col("n_dup_shingles"),
        expr("n_dup_shingles * 10000 div n_shingles").as("dup_bp"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — public literature; the MOSS algorithm): hash every
    * k-token gram, slide a w-hash window, keep each window's MINIMUM
    * hash — recording a kept hash once per contiguous run via the
    * RIGHTMOST-minimum position rule, which the paper proves gives
    * guaranteed detection of any match ≥ w+k−1 tokens at bounded
    * fingerprint density 2/(w+1). Unlike minhash (a per-document
    * global sketch), winnowing keeps POSITIONED local fingerprints, so
    * shared fingerprints localize WHERE two documents overlap — the
    * copy-detection / attribution primitive document-level dedup
    * cannot express.
    *
    * Scale shape: selection is entirely IN-PLAN (nested higher-order
    * functions over the token array — codegen'd, zero exchange); the
    * output is the bounded-density fingerprint table, ~2/(w+1) of the
    * gram count. Documents shorter than k+w−1 tokens have no full
    * window and fingerprint empty, per the paper.
    */
  def winnow(spark: SparkSession, sfDir: String,
      k: Int = 5, w: Int = 4): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k + w - 1)
      // LET-BINDING via single-element transform (the TextFunctions
      // lesson generalized): each stage binds its intermediate — the
      // token array, the gram hashes, the window minimums — as a LAMBDA
      // VARIABLE, which interpreted HOF evaluation computes ONCE.
      // Naming them as chained columns instead lets CollapseProject
      // inline each definition into every lambda reference, so gs
      // re-evaluates per window and toks re-splits per gram — measured
      // minutes-per-task at sf0.01 vs sub-second here.
      .withColumn("fps", expr(
        s"""element_at(transform(array(toks), t ->
           |  element_at(transform(array(transform(sequence(0, size(t) - $k), i ->
           |      cast(conv(substring(md5(array_join(slice(t, i + 1, $k), ' ')),
           |        1, 15), 16, 10) as bigint))), gs ->
           |    element_at(transform(array(transform(sequence(0, size(gs) - $w), j ->
           |        array_min(slice(gs, j + 1, $w)))), wm ->
           |      array_distinct(transform(sequence(0, size(gs) - $w), j ->
           |        struct(
           |          cast(j + array_max(filter(sequence(0, ${w - 1}), i ->
           |            element_at(gs, j + i + 1) = element_at(wm, j + 1)))
           |            as bigint) AS pos,
           |          element_at(wm, j + 1) AS fp)))), 1)), 1)), 1)""".stripMargin))
      .select(col("doc_id"), explode(col("fps")).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))

  /** Cross-document fingerprint matches over [[winnow]]'s table: the
    * inverted-index join on `fp` (the ngramJaccard/containment postings
    * shape), corpus-frequent fingerprints dropped at `maxDf` (boilerplate
    * — mirrored in the oracle, the `q_containment` stop-cap discipline),
    * pairs kept at ≥ `minShared` shared fingerprints. At 100 TB the
    * index is the 2/(w+1)-density fingerprint table, never the text.
    *
    * The distinct (doc_id, fp) table is LINEAGE-TRUNCATED (round 15):
    * it feeds three plan consumers — the df-cap aggregate and both
    * sides of the postings self-join — and without truncation each one
    * re-executes the winnowing projection (the most expensive
    * per-row expression in the corpus: the executed sf0.1 plan showed
    * three Generate(explode(fps)) subtrees). Materializing the
    * 16-byte rows once replaces two full recomputes of the
    * md5-gram + sliding-window-min chain.
    */
  def winnowPairs(spark: SparkSession, sfDir: String, k: Int = 5,
      w: Int = 4, minShared: Int = 2, maxDf: Int = 100): DataFrame = {
    val fps = winnow(spark, sfDir, k, w)
      .select(col("doc_id"), col("fp")).distinct()
      .truncateLineage()
    // df >= 2: a fingerprint present in exactly one document cannot
    // produce a pair (its only self-join match fails doc_a < doc_b),
    // yet unique fps dominate a deduplicated corpus — keeping them
    // would hash-build and probe the self-join with rows that emit
    // nothing. Result-identical; only the join input shrinks.
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
      .select(col("fp"))
    sharedKeyCount(fps.join(keep, "fp"), Seq("fp"), Nil)(
        (a, b) => a("doc_id") < b("doc_id"))
      .filter(col("n_shared") >= minShared)
  }

  /** Degenerate-text detection by n-gram repetition: the most-repeated
    * 3-shingle's share of a document's shingle stream. Looping/generated
    * text shows top-shingle ratios near 1; clean prose stays low. The
    * flag threshold (≥20%) is cross-multiplied so no engine divides.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("shingle"))
      .groupBy(col("doc_id"), col("shingle")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_count"), sum(col("cnt")).as("n_shingles"))
      .select(col("doc_id"), col("top_count"), col("n_shingles"),
        round(col("top_count") / col("n_shingles"), 6).as("top_ratio"),
        (col("top_count") * 5 >= col("n_shingles")).as("degenerate"))

  /** Corpus-level sketching: per-source minhash signature via the
    * `minhash_union` TypedImperativeAggregate — element-wise minimum of
    * per-document signatures, which equals the signature of the union of
    * the source's shingle sets. Constant-size (16 hashes) partial state
    * per group regardless of corpus size: the `approx_count_distinct`
    * pattern applied to set similarity.
    */
  def sourceSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExpressions.{minhash_signature, minhash_union}
    Tables.documents(spark, sfDir)
      .select(col("source"), minhash_signature(col("text")).as("sig"))
      .groupBy(col("source"))
      .agg(minhash_union(col("sig")).as("sig"))
      .select(col("source"), posexplode(col("sig")).as(Seq("i", "minh")))
  }

  /** Estimated pairwise source similarity from the sketches alone:
    * agreeing signature rows / 16 estimates the Jaccard of two sources'
    * shingle sets — no document data touched after the sketch pass.
    */
  def sourceSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    val s = sourceSketch(spark, sfDir).truncateLineage()
    s.as("a").join(s.as("b"),
        col("a.i") === col("b.i") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum((col("a.minh") === col("b.minh")).cast("int")).cast("int")
        .as("n_agree"))
  }

  /** Stop keys: the `keys` values held by more than `maxDf` rows of
    * `postings`. Such a key is uninformative for the near-dup
    * thresholds, and it adds df² rows to a postings self-join (the
    * quadratic hot bucket on skewed text at scale).
    */
  private def stopKeys(postings: DataFrame, keys: Seq[String],
      maxDf: Int): DataFrame =
    postings.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(keys.map(col): _*)

  /** The postings `sh` (doc_id + `keys`) without their [[stopKeys]], each
    * with its doc's kept size `sz`, checkpointed for both sides of the
    * self-join. The stop list is tiny by construction → broadcast
    * anti-join, so the cap costs one small aggregate, no extra corpus
    * shuffle.
    */
  private def keptPostings(sh: DataFrame, keys: Seq[String],
      maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sh.join(broadcast(stopKeys(sh, keys, maxDf)), keys, "left_anti")
      .withColumn("sz",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))).cast("int"))
      .truncateLineage()
  }

  /** The postings self-join: the doc pairs sharing `keys` values under
    * `pair` (a condition over the two sides' columns), one row per pair
    * with its shared-key count `n_shared` and each side's `carried`
    * columns as `<c>_a`/`<c>_b`. Only pairs that actually share a key
    * ever materialize, and the group count of matches IS the
    * intersection size: O(postings + collisions), never all-pairs with
    * an array_intersect per pair.
    */
  private def sharedKeyCount(postings: DataFrame, keys: Seq[String],
      carried: Seq[String])(
      pair: (String => Column, String => Column) => Column): DataFrame = {
    def a(c: String) = col(s"a.$c")
    def b(c: String) = col(s"b.$c")
    postings.as("a").join(postings.as("b"),
        keys.map(k => a(k) === b(k)).reduce(_ && _) && pair(a, b))
      .groupBy(Seq(a("doc_id").as("doc_a"), b("doc_id").as("doc_b")) ++
        carried.map(c => a(c).as(s"${c}_a")) ++
        carried.map(c => b(c).as(s"${c}_b")): _*)
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The Jaccard ≥ 0.8 verifier: pairs carrying their intersection size
    * `n_inter` and side sizes `sz_a`/`sz_b` get the union size and the
    * near-dup flag, the threshold cross-multiplied (no division).
    */
  private def jaccard(pairs: DataFrame): DataFrame = {
    val nUnion = col("sz_a") + col("sz_b") - col("n_inter")
    pairs.select(col("doc_a"), col("doc_b"), col("n_inter"),
      nUnion.as("n_union"), (col("n_inter") * 10 >= nUnion * 8).as("near_dup"))
  }

  /** The smaller-side orientation of containment scoring: side a (size
    * `szA`) scores against side b when it is smaller, and on equal
    * sizes when `tie` holds — the smaller id, or `true` where the pair
    * list already emits the smaller id as side a. Each unordered pair is
    * scored once.
    */
  private def smallerFirst(szA: Column, szB: Column, tie: Column): Column =
    szA <= szB && (szA < szB || tie)

  /** The containment ≥ 0.9 verifier over [[smallerFirst]]-oriented pairs
    * (`doc_a` the smaller side, with `n_inter`, `sz_a`, `sz_b`): keeps
    * C = n_inter / sz_a ≥ 0.9 by cross-multiplication and reports it in
    * basis points.
    */
  private def containmentScore(pairs: DataFrame): DataFrame =
    pairs.filter(col("n_inter") * 10 >= col("sz_a") * 9)
      .select(col("doc_a").as("doc_small"), col("doc_b").as("doc_big"),
        col("n_inter"), col("sz_a").as("sz_small"), col("sz_b").as("sz_big"),
        expr("n_inter * 10000 div sz_a").as("containment_bp"))

  /** I2d — n-gram Jaccard on blocked candidate pairs (same `source`):
    * exact distinct-shingle overlap from the [[sharedKeyCount]] postings
    * self-join (the inverted-index shape cut the sf0.1 bench time of
    * this query ~5× against a blocked all-pairs array_intersect), scored
    * by [[jaccard]]. The stop-shingle cap is per source.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String, maxDf: Int = 100): DataFrame = {
    gateExactGenerator(spark, sfDir, "ngramJaccard (q_ngram_jaccard)",
      "ngramJaccardBanded (q_ngram_jaccard_banded)")
    // The shingle computation (regex splits + 3-gram assembly over the
    // full corpus) is the expensive narrow stage — checkpoint it ONCE so
    // neither the df aggregate nor the two self-join sides re-run it.
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(shingles3(col("text")))).as("shingle"))
      .truncateLineage()
    val keys = Seq("source", "shingle")
    jaccard(sharedKeyCount(keptPostings(sh, keys, maxDf), keys, Seq("sz"))(
        (a, b) => a("doc_id") < b("doc_id"))
      .withColumn("n_inter", col("n_shared").cast("int")))
  }

  /** Asymmetric containment dedup — excerpt/quote detection, the
    * duplicate class Jaccard MISSES by construction: a 50-shingle doc
    * fully embedded in a 500-shingle doc has containment 1.0 but
    * Jaccard 0.1, far under any near-dup threshold. C(A,B) =
    * |sh(A)∩sh(B)| / |sh(A)| scored for the SMALLER side of each
    * sharing pair; ≥ 0.9 (by cross-multiplication, no division) flags A
    * as contained in B. Cross-source on purpose — copied excerpts are
    * precisely the cross-source phenomenon — so the stop-shingle cap is
    * corpus-wide rather than per-source; the same inverted-index
    * postings shape as [[ngramJaccard]] (only sharing pairs ever
    * materialize, O(postings + collisions) not O(pairs)). The
    * [[smallerFirst]] orientation is a self-join condition, exact there
    * because `sz` is constant per doc: it drops a pair's wrong-way rows
    * before the aggregate ever counts them.
    */
  def containment(spark: SparkSession, sfDir: String, maxDf: Int = 100): DataFrame = {
    gateExactGenerator(spark, sfDir, "containment (q_containment)",
      "containmentEnsemble (q_containment_ensemble)")
    // postings travel as 60-bit fingerprints (fp60): df counts, stop
    // membership, and intersection counts are identical on fingerprints
    // (collision math at fp60), and every shuffle below carries 8-byte
    // longs instead of shingle strings — the oracle keeps plain strings
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(shingleFps3(col("text"))).as("fp"))
      .truncateLineage()
    containmentScore(sharedKeyCount(keptPostings(sh, Seq("fp"), maxDf),
        Seq("fp"), Seq("sz"))(
        (a, b) => smallerFirst(a("sz"), b("sz"), a("doc_id") < b("doc_id")))
      .withColumn("n_inter", col("n_shared").cast("int")))
  }

  /** Threshold set-similarity join via PREFIX FILTERING (the
    * SSJoin/PPJoin family, Chaudhuri et al. ICDE'06): for Jaccard ≥ t,
    * two sets MUST share at least one element among their first
    * L = |s| − ⌈t·|s|⌉ + 1 elements under any fixed global ordering —
    * so only prefix tokens are indexed and the candidate join touches
    * |prefix| ≈ (1−t)·|s| postings per doc instead of all of them (5×
    * fewer at t = 0.8). The global order is ascending document
    * frequency (rarest first, integer tie-break on the shingle), which
    * ALSO makes prefix collisions rare — the frequent shingles that
    * generate quadratic buckets never enter the index. No stop-cap
    * needed, no recall loss: the filter is exact, and the oracle is the
    * brute-force all-pairs-within-source threshold join. Exact
    * verification runs array_intersect on the candidate pairs only.
    * Integer prefix-length arithmetic: L = sz − ⌈8·sz/10⌉ + 1.
    */
  def jaccardPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    gateExactGenerator(spark, sfDir, "jaccardPrefix (q_jaccard_prefix)",
      "jaccardPrefixCapped (q_jaccard_prefix_capped)")
    val (docsArr, prefix) = prefixIndex(spark, sfDir)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.source") === col("b.source")
          && col("a.fp") === col("b.fp")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    scorePrefixCandidates(cand, docsArr)
  }

  /** The shared prefix-filter scaffold: (per-doc distinct-fingerprint
    * arrays with sizes, the df-ascending prefix postings index) — see
    * [[jaccardPrefix]] for the construction's exactness argument.
    * Shingles travel as 60-bit fingerprints ([[TextFunctions.fp60]]) —
    * this index is the byte-heaviest relation in the engine (every
    * shuffle below touches all postings: the df aggregate, the df
    * join-back, the per-doc rank window, and two checkpoints), and the
    * prefix-filter theorem holds under ANY fixed global order, so the
    * (df, fp) order is as exact as (df, string). Only the CAPPED twin's
    * result set depends on the tie-break choice, and its oracle mirrors
    * the fingerprint order.
    */
  private def prefixIndex(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val docsArr = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        shingleFps3(col("text")).as("ds"))
      .withColumn("sz", size(col("ds")))
      .truncateLineage()
    val sh = docsArr.select(col("doc_id"), col("source"),
      col("sz"), explode(col("ds")).as("fp"))
    val df = sh.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    // Plan-shape note (round-14 A/B, sf10 cold probes): two "sort-free"
    // rewrites of this index LOST to the SMJ + window form and were
    // reverted — (a) SHUFFLE_HASH-hinting the df join-back measured
    // 58.0 s vs 32.6 s (hash-building 1M+ fp entries per partition loses
    // to codegen radix-sort SMJ on longs); (b) replacing the rank window
    // with hash-aggregated collect_list + in-array sort measured 117 s
    // (ObjectHashAggregate's row-at-a-time object lists, plus a partial
    // phase that cannot collapse fp-partitioned rows). The declarative
    // SMJ + window plan IS the fast plan at every measured scale.
    val prefix = sh.join(df, "fp")
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("fp"))))
      .filter(col("rnk") <= col("sz") - expr("(8 * sz + 9) div 10") + 1)
      .select(col("doc_id"), col("source"), col("fp"))
      .truncateLineage()
    (docsArr, prefix)
  }

  /** Exact verification shared by the prefix family: candidates joined
    * to their shingle arrays (pruned to pair participants first — the
    * [[pruneToParticipants]] discipline, so only candidate docs' arrays
    * ever shuffle), kept where [[jaccard]] flags them.
    */
  private def scorePrefixCandidates(candRaw: DataFrame,
      docsArr: DataFrame): DataFrame = {
    // checkpoint: the gating count and the two verification joins below
    // would otherwise each recompute the candidate self-join
    val cand = candRaw.truncateLineage()
    val docs = pruneToParticipants(cand.sparkSession, docsArr, cand)
    jaccard(arrayOverlap(cand, docs, "ds"))
      .filter(col("near_dup"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  /** [[jaccardPrefix]] with the successor cap of [[cappedBlockPairs]]
    * over each (source, shingle) prefix-posting list, ranked by doc_id:
    * the 100 TB form of the prefix-filter join (the sf100 ledger measured
    * the uncapped form at 29.6× for 10× data — the Σdf² candidate blowup
    * concentrated in replicated prefix tokens). Candidate volume is
    * bounded by |prefix postings|·maxSucc — linear in documents at fixed
    * shingle density.
    *
    * Recall contract (restated by the oracle, which mirrors the capped
    * generator rather than the brute-force join): a qualifying pair is
    * scored iff the two documents sit within `maxSucc` rank positions
    * in SOME shared prefix token's posting list. Prefix postings stay
    * df-ascending-rare by construction, so ordinary lists are far
    * smaller than the cap and emit all pairs unchanged — only
    * replicated mega-lists are trimmed to their rank-adjacent band
    * (where near-identical replicas cluster). Verification is exact
    * ([[scorePrefixCandidates]]): precision never degrades, only the
    * trimmed tail of mega-list recall.
    */
  def jaccardPrefixCapped(spark: SparkSession, sfDir: String,
      maxSucc: Int = Occupancy): DataFrame = {
    val (docsArr, prefix) = prefixIndex(spark, sfDir)
    val cand = cappedBlockPairs(prefix, Seq("source", "fp"), "doc_id",
        Seq("doc_id"), Nil, maxSucc)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")).distinct()
    scorePrefixCandidates(cand, docsArr)
  }

  /** SIZE-GATED participant prune: semi-join `docs` to the ids named by
    * `pairs` before any heavy per-row projection runs. Below
    * `graft.dedup.broadcastIdLimit` pairs (default 2 M ⇒ ≤4 M ids, tens
    * of MB) the id set broadcasts, so the prune is map-side and free of
    * exchanges; above it — a dup-heavy corpus at warehouse scale, where
    * a corpus-dependent broadcast would blow the driver/executor limits
    * — the prune degrades to a shuffled left-semi: one extra linear
    * shuffle instead of a hard failure. `pairs` is checkpointed by every
    * caller, so the gating count re-reads materialized data.
    */
  private[graft] def pruneToParticipants(spark: SparkSession, docs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    if (pairs.count() <= GraftConf.DedupBroadcastIdLimit(spark))
      docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
    else
      docs.join(ids, Seq("doc_id"), "left_semi")
  }

  /** Fail-fast gate on the exact sub-sf10 pair generators: their
    * postings self-joins are superlinear on replicated corpora
    * (measured 28.5× for 10× data / disk-abort at the sf100 probe), so
    * above `graft.dedup.exactGenLimit` documents (default 1 M — above
    * sf10's corpus, below sf100's) the call refuses with the scale
    * twin's name instead of grinding a cluster. The twins generate with
    * bands / capped postings / min-wise probes and score exactly.
    */
  private def gateExactGenerator(spark: SparkSession, sfDir: String,
      name: String, scaleTwin: String): Unit = {
    val limit = GraftConf.DedupExactGenLimit(spark)
    val n = Tables.documents(spark, sfDir).count()
    if (n > limit) throw new ScaleGateException(
      s"$name is the exact sub-sf10 generator — its postings self-join " +
        s"is superlinear on replicated corpora, and the corpus has $n " +
        s"documents (> graft.dedup.exactGenLimit=$limit). Run " +
        s"$scaleTwin (the measured scale path) instead, or raise the " +
        "limit explicitly to accept the cost.")
  }

  /** Exact set overlap of candidate pairs: [[pairSides]] over `docs`'
    * distinct array `arr`, with the intersection size `n_inter` and each
    * side's size `sz_a`/`sz_b`.
    */
  private def arrayOverlap(pairs: DataFrame, docs: DataFrame,
      arr: String): DataFrame = {
    val (a, b) = (col(s"${arr}_a"), col(s"${arr}_b"))
    pairSides(pairs, docs, Seq(arr))
      .withColumn("n_inter", size(array_intersect(a, b)))
      .withColumn("sz_a", size(a))
      .withColumn("sz_b", size(b))
  }

  /** Shared candidate→shingle-array scaffold for the BANDED scoring
    * family: minhash band-collision pairs with their [[arrayOverlap]]
    * over distinct shingles, computed for pair participants only
    * ([[pairsWithParticipants]]), so the shuffle carries |participants|
    * arrays, not |corpus|.
    */
  private def bandedPairsWithShingles(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (pairs, docs) = pairsWithParticipants(spark, sfDir,
      array_distinct(shingles3(col("text"))).as("ds"))
    arrayOverlap(pairs, docs, "ds")
  }

  /** Band-first n-gram Jaccard — the 100 TB form of [[ngramJaccard]].
    * The postings self-join generator is superlinear on replicated
    * corpora (candidates = Σ_shingle df², which a df stop-cap only
    * bounds as maxDf·Σdf — measured 28.5× for 10× data at the sf100
    * probe); band-LSH candidate generation is linear in documents
    * (15.6× at the same probe), so here the bands GENERATE and the
    * exact shingle arithmetic only SCORES the banded candidate set —
    * the [[verifyPairs]] shape generalized.
    *
    * Recall contract (restated by the oracle): a pair is scored iff its
    * 16-row minhash signatures collide on ≥1 of 4 bands — the standard
    * LSH S-curve, ~96% at Jaccard 0.8 for (4,4); pairs that never
    * band-collide are absent by design. Corpus-wide (no source
    * blocking): the bands already bound the candidate volume, which is
    * what the per-source blocking in [[ngramJaccard]] was for.
    */
  def ngramJaccardBanded(spark: SparkSession, sfDir: String): DataFrame =
    jaccard(bandedPairsWithShingles(spark, sfDir))

  /** Band-first asymmetric containment — the scale form of
    * [[containment]], whose corpus-wide postings join ABORTED the sf100
    * probe (>50 GB shuffle+spill). Bands generate the candidate set;
    * containment is scored exactly on each banded pair from its smaller
    * side (C = n_inter/sz_small ≥ 0.9 by cross-multiplication).
    *
    * Recall contract (restated by the oracle): banded. Minhash collision
    * probability tracks JACCARD, not containment, so this surfaces
    * contained pairs whose sizes are comparable (an excerpt that IS most
    * of the big doc) and misses strongly asymmetric ones (50 shingles
    * inside 5000 → Jaccard 0.01 never bands) — the honest envelope of a
    * symmetric-LSH generator. [[containmentEnsemble]] is the scale form
    * WITHOUT that envelope: min-wise inclusion probes whose collision
    * probability is the containment score itself, recall-complete at
    * any asymmetry. [[containment]] remains the exact generator below
    * the scale where its postings join fits (size-gated).
    */
  def containmentBanded(spark: SparkSession, sfDir: String): DataFrame = {
    // minhashPairs emits doc_a < doc_b, so side a wins every size tie
    val aSmall = smallerFirst(col("sz_a"), col("sz_b"), lit(true))
    containmentScore(bandedPairsWithShingles(spark, sfDir).select(
      when(aSmall, col("doc_a")).otherwise(col("doc_b")).as("doc_a"),
      when(aSmall, col("doc_b")).otherwise(col("doc_a")).as("doc_b"),
      col("n_inter"),
      least(col("sz_a"), col("sz_b")).as("sz_a"),
      greatest(col("sz_a"), col("sz_b")).as("sz_b")))
  }

  /** Asymmetric containment at scale — the MIN-WISE INCLUSION ENSEMBLE,
    * closing the recall gap [[containmentBanded]] honestly declares
    * (symmetric minhash-LSH tracks Jaccard, so a 50-shingle excerpt
    * inside a 5000-shingle host — Jaccard ≈ 0.01 — never band-collides;
    * the exact [[containment]] postings join that catches it disk-aborts
    * at sf100).
    *
    * Candidate generation uses the min-wise sampling identity (Broder,
    * "On the resemblance and containment of documents", SEQUENCES 1997):
    * under a random permutation π of the shingle universe, argmin_π(A)
    * is a UNIFORM sample of A, so P(argmin_π(A) ∈ B) = |A∩B|/|A| =
    * C(A,B) — the collision probability IS the containment score,
    * independent of |B| and therefore of asymmetry. Each document emits
    * `numProbes` argmin shingles (one per independent permutation,
    * π_i = md5(i ∥ "|" ∥ ·), the corpus's standard minhash family) as
    * its QUERY rows; the INDEX side is the plain kept-postings relation
    * the corpus already materializes. Hits are AND-amplified: a pair is
    * verified only when ≥ `minHits` of the small side's probes land in
    * the big side — hits ~ Binomial(numProbes, C), so at the defaults
    * (8, 2) a qualifying pair (C ≥ 0.9) is missed with probability
    * (1−C)⁸ + 8·C·(1−C)⁷ ≈ 7×10⁻⁷ — effectively exact at ANY
    * asymmetry, the property the named production design for this gap
    * (LSH Ensemble, Zhu et al., VLDB 2016: size-partitioned corpora
    * with per-partition band thresholds from
    * J ≥ t·|A|/(|A|+|B|−t·|A|)) only approaches with hundreds of
    * hashes. The ensemble-of-partitions machinery is deliberately NOT
    * reproduced: its index side multiplies postings by the band count
    * (a ~K× shuffle at 100 TB), while the inclusion probe keeps the
    * index at |postings| rows exactly.
    *
    * Why minHits = 2 and not 1: one inclusion hit surfaces every pair
    * sharing ANY sampled shingle — junk pairs with C ≈ a few percent,
    * measured 25.9 M candidates at sf10 whose exact verification (array
    * shuffles + intersects) dwarfed the probe cost, and whose volume
    * grows with replica df at larger scale. Requiring a SECOND
    * independent hit multiplies junk survival by ~28·C² (binomial tail)
    * while costing the 7×10⁻⁷ above. Probes are counted per probe
    * index, not per distinct shingle, so a tiny doc whose argmins
    * coincide still reaches the threshold through repeat hits.
    *
    * Probes are SIZE-ORIENTED (round 15): a hit row is kept only when
    * the PROBING doc is the strictly smaller side (ties: the smaller
    * doc_id), because the output predicate scores containment from the
    * smaller side — its probes are the only channel whose per-probe hit
    * probability is the scored C (a bigger doc probing a contained
    * smaller one hits with probability n_inter/sz_big, which the
    * qualifying asymmetric case drives to zero — that channel found
    * nothing the small side's probes don't). Recall is EXACTLY the
    * binomial envelope above (it was a lower bound before), each
    * unordered pair now surfaces in exactly one orientation (the
    * least/greatest + distinct pass died with the double counting), and
    * the round-15 sf10 profile's junk halves: pre-filter hit volume
    * 38.8 M rows → 34.6 M nearly-all-distinct pair keys in the count
    * state, of which only 3.2 M reached minHits and 25.6 k verified —
    * the moderate-overlap within-family pairs that probe BOTH ways were
    * the bulk of that state.
    *
    * Scale shape: stop-capped postings (df ≤ `maxDf`, the same
    * corpus-wide cap and therefore the same shingle universe as the
    * exact form) bound every probe's fan-out at maxDf candidates, so
    * pre-amplification hit volume ≤ numProbes·maxDf·N — linear in
    * documents — and it collapses in a partial-aggregated pair count
    * before anything wide moves. Verification is exact on
    * participant-only kept arrays; precision never degrades. Both the
    * probe join and the two verification joins are SHUFFLE_HASH-hinted
    * with the BOUNDED side as build (probe rows: numProbes·N ≤ a few
    * hundred bytes per doc per partition; kept arrays: ~sz·8 B per doc)
    * — sort-merge would sort the UNBOUNDED side (the postings stream /
    * the candidate×array rows, the widest relations in the plan), which
    * is exactly the sf100 spill this operator measured at 19.9×.
    */
  def containmentEnsemble(spark: SparkSession, sfDir: String,
      maxDf: Int = 100, numProbes: Int = 8, minHits: Int = 2): DataFrame = {
    // shingles travel as 60-bit fingerprints (fp60): the two corpus-wide
    // array checkpoints below were ~50 GB each DESERIALIZED as strings
    // at the 5 M-doc probe (the measured disk-full spiller) and are ~6×
    // smaller as longs; probe selection, df counts, and intersection
    // counts are representation-exact (the oracle mirrors the
    // fingerprint probes)
    val docsArr = Tables.documents(spark, sfDir)
      .select(col("doc_id"), shingleFps3(col("text")).as("ds"))
      .truncateLineage() // one shingling pass feeds stop-df and kept
    val stopDf = stopKeys(docsArr.select(explode(col("ds")).as("fp")),
        Seq("fp"), maxDf)
      .truncateLineage() // the size gate's count re-reads materialized rows
    // SIZE-GATED stop strategy (the pruneToParticipants discipline): the
    // df>maxDf set grows with DISTINCT text, so on a diverse warehouse
    // corpus a single-row collect_list array would blow the driver and
    // broadcast limits long before the postings math does. Below the
    // limit (default 1 M fps = 8 MB of longs) keep the one-row broadcast
    // + narrow per-row array_except; above it degrade to the exploded
    // anti-join — one extra linear shuffle plus a collect back to
    // arrays, never a corpus-dependent broadcast.
    val keptRaw =
      if (stopDf.count() <= GraftConf.DedupStopBroadcastLimit(spark)) {
        val stopArr = stopDf.agg(collect_list(col("fp")).as("stop_arr"))
        docsArr.crossJoin(broadcast(stopArr))
          .select(col("doc_id"),
            array_except(col("ds"), col("stop_arr")).as("ks"))
      } else {
        // collect_list order is nondeterministic, but every consumer of
        // `ks` is order-invariant (array_min over transform, explode,
        // array_intersect sizes) — the strategy-identity spec pins it
        docsArr.select(col("doc_id"), explode(col("ds")).as("fp"))
          .join(stopDf, Seq("fp"), "left_anti")
          .groupBy(col("doc_id")).agg(collect_list(col("fp")).as("ks"))
      }
    val kept = keptRaw
      .truncateLineage() // feeds probes, postings, and verification
      // all-stopped docs drop AFTER materialization: a filter before
      // the checkpoint would re-evaluate array_except per interpreted
      // predicate conjunct (see dupNgrams — the codegen-fallback trap)
      .filter(size(col("ks")) > 0)
    // query side: numProbes argmin fingerprints per doc; struct min
    // orders by (md5, fp) so any tie would break identically everywhere
    val probes = (0 until numProbes).map { i =>
      array_min(transform(col("ks"),
        x => struct(md5(concat(lit(i + "|"), x.cast("string"))).as("h"),
          x.as("s"))))("s")
    }
    val qmins = kept.select(col("doc_id").as("qdoc"),
      size(col("ks")).as("sz_q"), explode(array(probes: _*)).as("fp"))
    val postings = kept.select(col("doc_id").as("pdoc"),
      size(col("ks")).as("sz_p"), explode(col("ks")).as("fp"))
    // size orientation rides the join condition: hits where the probing
    // doc is the bigger side never leave the probe (see Scaladoc); the
    // build side is the probe relation (numProbes rows per doc, 20 B
    // each), the postings stream never sorts
    val cand = qmins.hint("shuffle_hash").join(postings, "fp")
      .filter(smallerFirst(col("sz_q"), col("sz_p"), col("qdoc") < col("pdoc")))
      .groupBy(col("qdoc"), col("pdoc"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
      // one orientation per unordered pair by construction: qdoc IS the
      // smaller side (ties: the smaller id) — the output's doc_small
      .select(col("qdoc").as("doc_a"), col("pdoc").as("doc_b"))
      .truncateLineage()
    containmentScore(arrayOverlap(cand,
      pruneToParticipants(spark, kept, cand).hint("shuffle_hash"), "ks"))
  }

  /** Fuzzy entity resolution by edit distance — the typo/near-miss name
    * matcher, via FastSS deletion-neighborhood blocking (Bocek et al.,
    * "Fast Similarity Search in Large Dictionaries", 2007): two strings
    * within Levenshtein distance 1 ALWAYS share a member of each
    * other's single-deletion neighborhood, so candidate generation is a
    * plain EQUI-join on generated deletion keys — never a quadratic
    * scan within coarse blocks (first-letter blocking's failure mode),
    * never a cartesian. Keying each deletion variant by its POSITION
    * sharpens the classic construction: same-position matches are
    * distance-1 substitutions by construction and variant-to-full-name
    * matches are distance-1 edits by construction, so no verify stage
    * runs at all (the bare-variant join over-generates transposition
    * pairs and needs a levenshtein pass — the DuckDB oracle keeps that
    * independent formulation as the cross-check).
    *
    * Scale: variants = O(N × name-length) rows of (name, key); the
    * self-join shuffles on the key, and each key bucket holds only the
    * handful of names one deletion apart — skew-free by construction.
    * Output is the neighbor-count histogram: bounded by max degree, not
    * corpus size.
    */
  def fuzzyNameMatch(spark: SparkSession, sfDir: String): DataFrame = {
    // resolve DISTINCT entities: fuzzy ER is a relation over names, not
    // rows — duplicated source rows (10x at scaled sf) must not square
    // the match multiplicity
    val names = Tables.customer(spark, sfDir).select(col("c_name").as("nm"))
      .distinct()
      .repartition() // single-file dim: spread the explode + probes
    // One deletion variant per position, KEYED BY POSITION. Joining on
    // (variant, position) makes the match exact by construction:
    //   - same-position deletion match ⟺ the two names are equal
    //     everywhere except that position ⟺ substitution distance 1
    //     (and each such pair matches at exactly ONE position — no
    //     dedup pass needed);
    //   - a deletion variant equal to a FULL name ⟺ insert/delete
    //     distance 1.
    // The naive FastSS join on bare variants admits cross-position
    // false positives (transpositions), forcing a levenshtein verify
    // over the full candidate stream — position-keying removes the
    // verify stage wholesale (measured 5× on this query).
    val dels = names
      .select(col("nm"), explode(sequence(lit(0), length(col("nm")) - 1)).as("i"))
      .select(col("nm"), col("i"),
        concat(col("nm").substr(lit(1), col("i")),
          col("nm").substr(col("i") + 2, length(col("nm")))).as("key"))
    val subPairs = dels.as("a").join(dels.as("b"),
        col("a.key") === col("b.key") && col("a.i") === col("b.i")
          && col("a.nm") < col("b.nm"))
      .select(col("a.nm").as("n1"), col("b.nm").as("n2"))
    // "xaay" deletes either 'a' to the same variant → distinct required
    val delPairs = dels.as("a").join(names.as("b"), col("a.key") === col("b.nm"))
      .select(least(col("a.nm"), col("b.nm")).as("n1"),
        greatest(col("a.nm"), col("b.nm")).as("n2")).distinct()
    val matched = subPairs.union(delPairs)
    // both endpoints via ONE explode — a self-union would re-execute the
    // whole candidate subtree once per branch
    val neigh = matched
      .select(explode(array(col("n1"), col("n2"))).as("nm"))
      .groupBy(col("nm")).agg(count(lit(1)).as("n_neighbors"))
    neigh.groupBy(col("n_neighbors"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("nm")).as("first_name"), max(col("nm")).as("last_name"))
  }

  /** Line-level boilerplate removal (the C4/RefinedWeb curation step):
    * segment every document into fixed-width token "lines", count each
    * line's exact occurrences across the WHOLE corpus, and rebuild each
    * document from only the lines that are not corpus-frequent (nav
    * bars, cookie banners, license footers — anything repeated more
    * than `maxOcc` times). Unlike document-level dedup this edits
    * inside documents, so the output is the cleaned text plus the
    * kept/total accounting a curation run reports.
    *
    * Scale shape: the corpus-wide count shuffles md5(line) — a 16-byte
    * key — not the line text; the join back to segments is on the same
    * hash, and reassembly is one (doc_id) aggregation whose
    * collect_list holds only the document's own surviving lines
    * (bounded by document length, the same bound the raw text row
    * already carries). Nothing all-pairs, no driver-side state; the
    * whole operator is two hash shuffles on a 100 TB corpus.
    */
  def lineDedup(spark: SparkSession, sfDir: String,
      lineTokens: Int = 10, maxOcc: Int = 2): DataFrame = {
    val segs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      // line starts every `lineTokens` while < n (chunkStride's idiom:
      // sequence-with-step avoids an integer-division ceil)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n") - 1, lit(lineTokens))).as("start"))
      .select(col("doc_id"),
        (col("start") / lineTokens).cast("int").as("line_idx"),
        array_join(slice(col("toks"), col("start") + 1, lit(lineTokens)), " ")
          .as("line"))
      .withColumn("lh", md5(col("line")))
    val counts = segs.groupBy(col("lh"))
      .agg(count(lit(1)).as("n_occ"))
    segs.join(counts, "lh")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("n_occ") <= maxOcc, 1L).otherwise(0L)).as("n_kept"),
        // order-preserving reassembly: sort the surviving (idx, line)
        // structs, then join the texts — collect_list drops the nulls
        // the `when` leaves for boilerplate lines
        array_join(
          transform(
            array_sort(collect_list(
              when(col("n_occ") <= maxOcc,
                struct(col("line_idx"), col("line"))))),
            x => x.getField("line")),
          " ").as("clean_text"))
  }
}
