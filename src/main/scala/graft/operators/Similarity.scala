package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.{cosine_similarity, quantized_cosine}
import graft.Checkpoints.TruncateOps
import graft.sources.Tables

/** Similarity search over the `embeddings` table (SURVEY.md §2.I3 + the
  * driver's north-star ANN surface).
  *
  * Two paths:
  *   - **Brute force** — codegen'd cosine against a broadcast query
  *     vector, then TakeOrderedAndProject. At 100 TB this is one
  *     scan-speed pass: no shuffle, per-partition top-k heaps, k rows per
  *     partition to the driver.
  *   - **LSH (random hyperplanes)** — deterministic md5-derived ±1
  *     hyperplanes give every vector a sign-bucket; candidates = the
  *     query's bucket only. The bucket column is computed per-row
  *     (narrow) and at scale becomes the partition/cluster key, pruning
  *     the scan by ~2^planes.
  */
object Similarity {

  /** Deterministic ±1 hyperplane weights: w(p,i) = +1 if the first md5
    * nibble of "p_i" ≥ 8 else −1. Reproduced verbatim in the DuckDB
    * oracles (same md5, same rule).
    */
  private[graft] def planeWeights(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dim).map { i =>
        md.reset()
        val hex = md.digest(s"${p}_$i".getBytes("UTF-8"))
        if (((hex(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
      }
    }
  }

  /** The query row: every single-query search asks for vec_id 0's
    * neighbours.
    */
  private val isQuery: Column = col("vec_id") === 0

  /** The query vector row (vec_id = 0), broadcast to every executor. */
  private def queryVecFrom(emb: DataFrame): DataFrame =
    broadcast(emb.filter(isQuery)
      .select(col("embedding").as("q_embedding")))

  /** The exact ranking every search ends in, whatever generated its
    * candidates: `cosine` of each candidate's `embedding` against the
    * `q_embedding` it carries, the `k` best by (score desc, vec_id),
    * projected to vec_id, the `carried` columns and the 6-place score.
    */
  private def exactTopK(cand: DataFrame, k: Int,
      cosine: (Column, Column) => Column, carried: Seq[String]): DataFrame =
    cand
      .withColumn("raw_score", cosine(col("embedding"), col("q_embedding")))
      .orderBy(col("raw_score").desc, col("vec_id"))
      .limit(k)
      .select((col("vec_id") +: carried.map(col)) :+
        round(col("raw_score"), 6).as("score"): _*)

  /** Brute-force top-k cosine against the query vector. */
  def topK(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    topKFrom(Tables.embeddings(spark, sfDir), k)

  /** Brute force over an explicit (vec_id, label, embedding) relation. */
  private[graft] def topKFrom(emb: DataFrame, k: Int): DataFrame =
    exactTopK(emb.crossJoin(queryVecFrom(emb)), k, cosine_similarity, Nil)

  /** Batch kNN join — every vector in a query SET gets its top-k
    * neighbors in one pass (the retrieval/serving shape; `topK` is the
    * single-query special case). The query side broadcasts (it is small
    * by construction), scoring is a map-side broadcast nested-loop —
    * the corpus never shuffles its embeddings. The rank filter over the
    * per-query window is NOT a full shuffle of all scored rows: Spark's
    * `InferWindowGroupLimit` inserts a partial WindowGroupLimit before
    * the exchange, so each input partition forwards at most k rows per
    * query — the shuffle carries O(partitions × queries × k) tuples,
    * independent of corpus size.
    */
  def knnJoin(spark: SparkSession, sfDir: String,
      numQueries: Int = 8, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val queries = broadcast(emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("raw").desc, col("vec_id"))
    emb.join(queries, col("vec_id") =!= col("query_id"))
      .withColumn("raw", cosine_similarity(col("embedding"), col("q_embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), round(col("raw"), 6).as("score"))
  }

  /** Sign-bucket assignment under 4 deterministic hyperplanes: 16 buckets,
    * so the candidate set shrinks ~16× at any scale. Bucket bits are a
    * per-row map — the exchange-free half of ANN.
    */
  def lshBuckets(spark: SparkSession, sfDir: String, numPlanes: Int = 4): DataFrame =
    lshBucketsFrom(Tables.embeddings(spark, sfDir), numPlanes)

  private[graft] def lshBucketsFrom(emb: DataFrame, numPlanes: Int): DataFrame = {
    val planes = planeWeights(numPlanes, 64)
    val bucketBits = (0 until numPlanes).map { p =>
      val dot = aggregate(
        zip_with(col("embedding"), typedlit(planes(p)), (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v)
      when(dot > 0, lit("1")).otherwise(lit("0"))
    }
    emb.select(col("vec_id"), col("label"), col("embedding"),
      concat(bucketBits: _*).as("bucket"))
  }

  /** LSH-pruned top-k: exact cosine, but only inside the query's bucket.
    * The bucket equi-join replaces the full scan — the scale path when
    * brute force stops fitting the latency budget.
    */
  def topKLsh(spark: SparkSession, sfDir: String, k: Int = 10,
      numPlanes: Int = 4): DataFrame =
    topKLshFrom(Tables.embeddings(spark, sfDir), k, numPlanes)

  private[graft] def topKLshFrom(emb: DataFrame, k: Int,
      numPlanes: Int): DataFrame = {
    val b = lshBucketsFrom(emb, numPlanes)
    val qb = broadcast(b.filter(isQuery)
      .select(col("bucket").as("q_bucket"), col("embedding").as("q_embedding")))
    exactTopK(b.join(qb, col("bucket") === col("q_bucket")), k,
      cosine_similarity, Seq("bucket"))
  }

  /** (label, vec_id, dim, v): the 1-based double explode the label
    * centroids are built from.
    */
  private def labelEx(emb: DataFrame): DataFrame =
    emb.select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("label"), col("vec_id"), (col("pos") + 1).as("dim"),
        col("vf").cast("double").as("v"))

  /** Per-label element-wise mean (label, dim, c) of a [[labelEx]] frame. */
  private def labelCentroids(ex: DataFrame): DataFrame =
    ex.groupBy(col("label"), col("dim"))
      .agg((sum(col("v")) / count(lit(1))).as("c"))

  /** Cosine of `x` and `y` per `keys` group, from the three sums:
    * `keys` plus `cos`.
    */
  private def groupCosine(df: DataFrame, keys: Seq[String], x: Column,
      y: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(x * y).as("dot"), sum(x * x).as("na"), sum(y * y).as("nb"))
      .select(keys.map(col) :+
        (col("dot") / (sqrt(col("na")) * sqrt(col("nb")))).as("cos"): _*)

  /** Per-label centroid distances: element-wise mean per label (long
    * format: explode dims, then a window on (label, dim) puts the
    * centroid coordinate `c` beside each `v`), then each vector's cosine
    * to its label centroid — the building block of IVF-style coarse
    * quantization (assign-to-centroid) and of cluster-quality audits.
    * One scan, one explode and two shuffles: (label, dim) for the
    * centroid, vec_id for the re-aggregation; both move scalars, never
    * whole vectors. An unlabelled vector has no centroid and no row.
    */
  def centroidDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val byDim = Window.partitionBy(col("label"), col("dim"))
    val ex = labelEx(Tables.embeddings(spark, sfDir).filter(col("label").isNotNull))
      .withColumn("c", sum(col("v")).over(byDim) / count(lit(1)).over(byDim))
    groupCosine(ex, Seq("vec_id", "label"), col("v"), col("c"))
      .select(col("vec_id"), col("label"), round(col("cos"), 6).as("score"))
  }

  /** IVF-style ANN (1-probe): coarse centroids are the per-label
    * element-wise means; the query is assigned to its nearest centroid
    * by cosine, and the exact top-k search runs ONLY inside that label's
    * partition — the inverted-file pattern where the coarse key prunes
    * the scan to 1/num_partitions of the corpus at any scale (store the
    * table partitioned by the coarse key and the pruning is physical).
    * Centroid assignment moves only (label, dim, scalar) rows — never
    * whole vectors — and the probe side is a broadcast of one label key.
    *
    * `nprobe` > 1 is the standard IVF recall knob: search the `nprobe`
    * nearest coarse partitions instead of one, trading a linear scan-cost
    * increase (still nprobe/num_partitions of the corpus) for recall on
    * queries that fall near a partition boundary. The probe set stays a
    * broadcast of `nprobe` label keys, so the plan shape is unchanged.
    */
  def topKIvf(spark: SparkSession, sfDir: String, k: Int = 10,
      nprobe: Int = 1): DataFrame =
    topKIvfFrom(Tables.embeddings(spark, sfDir), k, nprobe)

  /** IVF over an explicit (vec_id, label, embedding) relation. */
  private[graft] def topKIvfFrom(emb: DataFrame, k: Int, nprobe: Int): DataFrame =
    exactTopK(emb.join(broadcast(labelProbe(emb, nprobe)), "label")
        .crossJoin(queryVecFrom(emb)), k, cosine_similarity, Seq("label"))

  /** The `nprobe` labels whose centroids are nearest the query by
    * cosine, ties to the lower label: [[topKIvfFrom]]'s probe set.
    */
  private[graft] def labelProbe(emb: DataFrame, nprobe: Int): DataFrame = {
    val q = labelEx(emb.filter(isQuery)).select(col("dim"), col("v").as("qv"))
    groupCosine(labelCentroids(labelEx(emb)).join(broadcast(q), "dim"),
        Seq("label"), col("c"), col("qv"))
      .orderBy(col("cos").desc, col("label")).limit(nprobe)
      .select(col("label"))
  }

  /** Corpus-adaptive hyperplane count: [[Dedup.blockWidth]] with a floor
    * of 4 planes, so bucket occupancy stays near [[Dedup.Occupancy]] and
    * candidate pairs grow linearly with N. The DuckDB oracle computes the
    * identical count: P = max(4, len(bin(N/32))).
    */
  private[graft] def adaptivePlanes(n: Long): Int = Dedup.blockWidth(4, n)

  /** [[adaptivePlanes]] of the corpus: the row count is the input of the
    * oracle's `count(*) // 32` rule.
    */
  private def corpusPlanes(spark: SparkSession, sfDir: String): Int =
    adaptivePlanes(Tables.embeddings(spark, sfDir).count())

  /** Successor-capped pairs of LSH blocks under [[adaptivePlanes]]
    * hyperplanes, each with its `raw_score`. `bucket` (the signs under
    * the first `planes` hyperplanes) blocks; the locality order of
    * [[Dedup.cappedBlockPairs]] is `subkey` (the signs under 8 more, so
    * its last 8 bits are what vary inside a block), then vec_id.
    * Near-identical replicas agree on the extra bits with the same
    * probability they agree on the block bits, so families sort
    * adjacently. Pair SCORING (vs retrieval ranking) uses the
    * quantized-integer cosine: exact long accumulation, so a threshold
    * or a per-label argmax never hinges on a last-ulp double wobble
    * between engines.
    */
  private def cappedEmbeddingPairs(spark: SparkSession, sfDir: String,
      blockCols: Seq[String], maxSucc: Int): DataFrame = {
    val planes = corpusPlanes(spark, sfDir)
    val blocks = lshBucketsFrom(Tables.embeddings(spark, sfDir), planes + 8)
      .withColumnRenamed("bucket", "subkey")
      .withColumn("bucket", substring(col("subkey"), 1, planes))
    Dedup.cappedBlockPairs(blocks, blockCols, "vec_id",
        Seq("subkey", "vec_id"), Seq("embedding"), maxSucc)
      .select(blockCols.map(col) ++ Seq(
        col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        quantized_cosine(col("embedding_a"), col("embedding_b")).as("raw_score")): _*)
  }

  /** Embedding near-dup via LSH blocking — the scale path: candidate
    * pairs come from sign-bucket collisions under [[adaptivePlanes]]
    * hyperplanes (bucket count tracks corpus size, so candidate volume
    * stays linear in N), then exact cosine on candidates only. Recall
    * contract: every pair within the successor cap of its bucket's
    * locality order, with its score; the default cap is the designed
    * occupancy, so ordinary buckets still emit all pairs and only mega
    * dup-families are trimmed to their linear successor band.
    * [[pairBudget]] accounts for exactly what the cap dropped. A dedup
    * pipeline thresholds downstream. More planes trade recall for cost
    * exactly like any LSH family; the minhash band construction is the
    * recall-tunable alternative when that knob matters.
    */
  def nearDupLsh(spark: SparkSession, sfDir: String,
      maxSucc: Int = Dedup.Occupancy): DataFrame =
    cappedEmbeddingPairs(spark, sfDir, Seq("bucket"), maxSucc)
      .select(col("bucket"), col("vec_a"), col("vec_b"),
        round(col("raw_score"), 6).as("score"))

  /** Dropped-pair accounting for the successor cap: per-corpus totals of
    * bucket count, mega buckets (those the cap trims), full all-pairs
    * volume, emitted capped volume, and the dropped remainder — the
    * numbers a pipeline owner reads before trusting capped dedup output.
    * Closed-form from bucket sizes (for size g, cap m: emitted =
    * C(g,2) when g−1 ≤ m else m·g − m(m+1)/2), so the audit costs one
    * bucket aggregate, never a pair materialization.
    */
  def pairBudget(spark: SparkSession, sfDir: String,
      maxSucc: Int = Dedup.Occupancy): DataFrame = {
    val planes = corpusPlanes(spark, sfDir)
    val m = maxSucc.toLong
    val tri = m * (m + 1) / 2 // Σ 1..m, the capped tail's triangle
    lshBuckets(spark, sfDir, planes)
      .groupBy(col("bucket")).agg(count(lit(1)).as("g"))
      .select(col("g"),
        expr("g * (g - 1) div 2").as("full_pairs"),
        when(col("g") - 1 <= m, expr("g * (g - 1) div 2"))
          .otherwise(lit(m) * col("g") - lit(tri)).as("emitted_pairs"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("g") - 1 > m, 1L).otherwise(0L)).as("n_mega_buckets"),
        sum(col("full_pairs")).as("full_pairs"),
        sum(col("emitted_pairs")).as("emitted_pairs"),
        sum(col("full_pairs") - col("emitted_pairs")).as("dropped_pairs"))
  }

  /** Semantic dedup terminal: connected components over the thresholded
    * embedding-similarity candidate graph — the embedding-space analogue
    * of the minhash dedup pipeline (candidates from LSH buckets, exact
    * cosine verification, threshold, cluster, canonical-per-cluster).
    * Reuses the text pipeline's label-propagation loop; edges are the
    * LSH-bucket pairs with cosine ≥ `threshold`, so the graph is built
    * without ever going all-pairs.
    */
  def semanticDedup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3): DataFrame = {
    val pairs = nearDupLsh(spark, sfDir)
      .filter(col("score") >= threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      .truncateLineage()
    val nodes = Tables.embeddings(spark, sfDir).select(col("vec_id").as("doc_id"))
    val out = Dedup.componentsFromPairs(spark, pairs, nodes)
      .select(col("doc_id").as("vec_id"), col("component_id"), col("is_canonical"))
    pairs.unpersist()
    out
  }

  /** Embedding near-dup detection: the most-similar intra-bucket pair per
    * label. The self-join blocks on (label, LSH bucket) — never label
    * alone: a low-cardinality label makes label-only blocking quadratic
    * per block, while the bucket key divides every block by ~2^planes at
    * any scale. Candidates that are true near-dups share a bucket with
    * high probability (sign-LSH), so the per-label winner is preserved
    * where it matters; codegen'd cosine + one struct-max aggregate on top.
    */
  def nearestPairPerLabel(spark: SparkSession, sfDir: String): DataFrame = {
    // Adaptive plane count (not the fixed 4-plane default): with fixed
    // planes, bucket occupancy grows with N and intra-bucket pairs with
    // N²/2^planes — the round-10 ratio audit measured 28.8× at 10× data.
    // Contract: the argmax ranges over the capped candidate set — the
    // subkey locality order sorts a mega dup-family's near-identical
    // members adjacently, so the rank-successor candidates are exactly
    // where the per-label winner lives.
    val pairs = cappedEmbeddingPairs(spark, sfDir, Seq("label", "bucket"),
        Dedup.Occupancy)
    // Per-label ARGMAX as a MAX over an ordering struct, NOT a
    // row_number window: the window shape shuffles every candidate pair
    // into |labels| partitions and SORTS each one whole (a handful of
    // single-threaded multi-GB sorts at sf100 — the round-11 probe
    // caught it grinding one core for most of an hour). struct max is
    // partial-aggregable: each map task reduces its pairs to ≤|labels|
    // rows before the exchange, so the shuffle carries |labels| × tasks
    // rows no matter the pair volume. Negated tie keys give the same
    // (score DESC, vec_a ASC, vec_b ASC) order the window used.
    pairs
      .groupBy(col("label"))
      .agg(max(struct(col("raw_score"),
        (-col("vec_a")).as("na"), (-col("vec_b")).as("nb"))).as("top"))
      .select(col("label"), (-col("top.na")).as("vec_a"),
        (-col("top.nb")).as("vec_b"),
        round(col("top.raw_score"), 6).as("score"))
  }

  /** Per-vector int8 scalar quantization — the 4× storage compression an
    * embedding store applies before ANN serving. Pure per-row map (no
    * shuffle): min/max over the vector, then floor((x−mn)·127/(mx−mn))
    * per dimension. All arithmetic is float→double→IEEE ops evaluated in
    * the same order on both engines, so the oracle matches bit-for-bit;
    * the emitted columns are range + checksum aggregates of the
    * quantized vector (per-engine array rendering differs, scalars
    * don't).
    */
  def quantize(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialize min/max as scalar columns BEFORE the per-element
    // lambda: higher-order functions are interpreted, so an
    // array_min(...) referenced inside the lambda would re-traverse the
    // whole vector per element — O(d²) per row (measured 6 s for 2 000
    // 64-dim vectors; ~50 ms this way).
    val q = transform(col("emb"), x =>
      when(col("emb_max") > col("emb_min"),
        floor((x - col("emb_min")) * lit(127.0) / (col("emb_max") - col("emb_min"))))
        .otherwise(lit(0.0)).cast("int"))
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
      .withColumn("emb_min", array_min(col("emb")))
      .withColumn("emb_max", array_max(col("emb")))
      // materialize the quantized array ONCE: lambda expressions are
      // excluded from subexpression elimination, so referencing `q`
      // four times below would quantize each vector four times
      .withColumn("qv", q)
      .select(
        col("vec_id"),
        col("emb_min"), col("emb_max"),
        size(col("qv")).as("n_dims"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("qv")).as("q_min"),
        array_max(col("qv")).as("q_max"))
  }

  /** Deterministic distributed k-means (fixed Lloyd iterations) — the
    * clustering pass a training-data pipeline runs for corpus topic
    * balancing / IVF list building. Everything is exact integer
    * arithmetic so any engine reproduces identical clusters:
    *
    *   - coordinates snap once to ×10⁶ fixed-point, then shift +10⁶ so
    *     every value is POSITIVE — floor and truncating integer
    *     division agree on positives, removing the Spark `div` vs
    *     DuckDB `//` negative-operand mismatch by construction;
    *   - squared L2 distances are exact BIGINT sums (≤ ~7×10¹³ for 64
    *     dims, far under 2⁶³);
    *   - centroid updates are integer floor-mean (sum div count);
    *   - assignment ties break to the lowest centroid id.
    *
    * Seeds are the k smallest vec_ids; `iters` Lloyd rounds unroll into
    * ONE declarative plan (the pagerank pattern — no driver pacing, AQE
    * sizes every exchange). Scale shape per round: centroids are k×dim
    * rows (broadcast); the corpus pays one narrow (vec_id, dim, value)
    * shuffle for the distance aggregate and one for the assignment
    * window — embeddings never materialize as all-pairs.
    */
  def kmeans(spark: SparkSession, sfDir: String, k: Int = 8, iters: Int = 2): DataFrame =
    kmeansModel(spark, sfDir, k, iters)._1
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
      .select(col("cid").as("cluster_id"), col("n_vecs"), col("inertia"))

  /** The ×10⁶ fixed-point snap every exact-integer embedding statistic
    * starts from: round(x · 10⁶) as BIGINT.
    */
  private def snap(x: Column): Column = round(x.cast("double") * 1e6).cast("long")

  /** The shared positive fixed-point explode: [[snap]] then +10⁶ shift,
    * so floor and truncating division agree (see [[kmeans]]).
    */
  private def fixedPointEx(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"), (snap(col("v")) + 1000000L).as("vi"))

  /** Exact integer squared L2 distance, named `out`, from each `keys`
    * group of an exploded side `(…, dim, vi)` to a centroid table
    * `(…, dim, ci)` (k×dim rows, broadcast).
    */
  private def sqDist(ex: DataFrame, cent: DataFrame, keys: Seq[String],
      out: String): DataFrame =
    ex.join(broadcast(cent), "dim")
      .groupBy(keys.map(col): _*)
      .agg(sum((col("vi") - col("ci")) * (col("vi") - col("ci"))).as(out))

  /** One exact-integer assignment pass: per `part` group, the centroid
    * `id` of least d², ties to the lower id; rows `(part…, id, d2)`. A PQ
    * codebook's dim is global (0..63), so it already pins the subspace:
    * joining on dim alone never matches a centroid of another subspace.
    */
  private def nearestCentroid(ex: DataFrame, cent: DataFrame,
      part: Seq[String], id: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(part.map(col): _*).orderBy(col("d2"), col(id))
    sqDist(ex, cent, part :+ id, "d2")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select((part :+ id :+ "d2").map(col): _*)
  }

  /** Exact-integer Lloyd over an exploded corpus: seeds are the rows of
    * the first `k` vec_ids, then `iters` rounds of assign → integer
    * floor-mean per (id, dim), then a final assign. Returns (assignment
    * `(part…, id, d2)`, centroids `(id, dim, ci)`, the corpus).
    */
  private def lloyd(corpus: DataFrame, part: Seq[String], id: String,
      k: Int, iters: Int): (DataFrame, DataFrame, DataFrame) = {
    val ex = corpus.truncateLineage() // reused every round: snap once
    var cent = ex.filter(col("vec_id") < k)
      .select(col("vec_id").as(id), col("dim"), col("vi").as("ci"))
    for (_ <- 1 to iters)
      cent = nearestCentroid(ex, cent, part, id).join(ex, part)
        .groupBy(col(id), col("dim"))
        .agg(expr("sum(vi) div count(*)").as("ci"))
    (nearestCentroid(ex, cent, part, id), cent, ex)
  }

  /** The [[kmeans]] model over `emb`: (final assignment `(vec_id, cid,
    * d2)`, final centroids `(cid, dim, ci)`, fixed-point corpus
    * `(vec_id, dim, vi)`).
    */
  private[graft] def kmeansAssignments(emb: DataFrame, k: Int,
      iters: Int): (DataFrame, DataFrame, DataFrame) =
    lloyd(fixedPointEx(emb), Seq("vec_id"), "cid", k, iters)

  /** TRAIN-ONCE k-means model per (sfDir, k, iters) — centroids and the
    * full assignment relation materialized through the idempotent
    * published store ([[materializedModel]]): codebooks and IVF
    * lists are ARTIFACTS a production deployment trains on a sample and
    * persists next to the corpus, not query plans to re-derive per
    * lookup. Training is exact-integer deterministic, so the stored
    * model is bit-identical to an in-query rederivation (the DuckDB
    * oracles keep rederiving — that IS the equivalence check).
    */
  private[graft] def kmeansModel(spark: SparkSession, sfDir: String,
      k: Int = 8, iters: Int = 2): (DataFrame, DataFrame) = {
    val cent = materializedModel(spark, s"km_cent_k${k}i$iters", sfDir) {
      kmeansAssignments(Tables.embeddings(spark, sfDir), k, iters)._2
    }
    val af = materializedModel(spark, s"km_af_k${k}i$iters", sfDir) {
      // assignment against the FINAL stored centroids — by definition
      // the same relation the training loop's last assign produced
      nearestCentroid(fixedPointEx(Tables.embeddings(spark, sfDir)), cent,
        Seq("vec_id"), "cid")
    }
    (af, cent)
  }

  /** Idempotent per-(model, data) parquet store through [[graft.Staging]]:
    * the key covers the TRAINING DATA's FS fingerprint, not just the path,
    * so regenerating the data in place (ScaleUp wipe/resume with a new
    * factor) forces a retrain — a stale model trained on the old corpus
    * can never be silently served against new vec_ids — and the atomic
    * publish means no reader ever sees a partial model.
    */
  private def materializedModel(spark: SparkSession, name: String,
      sfDir: String)(build: => DataFrame): DataFrame =
    Tables.parquet(spark, graft.Staging.derived(spark, s"model_$name", sfDir,
      Seq(s"$sfDir/embeddings.parquet"))(build.write.mode("overwrite").parquet(_)))

  /** IVF with a LEARNED coarse key — the conclusion the round-9 ANN
    * recall-cost curve measured (PLANS.md): label-IVF prunes at ~1.3×
    * recall-per-byte because a metadata label is not a geometric
    * partition, so the production coarse quantizer must be k-means.
    * The inverted lists are [[kmeansAssignments]]'s final clusters
    * (exact integer Lloyd rounds — every engine derives identical
    * lists); the query probes its `nprobe` nearest centroids by the
    * same exact integer d² metric, and the exact quantized-integer
    * cosine runs ONLY inside the probed clusters. Scale shape: the
    * centroid table is k×dim broadcast rows, the probe set a broadcast
    * of `nprobe` cluster ids, and the scan cost is the probed lists'
    * fraction of the corpus — store the corpus partitioned by `cid`
    * and the pruning is physical, exactly like the date-band layouts.
    */
  def topKIvfKmeans(spark: SparkSession, sfDir: String, k: Int = 10,
      nprobe: Int = 2, kClusters: Int = 8, iters: Int = 2): DataFrame = {
    val (af, cent) = kmeansModel(spark, sfDir, kClusters, iters)
    val emb = Tables.embeddings(spark, sfDir)
    exactTopK(emb.join(probedLists(emb, af, cent, nprobe), "vec_id")
        .crossJoin(queryVecFrom(emb)), k, quantized_cosine, Seq("cid"))
  }

  /** Full covariance matrix in ONE pass: the per-row work is a fused
    * multiply-add loop over a live primitive-array Gram accumulator
    * ([[graft.functions.GramCovAgg]]) instead of materializing
    * d(d+1)/2 pair rows per vector through a hash aggregate — at 10⁸
    * vectors the explode plan pushes 10¹¹ rows through the aggregate,
    * this one streams the vectors once and shuffles one ~34 KB buffer
    * per map task. Same exact-integer algebra (128-bit Σxᵢxⱼ limbs =
    * the DECIMAL(38,0) discipline), same finishing arithmetic, so the
    * result is bit-identical to [[embedCovExploded]] — spec-pinned.
    */
  def embedCov(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      // the snap stays IN the plan (codegen'd transform), so the
      // aggregate is pure integer arithmetic with no rounding to match
      .select(transform(col("embedding"), snap(_)).as("xs"))
      .agg(graft.functions.GramMatrix.gram_cov(col("xs")).as("g"))
      .select(explode(col("g")).as("p"))
      .select(col("p.dim_i").as("dim_i"), col("p.dim_j").as("dim_j"),
        col("p.cov").as("cov"))

  /** The declarative pair-explosion form of [[embedCov]] — kept as the
    * equivalence oracle for the Gram aggregate (and as the reference
    * for the finishing-arithmetic order both paths must share).
    */
  private[graft] def embedCovExploded(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      // snap the whole vector ONCE per row; the pair transform then
      // reads the int array (the first cut re-rounded each component
      // 2·d(d+1)/2 times per row — measured 2x slower interpreted)
      .select(transform(col("embedding"), snap(_)).as("xs"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(xs) - 1), i ->
          |  transform(sequence(i, size(xs) - 1), j ->
          |    struct(i AS di, j AS dj, xs[i] AS xi, xs[j] AS xj))))"""
          .stripMargin)).as("p"))
      .select(col("p.di").as("dim_i"), col("p.dj").as("dim_j"),
        col("p.xi").as("xi"), col("p.xj").as("xj"))
      .groupBy(col("dim_i"), col("dim_j"))
      // one factor is cast to DECIMAL(38,0) so the MULTIPLY itself (and
      // therefore the sum) runs in decimal: xᵢxⱼ is ~10¹², so a BIGINT
      // Σxᵢxⱼ overflows near 10⁷ rows per dim pair while the DuckDB
      // oracle sums into HUGEINT — the decimal accumulator keeps both
      // engines exact to ~10³⁸/10¹² rows
      .agg(count(lit(1)).as("n"),
        sum(col("xi").cast("decimal(38,0)") * col("xj")).as("sxy"),
        sum(col("xi")).as("sx"), sum(col("xj")).as("sy"))
      .select(col("dim_i"), col("dim_j"),
        // + 0.0 canonicalizes IEEE -0.0 (a rounded tiny negative) to 0.0
        (round((col("n").cast("decimal(38,0)") * col("sxy")
            - col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
          / col("n") / col("n") / 1e12, 6) + lit(0.0)).as("cov"))

  /** Per-dimension embedding statistics — the whitening/normalization
    * prep every embedding pipeline runs before indexing or training a
    * probe (a dimension with 10× the variance dominates every cosine
    * unless centered/scaled). Each component is snapped to ×10⁶ BIGINT
    * BEFORE the distributed sums (the charEntropy discipline), so Σx and
    * Σx² are exact integers no matter the summation order — the mean and
    * variance become per-group scalar divisions of exact integers, and
    * float non-associativity across partitions can never split engines.
    *
    * Scale shape: the (dim, component) explode is narrow; partial
    * aggregation means the shuffle carries dims × partitions partial
    * buffers — never N×64 component rows.
    */
  def embedStats(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), snap(col("x")).as("xi"))
    // same decimal discipline as embedCov: xᵢ² ~10¹² would overflow a
    // BIGINT accumulator near 10⁷ rows, and s1² overflows far earlier —
    // every product runs in DECIMAL(38,0) like DuckDB's HUGEINT
    t.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("s1"),
        sum(col("xi").cast("decimal(38,0)") * col("xi")).as("s2"))
      .select(col("dim"), col("n"),
        round(col("s1").cast("double") / 1e6 / col("n"), 6).as("mean"),
        round((col("n") * col("s2")
            - col("s1").cast("decimal(38,0)") * col("s1")).cast("double")
          / col("n") / col("n") / 1e12, 6).as("variance"))
  }

  /** PRODUCT QUANTIZATION model (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011 — public literature): the
    * 64-d space splits into `m` contiguous subspaces of 64/m dims, and
    * each subspace trains its own k-code codebook with the same exact
    * integer Lloyd loop ([[lloyd]]) as [[kmeansAssignments]] (coords
    * snapped ×10⁶ then shifted +10⁶ so floor division and argmin ties
    * agree across engines; seeds = the first k vec_ids' subvectors;
    * fixed `iters` rounds). A vector's PQ code is its per-subspace argmin — m small
    * ints replacing 64 floats (~32× compression at m=8/k=16).
    *
    * Scale shape: the codebook is m×k×(64/m) = 1024 tiny rows,
    * broadcast; training is `iters` passes of narrow (vec_id, dim)
    * shuffles with map-side partial d² sums; the encoded corpus —
    * the thing a 100 TB deployment actually stores — is m bytes/vector.
    *
    * Returns (codes `(vec_id, sub, code, d2)`, codebook
    * `(code, dim, ci)` — dim implies the subspace, final centroids,
    * fixed-point corpus `(vec_id, sub, dim, vi)`).
    */
  private[graft] def pqModel(spark: SparkSession, sfDir: String,
      m: Int = 8, k: Int = 16, iters: Int = 2)
      : (DataFrame, DataFrame, DataFrame) =
    pqModelFrom(Tables.embeddings(spark, sfDir), m, k, iters)

  /** [[fixedPointEx]] plus the contiguous-subspace column:
    * `(vec_id, sub, dim, vi)`.
    */
  private def pqEx(emb: DataFrame, m: Int): DataFrame =
    fixedPointEx(emb).select(col("vec_id"),
      expr(s"dim div ${64 / m}").cast("int").as("sub"), col("dim"), col("vi"))

  private[graft] def pqModelFrom(emb: DataFrame,
      m: Int = 8, k: Int = 16, iters: Int = 2)
      : (DataFrame, DataFrame, DataFrame) =
    lloyd(pqEx(emb, m), Seq("vec_id", "sub"), "code", k, iters)

  /** TRAIN-ONCE PQ model per (sfDir, m, k, iters): the codebook AND the
    * encoded corpus (m small ints per vector — the thing a 100 TB
    * deployment actually stores) materialized via [[materializedModel]].
    * Queries against the stored model never re-run Lloyd; the exact
    * integer training makes stored ≡ rederived, which the rederiving
    * DuckDB oracles verify every gate run.
    */
  private[graft] def pqStored(spark: SparkSession, sfDir: String,
      m: Int = 8, k: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    val cb = materializedModel(spark, s"pq_cb_m${m}k${k}i$iters", sfDir) {
      pqModelFrom(Tables.embeddings(spark, sfDir), m, k, iters)._2
    }
    val codes = materializedModel(spark, s"pq_codes_m${m}k${k}i$iters", sfDir) {
      nearestCentroid(pqEx(Tables.embeddings(spark, sfDir), m), cb,
        Seq("vec_id", "sub"), "code")
    }
    (codes, cb)
  }

  /** ASYMMETRIC DISTANCE COMPUTATION top-k over the PQ codes — the
    * memory-bound ANN scan a billion-vector corpus runs: the query
    * precomputes one m×k table of exact integer partial d²s against the
    * codebook (1024 rows, broadcast), and every corpus vector's
    * approximate distance is m table lookups summed — the raw vectors
    * are never touched at query time. Every quantity is an exact
    * BIGINT, so top-k membership and order are engine-independent by
    * construction (no rounding anywhere). Composes with
    * [[topKIvfKmeans]]'s coarse pruning: IVF picks the lists, ADC
    * scores inside them.
    */
  def topKPqAdc(spark: SparkSession, sfDir: String, topK: Int = 10,
      m: Int = 8, k: Int = 16, iters: Int = 2): DataFrame = {
    val (codes, cb) = pqStored(spark, sfDir, m, k, iters)
    // point lookup: the un-spread reader — one pushed-filter scan, no
    // corpus exchange for a single row; the stored model means query
    // time touches no training pass at all
    adcTopK(pqEx(Tables.embeddingsRaw(spark, sfDir).filter(isQuery), m), cb,
      codes, Seq("vec_id"), topK)
  }

  /** [[topKPqAdc]] over a PQ model retrained on `emb`. */
  private[graft] def topKPqAdcFrom(emb: DataFrame, topK: Int = 10,
      m: Int = 8, k: Int = 16, iters: Int = 2): DataFrame = {
    val (codes, cb, ex) = pqModelFrom(emb, m, k, iters)
    adcTopK(ex.filter(isQuery), cb, codes, Seq("vec_id"), topK)
  }

  /** The PQ-ADC scan: the m×k lookup table of exact partial d²s from the
    * query's [[pqEx]] rows `q` to codebook `cb`, summed over each
    * vector's (sub, code) rows in `codes` per `keys` group, and the
    * `topK` smallest `adc_d2`, ties to the lower vec_id.
    */
  private def adcTopK(q: DataFrame, cb: DataFrame, codes: DataFrame,
      keys: Seq[String], topK: Int): DataFrame =
    codes.join(broadcast(sqDist(q, cb, Seq("sub", "code"), "pd2")),
        Seq("sub", "code"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("pd2")).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(topK)

  /** THE production retrieval plan — the composition the round-9
    * recall-cost curve (PLANS.md annsweep) measured its way to:
    *
    *   1. **IVF prunes**: the query probes its `nprobe` nearest LEARNED
    *      k-means centroids (label-IVF measured only ~1.3×
    *      recall-per-byte — a metadata label is not a geometric
    *      partition), so only those lists' fraction of the corpus is
    *      touched at all;
    *   2. **PQ-ADC scores the survivors**: inside the probed lists the
    *      distance is m BIGINT table lookups against the stored m-byte
    *      codes — the raw float corpus stays cold (measured 12×
    *      recall-per-byte at m/(4d) bytes touched);
    *   3. **exact re-rank, `rerank` rows deep**: only the ADC top-
    *      `rerank` candidates read their raw components for the exact
    *      quantized-cosine order the user sees.
    *
    * Both models come from the TRAIN-ONCE stores ([[kmeansModel]],
    * [[pqStored]]) — at query time nothing trains, nothing scans
    * outside the probed lists except the `rerank`-row float lookup. At
    * 100 TB the corpus is stored partitioned by `cid` with the codes
    * inline, so step 2's scan is physically pruned to nprobe/kClusters
    * of the data and step 3 is a broadcast-semi-join point lookup.
    * Every pre-rerank quantity is an exact BIGINT: candidate membership
    * cannot differ between engines.
    */
  def topKIvfPq(spark: SparkSession, sfDir: String, k: Int = 10,
      nprobe: Int = 2, kClusters: Int = 8, m: Int = 8, kCodes: Int = 16,
      iters: Int = 2, rerank: Int = 50): DataFrame = {
    val (af, cent) = kmeansModel(spark, sfDir, kClusters, iters)
    val (codes, cb) = pqStored(spark, sfDir, m, kCodes, iters)
    val emb = Tables.embeddings(spark, sfDir)
    topKIvfPqCore(emb, af, cent, codes, cb, k, nprobe, m, rerank)
  }

  /** The query's `nprobe` nearest centroids by exact integer d². */
  private[graft] def ivfProbe(emb: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame =
    sqDist(fixedPointEx(emb.filter(isQuery)), cent, Seq("cid"), "qd2")
      .orderBy(col("qd2"), col("cid")).limit(nprobe)
      .select(col("cid"))

  /** The `(vec_id, cid)` rows of assignment `af` in the lists of
    * [[ivfProbe]]: the IVF candidates.
    */
  private def probedLists(emb: DataFrame, af: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame =
    af.join(broadcast(ivfProbe(emb, cent, nprobe)), "cid")
      .select(col("vec_id"), col("cid"))

  /** The composition over EXPLICIT model frames — [[topKIvfPq]] binds it
    * to the stored models; the annsweep harness binds it to per-query
    * retrained models over a swapped corpus.
    */
  private[graft] def topKIvfPqCore(emb: DataFrame, af: DataFrame,
      cent: DataFrame, codes: DataFrame, cb: DataFrame, k: Int,
      nprobe: Int, m: Int, rerank: Int): DataFrame = {
    // survivors of the coarse prune, ADC-scored from codes only
    val adcTop = adcTopK(pqEx(emb.filter(isQuery), m), cb,
      codes.join(probedLists(emb, af, cent, nprobe), "vec_id"),
      Seq("vec_id", "cid"), rerank)
    // exact re-rank on raw floats — only `rerank` vectors deep
    exactTopK(emb.join(broadcast(adcTop), "vec_id")
        .crossJoin(queryVecFrom(emb)), k, quantized_cosine,
      Seq("cid", "adc_d2"))
  }

  /** Sweep-harness variant: retrains both models on the given corpus
    * (the annsweep convention — swapped query ids change the seed rows,
    * exactly like [[topKPqAdcFrom]]); returns the result plus the final
    * IVF assignment so the harness can price the probed lists.
    */
  private[graft] def topKIvfPqFrom(emb: DataFrame, k: Int = 10,
      nprobe: Int = 2, kClusters: Int = 8, m: Int = 8, kCodes: Int = 16,
      iters: Int = 2, rerank: Int = 50): (DataFrame, DataFrame, DataFrame) = {
    val (af, cent, _) = kmeansAssignments(emb, kClusters, iters)
    val (codes, cb, _) = pqModelFrom(emb, m, kCodes, iters)
    (topKIvfPqCore(emb, af, cent, codes, cb, k, nprobe, m, rerank),
      af, cent)
  }

  /** Semantic near-dup candidates from the STORED PQ codes alone —
    * symmetric distance computation (SDC, Jégou et al. TPAMI 2011 §III):
    * the distance between two vectors is approximated code-to-code
    * through a precomputed m×k×k table of exact BIGINT inter-centroid
    * partial d²s, so DEDUPING the corpus touches m bytes per vector —
    * the raw floats stay cold, which is what makes embedding dedup
    * affordable at 10⁹ vectors.
    *
    * Candidate blocking is PQ-CODE BANDING (the minhash-LSH discipline
    * applied to the code signature): adjacent code pairs form m/2
    * band keys with k² values each; two vectors are candidates iff
    * they share a coarse cluster AND a full band. Band buckets are
    * (cid, band, k²)-grained, so posting lists stay n/(clusters·k²)
    * per band — never an all-pairs within a cluster. Candidates are
    * then SDC-scored exactly (integer table lookups) and the `topN`
    * closest pairs surface. Both models come from the train-once
    * stores; every quantity is an exact BIGINT, so pair membership
    * and order are engine-independent.
    */
  def dedupPqSdc(spark: SparkSession, sfDir: String, m: Int = 8,
      kCodes: Int = 16, kClusters: Int = 8, iters: Int = 2,
      topN: Int = 50): DataFrame = {
    val (codes, cb) = pqStored(spark, sfDir, m, kCodes, iters)
    val (af, _) = kmeansModel(spark, sfDir, kClusters, iters)
    val subDims = 64 / m
    // m×k² symmetric code-to-code partial distances (2048 rows at
    // m=8, k=16) — broadcast everywhere it is used
    val sdct = cb.as("a").join(cb.as("b"), col("a.dim") === col("b.dim"))
      .groupBy(expr(s"a.dim div $subDims").cast("int").as("sub"),
        col("a.code").as("code_a"), col("b.code").as("code_b"))
      .agg(sum((col("a.ci") - col("b.ci")) * (col("a.ci") - col("b.ci")))
        .as("pd2"))
    // band keys: adjacent sub code pairs, clustered — (cid, band, c1, c2)
    val bands = codes.as("x").join(codes.as("y"),
        col("x.vec_id") === col("y.vec_id")
          && col("y.sub") === col("x.sub") + 1
          && col("x.sub") % 2 === 0)
      .join(af.select(col("vec_id").as("af_vec"), col("cid")),
        col("x.vec_id") === col("af_vec"))
      .select(col("x.vec_id").as("vec_id"), col("cid"),
        expr("x.sub div 2").as("band"),
        col("x.code").as("c1"), col("y.code").as("c2"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.cid") === col("b.cid") && col("a.band") === col("b.band")
          && col("a.c1") === col("b.c1") && col("a.c2") === col("b.c2")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        col("a.cid").as("cid"))
      .distinct()
    // exact SDC score of every candidate: m table lookups summed
    cand.join(codes.as("pa"), col("va") === col("pa.vec_id"))
      .join(codes.as("pb"),
        col("vb") === col("pb.vec_id") && col("pa.sub") === col("pb.sub"))
      .join(broadcast(sdct.withColumnRenamed("sub", "t_sub")),
        col("pa.sub") === col("t_sub") && col("pa.code") === col("code_a")
          && col("pb.code") === col("code_b"))
      .groupBy(col("va"), col("vb"), col("cid"))
      .agg(sum(col("pd2")).as("sdc_d2"))
      .orderBy(col("sdc_d2"), col("va"), col("vb"))
      .limit(topN)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        col("cid"), col("sdc_d2"))
  }

  /** The JL ±1 sign matrix as a `+`/`-` string of length outDims×d,
    * entry (j, i) at offset j·d + i. Signs come from bit 17 of a
    * murmur3-style 64-bit avalanche finalizer over the flat index —
    * full-rank with near-orthogonal rows (measured: rank 16/16, max
    * inter-row |corr| 0.31), unlike any single `(a·i + b·j) % 2`
    * parity, which degenerates to (i+j) % 2 for odd a, b (a rank-1
    * matrix that preserves no distances). The string literal is
    * interpolated into BOTH the Spark expression and the DuckDB oracle,
    * so the two engines share the matrix without sharing overflow
    * semantics (DuckDB raises on BIGINT overflow; the finalizer's
    * wrapping multiplies stay driver-side in Scala).
    */
  private[graft] def jlSigns(d: Int = 64, outDims: Int = 16): String = {
    def mix(x: Long): Long = {
      var h = x
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      h
    }
    val sb = new StringBuilder(outDims * d)
    var j = 0
    while (j < outDims) {
      var i = 0
      while (i < d) {
        val bit = (mix(j.toLong * d + i + 0x9e3779b97f4a7c15L) >>> 17) & 1L
        sb.append(if (bit == 0L) '+' else '-')
        i += 1
      }
      j += 1
    }
    sb.toString
  }

  /** Johnson–Lindenstrauss ±1 random projection (Achlioptas,
    * "Database-friendly random projections", JCSS 2003 — public
    * literature): 64-d vectors project to `outDims` via a DETERMINISTIC
    * ±1 sign matrix ([[jlSigns]]) shipped as a literal — no RNG state,
    * any engine indexes the identical matrix. Components
    * snap ×10⁶ first, so every projection coordinate and both squared
    * norms are exact BIGINTs; the JL audit ratio
    * ‖Px‖²/(outDims·‖x‖²) ≈ 1 is the one float, rounded at the end.
    *
    * Scale shape: entirely in-plan (nested higher-order functions over
    * the array column — codegen'd, zero explosion, zero shuffle): the
    * narrow per-row transform a 100 TB corpus runs before LSH/cluster
    * passes to cut the downstream byte cost 4×.
    */
  def jlProjection(spark: SparkSession, sfDir: String,
      outDims: Int = 16): DataFrame = {
    val d = 64
    val signs = jlSigns(d, outDims)
    // the matrix multiply is UNROLLED into plain ±Add expression trees
    // (whole-stage-codegen'd, one add per term) — higher-order-function
    // lambdas run INTERPRETED per element, and the first cut (substr
    // lookup per term inside an aggregate() lambda) measured 53.9 s at
    // sf1 vs 0.5 s unrolled; the oracle keeps the substr form over the
    // SAME sign string (DuckDB vectorizes it fine)
    def x(i: Int) = element_at(col("xs"), i + 1)
    val pjCols = (0 until outDims).map { j =>
      (0 until d).map { i =>
        if (signs.charAt(j * d + i) == '+') x(i) else -x(i)
      }.reduce(_ + _)
    }
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), snap(_)).as("xs"))
      .select(col("vec_id"),
        (0 until d).map(i => x(i) * x(i)).reduce(_ + _).as("orig_n2"),
        array(pjCols: _*).as("pj"))
      .select(col("vec_id"), col("orig_n2"),
        (0 until outDims).map(j => element_at(col("pj"), j + 1)
          * element_at(col("pj"), j + 1)).reduce(_ + _).as("proj_n2"))
      .select(col("vec_id"), col("orig_n2"), col("proj_n2"),
        round(col("proj_n2").cast("double") / outDims.toDouble
          / col("orig_n2"), 6).as("norm_ratio"))
  }

  /** Per-subspace codebook audit: total quantization error, live code
    * count, and rows encoded — the table that says whether k codes per
    * subspace are enough BEFORE re-encoding a 100 TB corpus (a subspace
    * with collapsed codes_used or an outsized quant_err share needs a
    * bigger codebook or a rotation). Exact integers end to end.
    */
  def pqQuantError(spark: SparkSession, sfDir: String,
      m: Int = 8, k: Int = 16, iters: Int = 2): DataFrame = {
    val (codes, _) = pqStored(spark, sfDir, m, k, iters)
    codes.groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("quant_err"),
        countDistinct(col("code")).as("codes_used"))
      .select(col("sub"), col("n_vecs"), col("quant_err"), col("codes_used"))
  }
}
