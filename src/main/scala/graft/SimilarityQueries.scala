package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Similarity

/** Oracle-checked registrations for embedding similarity search. The
  * DuckDB oracles recompute cosine with explicit DOUBLE casts (DuckDB's
  * list_dot_product accumulates in float32 — verified — so it cannot be
  * the oracle), same formula dot/(sqrt(na)·sqrt(nb)), scores rounded to
  * 6 dp on both sides; summation-order differences sit at ~1e-15.
  */
object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_topk" -> ((s, d) => Similarity.topK(s, d)),
    "q_embed_stats" -> ((s, d) => Similarity.embedStats(s, d)),
    "q_embed_cov" -> ((s, d) => Similarity.embedCov(s, d)),
    "q_knn_join" -> ((s, d) => Similarity.knnJoin(s, d)),
    // int8 scalar quantization: range + checksum view of the quantized
    // vectors (scalars, because array rendering differs per engine).
    "q_embed_quantize" -> ((s, d) => Similarity.quantize(s, d)),
    "q_sim_lsh_buckets" -> ((s, d) =>
      Similarity.lshBuckets(s, d).select(col("vec_id"), col("label"), col("bucket"))),
    "q_sim_topk_lsh" -> ((s, d) => Similarity.topKLsh(s, d)),
    "q_sim_topk_ivf" -> ((s, d) => Similarity.topKIvf(s, d)),
    "q_sim_topk_ivf_mp" -> ((s, d) => Similarity.topKIvf(s, d, nprobe = 2)),
    "q_sim_centroid" -> ((s, d) => Similarity.centroidDistance(s, d)),
    "q_dedup_embedding" -> ((s, d) => Similarity.nearestPairPerLabel(s, d)),
    "q_dedup_embedding_lsh" -> ((s, d) => Similarity.nearDupLsh(s, d)),
    "q_dedup_embedding_cc" -> ((s, d) => Similarity.semanticDedup(s, d)),
    "q_dedup_pair_budget" -> ((s, d) => Similarity.pairBudget(s, d)),
    "q_kmeans" -> ((s, d) => Similarity.kmeans(s, d)),
    "q_sim_topk_ivf_kmeans" -> ((s, d) => Similarity.topKIvfKmeans(s, d)),
    "q_sim_topk_pq" -> ((s, d) => Similarity.topKPqAdc(s, d)),
    // The composed production plan: IVF prunes lists, PQ-ADC scores
    // survivors from stored codes, exact cosine re-ranks the ADC top-50.
    "q_sim_topk_ivf_pq" -> ((s, d) => Similarity.topKIvfPq(s, d)),
    // Semantic dedup at m-byte cost: PQ-code banding blocks candidates,
    // SDC (code-to-code table) scores them; raw floats never read.
    "q_dedup_pq_sdc" -> ((s, d) => Similarity.dedupPqSdc(s, d)),
    "q_pq_error" -> ((s, d) => Similarity.pqQuantError(s, d)),
    "q_jl_project" -> ((s, d) => Similarity.jlProjection(s, d))
  )

  /** Shared oracle CTEs, parameterized on the hyperplane-count
    * expression: "4" for the fixed-plane queries, [[adaptivePlanesSql]]
    * for the pair-join dedup queries whose blocking must scale with the
    * corpus (see Similarity.adaptivePlanes — same integer formula).
    */
  private def planesCte(planesExpr: String) =
    s"""planes AS (SELECT p, i,
       |  CASE WHEN strpos('0123456789abcdef',
       |    substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)) - 1 >= 8
       |  THEN 1.0 ELSE -1.0 END AS w
       |  FROM (SELECT unnest(range($planesExpr)) AS p) rp,
       |       (SELECT unnest(range(64)) AS i) ri)""".stripMargin

  private def bucketsCte(planesExpr: String = "4") =
    s"""${planesCte(planesExpr)},
       |sig AS (SELECT e.vec_id, p.p,
       |  CASE WHEN sum(p.w * CAST(e.embedding[p.i + 1] AS DOUBLE)) > 0
       |    THEN '1' ELSE '0' END AS bit
       |  FROM embeddings e, planes p GROUP BY e.vec_id, p.p),
       |buck AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
       |  FROM sig GROUP BY vec_id)""".stripMargin

  /** Mirrors Similarity.adaptivePlanes: P = max(4, len(bin(N/32))). */
  private val adaptivePlanesSql =
    "(SELECT greatest(4, length(bin(count(*) // 32))) FROM embeddings)"

  /** Mirrors the blocks of Similarity.cappedEmbeddingPairs: signs under
    * P + 8 planes, `bucket` = the first P bits (the block key), `subkey` =
    * the full string (the similarity-locality rank order inside a block).
    */
  private def cappedBucketsCte(planesExpr: String) =
    s"""${planesCte(s"($planesExpr + 8)")},
       |sig AS (SELECT e.vec_id, p.p,
       |  CASE WHEN sum(p.w * CAST(e.embedding[p.i + 1] AS DOUBLE)) > 0
       |    THEN '1' ELSE '0' END AS bit
       |  FROM embeddings e, planes p GROUP BY e.vec_id, p.p),
       |buck AS (SELECT vec_id,
       |  substr(string_agg(bit, '' ORDER BY p), 1, $planesExpr) AS bucket,
       |  string_agg(bit, '' ORDER BY p) AS subkey
       |  FROM sig GROUP BY vec_id)""".stripMargin

  /** Narrow (unnested) variant of [[cappedBucketsCte]] for the two
    * oracles whose list-carrying formulation DuckDB could not execute
    * at sf100 (2 M vectors): the original `embeddings e, planes p`
    * cross join and the pair join both kept the 64-float `embedding`
    * LIST in flight per intermediate row, and those buffers are not
    * spillable — OOM at 60 GB AND at a 100 GB memory_limit (round-15
    * gate log). Here the vectors are exploded ONCE into a narrow
    * (vec_id, dim, v) relation (`uev` — the same `embeddings,
    * range(1,65)` shape the k-means oracles already use) and every
    * downstream join/aggregate is fixed-width and spillable. The
    * bucket/subkey bit STRINGS become exact bit MASKS (plain integer
    * sum of shifts, p=0 at the MSB): the available DuckDB's ORDERED
    * string_agg buffers its whole 48 M-row input unspillably and was
    * the second sf100 OOM site after the list-carry; fixed-length
    * '0'/'1' lexicographic order ≡ numeric order and substr(·,1,P) ≡
    * `>> 8`, so ranks, bucket equality, and the engine's bucket string
    * (re-derived via lpad(bin(·),P,'0') where an output exposes it) are
    * identical. Bucket bits are the same float sums of the same 64
    * terms. Pair scores stream as `list_dot_product` over per-vector
    * QUANTIZED lists (`qv.ql` = floor(x·2²⁰) as DOUBLE): every term and
    * every 64-term sum is an integer < 2⁵³, so the double arithmetic is
    * EXACTLY the engine's order-exempt integer qsum — and the scoring
    * join streams 64 M pair rows through row-wise projections instead
    * of radix-partitioning a 4-billion-row (pair × dim) aggregate to
    * disk (the third sf100 failure: ~50 GB of spill exceeded the box).
    */
  private def cappedBucketsCteNarrow(planesExpr: String) =
    s"""${planesCte(s"($planesExpr + 8)")},
       |uev AS (SELECT vec_id, i - 1 AS dim,
       |  CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, range(1, 65) r(i)),
       |sig AS (SELECT u.vec_id, p.p,
       |  CASE WHEN sum(p.w * u.v) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM uev u JOIN planes p ON p.i = u.dim GROUP BY u.vec_id, p.p),
       |buck AS (SELECT vec_id,
       |  sum(CAST(bit AS BIGINT)
       |    << (($planesExpr) + 7 - CAST(p AS INTEGER))) >> 8 AS bucket,
       |  sum(CAST(bit AS BIGINT)
       |    << (($planesExpr) + 7 - CAST(p AS INTEGER))) AS subkey
       |  FROM sig GROUP BY vec_id),
       |qv AS (SELECT vec_id, list_transform(embedding,
       |  x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)
       |    AS DOUBLE)) AS ql FROM embeddings)""".stripMargin

  /** floor(x·2²⁰) BIGINT component quantization — mirrors the engine's
    * QuantizedCosine exactly: integer dot/norm sums are order-exempt,
    * and the final sqrt/divide on identical integers is bit-identical
    * on any IEEE engine.
    */
  private def qsum(a: String, b: String) =
    s"""sum(CAST(floor(CAST($a AS DOUBLE) * 1048576.0) AS BIGINT)
       |    * CAST(floor(CAST($b AS DOUBLE) * 1048576.0) AS BIGINT))""".stripMargin

  private val qscore =
    "CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"

  /** Mirrors Similarity.kmeansAssignments (k=8, iters=2): exact
    * fixed-point Lloyd rounds unrolled as CTEs — `af` is the final
    * (vec_id, cid, d2) assignment, `c2` the final centroids.
    */
  /** Product-quantization oracle CTEs — the per-subspace twin of
    * [[kmeansCtes]]: 8 subspaces × 8 dims, 16 codes each, 2 unrolled
    * Lloyd rounds over the SAME positive fixed-point integers, argmin
    * per (vec_id, sub) with (d2, code) tie order. `dim` is global so a
    * centroid join on dim alone can never cross subspaces.
    */
  private val pqCtes =
    """pex AS MATERIALIZED (SELECT vec_id, CAST((i-1)//8 AS INTEGER) AS sub, i-1 AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT)
      |      + 1000000 AS vi
      |  FROM embeddings, range(1, 65) r(i)),
      |pc0 AS (SELECT vec_id AS code, dim, vi AS ci FROM pex WHERE vec_id < 16),
      |pd1 AS (SELECT p.vec_id, p.sub, c.code, sum((p.vi-c.ci)*(p.vi-c.ci)) AS d2
      |  FROM pex p JOIN pc0 c ON p.dim = c.dim GROUP BY 1, 2, 3),
      |pa1 AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |  FROM pd1) WHERE rn = 1),
      |pc1 AS (SELECT a.code, p.dim, sum(p.vi) // count(*) AS ci
      |  FROM pa1 a JOIN pex p ON a.vec_id = p.vec_id AND a.sub = p.sub
      |  GROUP BY 1, 2),
      |pd2 AS (SELECT p.vec_id, p.sub, c.code, sum((p.vi-c.ci)*(p.vi-c.ci)) AS d2
      |  FROM pex p JOIN pc1 c ON p.dim = c.dim GROUP BY 1, 2, 3),
      |pa2 AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |  FROM pd2) WHERE rn = 1),
      |pc2 AS (SELECT a.code, p.dim, sum(p.vi) // count(*) AS ci
      |  FROM pa2 a JOIN pex p ON a.vec_id = p.vec_id AND a.sub = p.sub
      |  GROUP BY 1, 2),
      |pdf AS (SELECT p.vec_id, p.sub, c.code, sum((p.vi-c.ci)*(p.vi-c.ci)) AS d2
      |  FROM pex p JOIN pc2 c ON p.dim = c.dim GROUP BY 1, 2, 3),
      |paf AS MATERIALIZED (SELECT vec_id, sub, code, d2 FROM (SELECT vec_id, sub, code, d2,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |  FROM pdf) WHERE rn = 1)""".stripMargin

  private val kmeansCtes =
    """ex AS MATERIALIZED (SELECT vec_id, i-1 AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT)
      |      + 1000000 AS vi
      |  FROM embeddings, range(1, 65) r(i)),
      |c0 AS (SELECT vec_id AS cid, dim, vi AS ci FROM ex WHERE vec_id < 8),
      |d1 AS (SELECT ex.vec_id, c.cid, sum((ex.vi-c.ci)*(ex.vi-c.ci)) AS d2
      |  FROM ex JOIN c0 c ON ex.dim = c.dim GROUP BY ex.vec_id, c.cid),
      |a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |  FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a.cid, ex.dim, sum(ex.vi) // count(*) AS ci
      |  FROM a1 a JOIN ex ON a.vec_id = ex.vec_id GROUP BY a.cid, ex.dim),
      |d2_ AS (SELECT ex.vec_id, c.cid, sum((ex.vi-c.ci)*(ex.vi-c.ci)) AS d2
      |  FROM ex JOIN c1 c ON ex.dim = c.dim GROUP BY ex.vec_id, c.cid),
      |a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |  FROM d2_) WHERE rn = 1),
      |c2 AS (SELECT a.cid, ex.dim, sum(ex.vi) // count(*) AS ci
      |  FROM a2 a JOIN ex ON a.vec_id = ex.vec_id GROUP BY a.cid, ex.dim),
      |df AS (SELECT ex.vec_id, c.cid, sum((ex.vi-c.ci)*(ex.vi-c.ci)) AS d2
      |  FROM ex JOIN c2 c ON ex.dim = c.dim GROUP BY ex.vec_id, c.cid),
      |af AS MATERIALIZED (SELECT vec_id, cid, d2 FROM (SELECT vec_id, cid, d2,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |  FROM df) WHERE rn = 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // components snapped to ×1e6 BIGINT before the sums — exact integer
    // Σx/Σx², so mean/variance are scalar divisions both engines agree on
    "q_embed_stats" ->
      """WITH t AS (SELECT CAST(i - 1 AS INTEGER) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS xi
        |  FROM embeddings, range(1, 65) r(i)),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    sum(xi) AS s1, sum(xi * xi) AS s2 FROM t GROUP BY 1)
        |SELECT dim, n,
        |  CAST(round(CAST(s1 AS DOUBLE) / 1e6 / n, 6) + 0 AS DOUBLE) AS mean,
        |  CAST(round(CAST(n * s2 - s1 * s1 AS DOUBLE) / n / n / 1e12, 6)
        |    AS DOUBLE) AS variance
        |FROM a""".stripMargin,

    // upper-triangle covariance: same ×1e6 snap; HUGEINT cross-terms
    // mirror Spark's DECIMAL(38,0), division text identical
    "q_embed_cov" ->
      """WITH t AS (SELECT vec_id AS vid, CAST(i - 1 AS INTEGER) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS xi
        |  FROM embeddings, range(1, 65) r(i)),
        |p AS (SELECT a.dim AS dim_i, b.dim AS dim_j, a.xi AS xi, b.xi AS xj
        |  FROM t a JOIN t b ON a.vid = b.vid AND a.dim <= b.dim),
        |s AS (SELECT dim_i, dim_j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xi * xj) AS HUGEINT) AS sxy,
        |    CAST(sum(xi) AS HUGEINT) AS sx, CAST(sum(xj) AS HUGEINT) AS sy
        |  FROM p GROUP BY 1, 2)
        |SELECT dim_i, dim_j,
        |  CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) / n / n / 1e12, 6)
        |    + 0 AS DOUBLE) + 0.0 AS cov
        |FROM s""".stripMargin,

    // Unrolled 2-iteration Lloyd: every quantity is a positive BIGINT
    // (coordinates snapped ×1e6 then shifted +1e6), so floor division
    // and argmin ties agree with Spark exactly.
    "q_kmeans" ->
      s"""WITH $kmeansCtes
        |SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(d2) AS BIGINT) AS inertia
        |FROM af GROUP BY cid""".stripMargin,

    // IVF with the LEARNED coarse key: probe the 2 nearest final
    // centroids by the same exact integer d2, exact quantized cosine
    // inside the probed clusters only; top-k selected on the RAW
    // score (round only in the projection, so a rounding tie can
    // never decide membership differently per engine).
    "q_sim_topk_ivf_kmeans" ->
      s"""WITH $kmeansCtes,
        |qd AS (SELECT c.cid, sum((ex.vi-c.ci)*(ex.vi-c.ci)) AS qd2
        |  FROM ex JOIN c2 c ON ex.dim = c.dim
        |  WHERE ex.vec_id = 0 GROUP BY c.cid),
        |probe AS (SELECT cid FROM qd ORDER BY qd2, cid LIMIT 2),
        |cand AS (SELECT af.vec_id, af.cid FROM af JOIN probe USING (cid)),
        |s AS (SELECT c.vec_id, c.cid,
        |  ${qsum("e.embedding[i]", "q.embedding[i]")} AS dot,
        |  ${qsum("e.embedding[i]", "e.embedding[i]")} AS na,
        |  ${qsum("q.embedding[i]", "q.embedding[i]")} AS nb
        |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
        |    JOIN embeddings q ON q.vec_id = 0, range(1, 65) r(i)
        |  GROUP BY 1, 2)
        |SELECT vec_id, cid, CAST(round($qscore, 6) + 0 AS DOUBLE) AS score
        |FROM s ORDER BY $qscore DESC, vec_id LIMIT 10""".stripMargin,

    // The composed IVF→PQ-ADC→exact-rerank plan: both CTE blocks
    // rederive the stored models (training is exact-integer
    // deterministic, so stored ≡ rederived — this oracle IS that
    // proof), candidate membership is all-BIGINT, and only the final
    // 10 rows' order involves a float (the same qscore as every
    // cosine oracle).
    "q_sim_topk_ivf_pq" ->
      s"""WITH $kmeansCtes, $pqCtes,
        |kqd AS (SELECT c.cid, sum((ex.vi-c.ci)*(ex.vi-c.ci)) AS qd2
        |  FROM ex JOIN c2 c ON ex.dim = c.dim
        |  WHERE ex.vec_id = 0 GROUP BY c.cid),
        |probe AS (SELECT cid FROM kqd ORDER BY qd2, cid LIMIT 2),
        |cand AS (SELECT af.vec_id, af.cid FROM af JOIN probe USING (cid)),
        |aqd AS (SELECT p.sub, c.code, sum((p.vi-c.ci)*(p.vi-c.ci)) AS pd2
        |  FROM pex p JOIN pc2 c ON p.dim = c.dim WHERE p.vec_id = 0
        |  GROUP BY 1, 2),
        |adc AS (SELECT a.vec_id, cd.cid, CAST(sum(q.pd2) AS BIGINT) AS adc_d2
        |  FROM paf a JOIN cand cd ON a.vec_id = cd.vec_id
        |  JOIN aqd q ON a.sub = q.sub AND a.code = q.code
        |  GROUP BY 1, 2 ORDER BY adc_d2, a.vec_id LIMIT 50),
        |s AS (SELECT t.vec_id, t.cid, t.adc_d2,
        |  ${qsum("e.embedding[i]", "q.embedding[i]")} AS dot,
        |  ${qsum("e.embedding[i]", "e.embedding[i]")} AS na,
        |  ${qsum("q.embedding[i]", "q.embedding[i]")} AS nb
        |  FROM adc t JOIN embeddings e ON t.vec_id = e.vec_id
        |    JOIN embeddings q ON q.vec_id = 0, range(1, 65) r(i)
        |  GROUP BY 1, 2, 3)
        |SELECT vec_id, cid, adc_d2,
        |  CAST(round($qscore, 6) + 0 AS DOUBLE) AS score
        |FROM s ORDER BY $qscore DESC, vec_id LIMIT 10""".stripMargin,

    // PQ-SDC semantic dedup: bands of adjacent code pairs block the
    // candidates (cluster-equal + one full band shared), the m×k²
    // inter-centroid table scores them — all exact BIGINTs.
    "q_dedup_pq_sdc" ->
      s"""WITH $kmeansCtes, $pqCtes,
        |sdct AS (SELECT CAST(a.dim // 8 AS INTEGER) AS sub,
        |    a.code AS code_a, b.code AS code_b,
        |    sum((a.ci - b.ci) * (a.ci - b.ci)) AS pd2
        |  FROM pc2 a JOIN pc2 b ON a.dim = b.dim GROUP BY 1, 2, 3),
        |bnd AS MATERIALIZED (SELECT x.vec_id, ka.cid, CAST(x.sub // 2 AS INTEGER) AS band,
        |    x.code AS c1, y.code AS c2
        |  FROM paf x JOIN paf y ON y.vec_id = x.vec_id AND y.sub = x.sub + 1
        |    AND x.sub % 2 = 0
        |  JOIN af ka ON ka.vec_id = x.vec_id),
        |cand AS MATERIALIZED (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb, a.cid
        |  FROM bnd a JOIN bnd b ON a.cid = b.cid AND a.band = b.band
        |    AND a.c1 = b.c1 AND a.c2 = b.c2 AND a.vec_id < b.vec_id),
        |d AS (SELECT c.va, c.vb, c.cid, CAST(sum(t.pd2) AS BIGINT) AS sdc_d2
        |  FROM cand c JOIN paf pa ON pa.vec_id = c.va
        |  JOIN paf pb ON pb.vec_id = c.vb AND pb.sub = pa.sub
        |  JOIN sdct t ON t.sub = pa.sub AND t.code_a = pa.code
        |    AND t.code_b = pb.code
        |  GROUP BY 1, 2, 3)
        |SELECT va AS vec_a, vb AS vec_b, cid, sdc_d2
        |FROM d ORDER BY sdc_d2, va, vb LIMIT 50""".stripMargin,

    // PQ asymmetric-distance top-k: one m×k partial-d² table for the
    // query, then every vector's distance = m exact-BIGINT lookups
    // summed — no float appears anywhere, so membership and order are
    // engine-independent by construction.
    "q_sim_topk_pq" ->
      s"""WITH $pqCtes,
        |qd AS (SELECT p.sub, c.code, sum((p.vi-c.ci)*(p.vi-c.ci)) AS pd2
        |  FROM pex p JOIN pc2 c ON p.dim = c.dim WHERE p.vec_id = 0
        |  GROUP BY 1, 2)
        |SELECT a.vec_id, CAST(sum(q.pd2) AS BIGINT) AS adc_d2
        |FROM paf a JOIN qd q ON a.sub = q.sub AND a.code = q.code
        |GROUP BY a.vec_id
        |ORDER BY adc_d2, a.vec_id LIMIT 10""".stripMargin,

    // JL ±1 projection: the sign matrix is one shared '+'/'-' literal
    // (Similarity.jlSigns — avalanche-mixed, full-rank) indexed by
    // substr in both engines, coordinates and norms exact BIGINTs,
    // the audit ratio the only float (positive, so no -0.0 hazard)
    "q_jl_project" ->
      s"""WITH ex AS (SELECT vec_id, i-1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT) AS xi
        |  FROM embeddings, range(1, 65) r(i)),
        |pj AS (SELECT vec_id, j,
        |    sum(CASE WHEN substr('${operators.Similarity.jlSigns()}', j * 64 + dim + 1, 1) = '+'
        |      THEN xi ELSE -xi END) AS p
        |  FROM ex, range(0, 16) rj(j) GROUP BY 1, 2),
        |n2 AS (SELECT vec_id, CAST(sum(xi*xi) AS BIGINT) AS orig_n2
        |  FROM ex GROUP BY 1)
        |SELECT p.vec_id, n.orig_n2, CAST(sum(p.p*p.p) AS BIGINT) AS proj_n2,
        |  CAST(round(CAST(sum(p.p*p.p) AS DOUBLE) / 16.0 / n.orig_n2, 6)
        |    AS DOUBLE) AS norm_ratio
        |FROM pj p JOIN n2 n ON p.vec_id = n.vec_id
        |GROUP BY 1, 2""".stripMargin,

    // per-subspace codebook audit: exact quantization error + live-code
    // census
    "q_pq_error" ->
      s"""WITH $pqCtes
        |SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(d2) AS BIGINT) AS quant_err,
        |  CAST(count(DISTINCT code) AS BIGINT) AS codes_used
        |FROM paf GROUP BY sub""".stripMargin,
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings
        |), m AS (
        |  SELECT vec_id, emb, list_min(emb) AS mn, list_max(emb) AS mx FROM e
        |), q AS (
        |  SELECT vec_id, mn, mx,
        |    list_transform(emb, x -> CAST(CASE WHEN mx > mn
        |      THEN floor((x - mn) * 127.0 / (mx - mn)) ELSE 0.0 END AS INTEGER)) AS qv
        |  FROM m
        |)
        |SELECT vec_id, mn AS emb_min, mx AS emb_max,
        |  CAST(len(qv) AS INTEGER) AS n_dims,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS INTEGER) AS q_min,
        |  CAST(list_max(qv) AS INTEGER) AS q_max
        |FROM q""".stripMargin,
    "q_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 8),
        |d AS (SELECT q.query_id, e.vec_id,
        |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
        |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na,
        |  sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS nb
        |  FROM embeddings e, q, range(1, 65) r(i)
        |  WHERE e.vec_id != q.query_id GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS rank,
        |  CAST(round(dot / (sqrt(na) * sqrt(nb)), 6) + 0 AS DOUBLE) AS score
        |  FROM d)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, score
        |FROM r WHERE rank <= 3""".stripMargin,

    "q_sim_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
        |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na,
        |  sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS nb
        |  FROM embeddings e, q, range(1, 65) r(i) GROUP BY e.vec_id)
        |SELECT vec_id,
        |  CAST(round(dot / (sqrt(na) * sqrt(nb)), 6) + 0 AS DOUBLE) AS score
        |FROM d ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 20""".stripMargin,

    "q_sim_lsh_buckets" ->
      s"""WITH ${bucketsCte()}
         |SELECT e.vec_id, e.label, b.bucket
         |FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id""".stripMargin,

    "q_sim_topk_lsh" ->
      s"""WITH ${bucketsCte()},
         |qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id, b.bucket, e.embedding
         |  FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id
         |  JOIN qb ON b.bucket = qb.bucket),
         |d AS (SELECT c.vec_id, c.bucket,
         |  sum(CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
         |  sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS na,
         |  sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS nb
         |  FROM cand c, q, range(1, 65) r(i) GROUP BY 1, 2)
         |SELECT vec_id, bucket,
         |  CAST(round(dot / (sqrt(na) * sqrt(nb)), 6) + 0 AS DOUBLE) AS score
         |FROM d ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 10""".stripMargin,

    "q_sim_topk_ivf" ->
      """WITH ex AS (SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) r(i)),
        |cent AS (SELECT label, pos, sum(v) / count(*) AS c FROM ex GROUP BY 1, 2),
        |q AS (SELECT i AS pos, CAST(embedding[i] AS DOUBLE) AS qv
        |  FROM embeddings, range(1, 65) r(i) WHERE vec_id = 0),
        |probe AS (SELECT label FROM (
        |  SELECT cent.label,
        |    sum(c * qv) / (sqrt(sum(c * c)) * sqrt(sum(qv * qv))) AS csim
        |  FROM cent JOIN q USING (pos) GROUP BY cent.label)
        |  ORDER BY csim DESC, label LIMIT 1),
        |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id, e.label,
        |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qe.qe[i] AS DOUBLE)) AS dot,
        |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na,
        |  sum(CAST(qe.qe[i] AS DOUBLE) * CAST(qe.qe[i] AS DOUBLE)) AS nb
        |  FROM embeddings e JOIN probe USING (label), qe, range(1, 65) r(i)
        |  GROUP BY 1, 2)
        |SELECT vec_id, label,
        |  CAST(round(dot / (sqrt(na) * sqrt(nb)), 6) + 0 AS DOUBLE) AS score
        |FROM d ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 10""".stripMargin,

    // multi-probe (nprobe=2): identical shape, probe CTE keeps the TWO
    // nearest coarse partitions — the IVF recall knob.
    "q_sim_topk_ivf_mp" ->
      """WITH ex AS (SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) r(i)),
        |cent AS (SELECT label, pos, sum(v) / count(*) AS c FROM ex GROUP BY 1, 2),
        |q AS (SELECT i AS pos, CAST(embedding[i] AS DOUBLE) AS qv
        |  FROM embeddings, range(1, 65) r(i) WHERE vec_id = 0),
        |probe AS (SELECT label FROM (
        |  SELECT cent.label,
        |    sum(c * qv) / (sqrt(sum(c * c)) * sqrt(sum(qv * qv))) AS csim
        |  FROM cent JOIN q USING (pos) GROUP BY cent.label)
        |  ORDER BY csim DESC, label LIMIT 2),
        |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id, e.label,
        |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qe.qe[i] AS DOUBLE)) AS dot,
        |  sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na,
        |  sum(CAST(qe.qe[i] AS DOUBLE) * CAST(qe.qe[i] AS DOUBLE)) AS nb
        |  FROM embeddings e JOIN probe USING (label), qe, range(1, 65) r(i)
        |  GROUP BY 1, 2)
        |SELECT vec_id, label,
        |  CAST(round(dot / (sqrt(na) * sqrt(nb)), 6) + 0 AS DOUBLE) AS score
        |FROM d ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 10""".stripMargin,

    "q_sim_centroid" ->
      """WITH ex AS (SELECT label, vec_id, i AS dim,
        |  CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) r(i)),
        |cent AS (SELECT label, dim, sum(v) / count(*) AS c
        |  FROM ex GROUP BY label, dim),
        |j AS (SELECT ex.vec_id, ex.label,
        |  sum(ex.v * cent.c) AS dot, sum(ex.v * ex.v) AS na,
        |  sum(cent.c * cent.c) AS nb
        |  FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
        |  GROUP BY ex.vec_id, ex.label)
        |SELECT vec_id, label,
        |  CAST(round(dot / (sqrt(na) * sqrt(nb)), 6) + 0 AS DOUBLE) AS score
        |FROM j""".stripMargin,

    // Candidate pairs carry the per-vector successor cap (rank within
    // bucket by the finer-signature subkey then vec_id, pair with the
    // next ≤32) — mirrors Dedup.cappedBlockPairs, the
    // mega-dup-family output guard with its similarity-locality order.
    // The cap join is the engine's EXPLODED-SLOT-KEY equi-join (sl:
    // each row emits rn+1..rn+32 target ranks), not a rank-range
    // residual on a bucket self-join: DuckDB evaluates range residuals
    // AFTER materializing the bucket-equality product, which is g² per
    // bucket — the sf100 fixture's ~50k-vector mega-buckets OOM'd that
    // form at any memory_limit (round-15 gate log).
    "q_dedup_embedding_lsh" ->
      s"""WITH ${cappedBucketsCteNarrow(adaptivePlanesSql)},
         |rk AS (SELECT vec_id, bucket,
         |  row_number() OVER (PARTITION BY bucket
         |    ORDER BY subkey, vec_id) AS rn
         |  FROM buck),
         |sl AS (SELECT bucket, vec_id, rn + unnest(range(1, 33)) AS rt
         |  FROM rk),
         |cand AS (SELECT ba.bucket, least(ba.vec_id, bb.vec_id) AS va,
         |    greatest(ba.vec_id, bb.vec_id) AS vb
         |  FROM sl ba JOIN rk bb ON ba.bucket = bb.bucket
         |    AND bb.rn = ba.rt),
         |d AS (SELECT c.bucket, c.va, c.vb,
         |  list_dot_product(a.ql, b.ql) AS dot,
         |  list_dot_product(a.ql, a.ql) AS na,
         |  list_dot_product(b.ql, b.ql) AS nb
         |  FROM cand c JOIN qv a ON c.va = a.vec_id
         |  JOIN qv b ON c.vb = b.vec_id)
         |SELECT lpad(bin(bucket), CAST($adaptivePlanesSql AS INTEGER), '0')
         |    AS bucket,
         |  va AS vec_a, vb AS vec_b,
         |  CAST(round($qscore, 6) + 0 AS DOUBLE) AS score
         |FROM d""".stripMargin,

    // Transitive closure over the thresholded LSH candidate graph —
    // recursive CTE stands in for the engine's label-propagation loop.
    "q_dedup_embedding_cc" ->
      s"""WITH RECURSIVE ${cappedBucketsCte(adaptivePlanesSql)},
         |rk AS (SELECT vec_id, bucket,
         |  row_number() OVER (PARTITION BY bucket
         |    ORDER BY subkey, vec_id) AS rn
         |  FROM buck),
         |cand AS (SELECT least(ba.vec_id, bb.vec_id) AS va,
         |    greatest(ba.vec_id, bb.vec_id) AS vb
         |  FROM rk ba JOIN rk bb ON ba.bucket = bb.bucket
         |    AND bb.rn > ba.rn AND bb.rn <= ba.rn + 32),
         |d AS (SELECT c.va, c.vb,
         |  ${qsum("ea.embedding[i]", "eb.embedding[i]")} AS dot,
         |  ${qsum("ea.embedding[i]", "ea.embedding[i]")} AS na,
         |  ${qsum("eb.embedding[i]", "eb.embedding[i]")} AS nb
         |  FROM cand c JOIN embeddings ea ON c.va = ea.vec_id
         |  JOIN embeddings eb ON c.vb = eb.vec_id, range(1, 65) r(i)
         |  GROUP BY 1, 2),
         |prs AS (SELECT va, vb FROM d
         |  WHERE round($qscore, 6) >= 0.3),
         |edges AS (SELECT va AS n, vb AS m FROM prs
         |  UNION ALL SELECT vb, va FROM prs),
         |reach(n, m) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT reach.n, e.m FROM reach JOIN edges e ON reach.m = e.n)
         |SELECT n AS vec_id, min(m) AS component_id,
         |  min(m) = n AS is_canonical
         |FROM reach GROUP BY n""".stripMargin,

    // Mirrors the engine's (label, LSH-bucket) blocking — label-only
    // blocking is the quadratic-per-block anti-pattern at scale. Plane
    // count mirrors Similarity.adaptivePlanes (same as q_dedup_embedding_lsh)
    // so the bucket strings match the engine's at every corpus size.
    "q_dedup_embedding" ->
      s"""WITH ${cappedBucketsCteNarrow(adaptivePlanesSql)},
         |eb AS (SELECT e.vec_id, e.label, b.bucket,
         |  row_number() OVER (PARTITION BY e.label, b.bucket
         |    ORDER BY b.subkey, e.vec_id) AS rn
         |  FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id),
         |sl AS (SELECT label, bucket, vec_id,
         |  rn + unnest(range(1, 33)) AS rt FROM eb),
         |cd AS (SELECT a.label, least(a.vec_id, b.vec_id) AS va,
         |    greatest(a.vec_id, b.vec_id) AS vb
         |  FROM sl a JOIN eb b
         |    ON a.label = b.label AND a.bucket = b.bucket
         |    AND b.rn = a.rt),
         |p AS (SELECT c.label, c.va, c.vb,
         |  list_dot_product(a.ql, b.ql) AS dot,
         |  list_dot_product(a.ql, a.ql) AS na,
         |  list_dot_product(b.ql, b.ql) AS nb
         |  FROM cd c JOIN qv a ON c.va = a.vec_id
         |  JOIN qv b ON c.vb = b.vec_id)
         |SELECT label, va AS vec_a, vb AS vec_b,
         |  CAST(round($qscore, 6) + 0 AS DOUBLE) AS score
         |FROM (SELECT *, row_number() OVER (PARTITION BY label
         |    ORDER BY $qscore DESC, va, vb) AS rnk FROM p)
         |WHERE rnk = 1""".stripMargin,

    // Closed-form successor-cap accounting from bucket sizes (m=32):
    // emitted = C(g,2) when g-1 <= m else m*g - m(m+1)/2.
    "q_dedup_pair_budget" ->
      s"""WITH ${bucketsCte(adaptivePlanesSql)},
         |gs AS (SELECT bucket, count(*) AS g FROM buck GROUP BY 1),
         |p AS (SELECT g, g * (g - 1) // 2 AS full_pairs,
         |  CASE WHEN g - 1 <= 32 THEN g * (g - 1) // 2
         |    ELSE 32 * g - 528 END AS emitted_pairs FROM gs)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(CASE WHEN g - 1 > 32 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mega_buckets,
         |  CAST(sum(full_pairs) AS BIGINT) AS full_pairs,
         |  CAST(sum(emitted_pairs) AS BIGINT) AS emitted_pairs,
         |  CAST(sum(full_pairs - emitted_pairs) AS BIGINT) AS dropped_pairs
         |FROM p""".stripMargin
  )
}
