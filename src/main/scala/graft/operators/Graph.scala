package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps
import graft.sources.Tables

/** Graph analytics over the near-duplicate candidate graph (nodes =
  * documents, undirected edges = minhash-LSH candidate pairs) — the
  * "which cluster representatives matter" ranking a curation pipeline
  * runs after dedup clustering.
  *
  * Design points:
  *   - **Fixed iteration count ⇒ one Catalyst plan.** Unlike the
  *     connected-components loop (data-dependent convergence, driver
  *     paced), k PageRank iterations unroll into a single declarative
  *     plan of k join+aggregate rounds — Catalyst sees the whole thing,
  *     AQE sizes every exchange, and no action runs until the sink.
  *   - **Integer fixed-point (10^12 micro-units) everywhere.** Ranks are
  *     BIGINTs; per-edge contributions use integer floor-division and
  *     per-node sums are exact integer math — no float summation order
  *     anywhere, so any engine (and the DuckDB oracle, which unrolls the
  *     same three iterations) reproduces identical values bit-for-bit.
  *   - Scale shape per iteration: one shuffle of (dst, contrib) long
  *     pairs + one hash aggregate — edges only, never text. Isolated
  *     documents keep the teleport mass `base`; dangling-mass
  *     redistribution is deliberately omitted (every edge is
  *     undirected, so every non-isolated node has out-degree ≥ 1).
  */
object Graph {

  private val Scale = 1000000000000L // 10^12 micro-units of rank mass

  /** The minhash candidate pairs `(doc_a, doc_b)`, lineage-truncated:
    * the undirected edge list every graph key starts from.
    */
  private def candidatePairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minhashPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).truncateLineage()

  /** Both directions of every pair, as directed `(src, dst)` edges. */
  private def bothDirections(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** 3-iteration PageRank (damping 0.85) over the minhash candidate
    * graph. Returns (doc_id, degree, pagerank_f BIGINT micro-units,
    * pagerank DOUBLE rounded from the integer — display only).
    */
  def pagerank(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    val edges = bothDirections(candidatePairs(spark, sfDir))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = Tables.documents(spark, sfDir).select(col("doc_id"))
    // corpus size rides the plan as a broadcast 1-row aggregate (BNLJ)
    val n = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))

    val init = nodes.crossJoin(n)
      .select(col("doc_id"), col("n_nodes"),
        expr(s"${Scale}L div n_nodes").as("rank_f"))

    val last = (1 to iters).foldLeft(init) { (rank, _) =>
      val contrib = edges
        .join(rank.select(col("doc_id").as("src"), col("rank_f")), "src")
        .join(deg, "src")
        .groupBy(col("dst"))
        .agg(sum(expr("(rank_f * 85L) div (deg * 100L)")).as("in_mass"))
      rank.select(col("doc_id"), col("n_nodes"))
        .join(contrib, rank("doc_id") === contrib("dst"), "left")
        .select(col("doc_id"), col("n_nodes"),
          (expr(s"(15L * ${Scale}L) div (100L * n_nodes)")
            + coalesce(col("in_mass"), lit(0L))).as("rank_f"))
    }

    last.join(deg, last("doc_id") === deg("src"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        col("rank_f").as("pagerank_f"),
        round(col("rank_f").cast("double") / lit(Scale.toDouble), 9)
          .as("pagerank"))
  }

  /** Per-document triangle participation over the minhash candidate
    * graph — the cluster-density signal a curation pass uses to tell
    * tight duplicate cliques (boilerplate farms: every pair near-dup)
    * from loose chains (incremental edits).
    *
    * Algorithm: degree-ordered edge orientation, the standard bound for
    * distributed triangle enumeration (Suri & Vassilvitskii's MR model).
    * Every undirected edge is oriented from the (degree, id)-smaller
    * endpoint to the larger, so each triangle is generated exactly once
    * — as a wedge at its lowest-ordered vertex — and the wedge fan-out
    * at any vertex is bounded by its OUT-degree, which the orientation
    * caps at O(√|E|) regardless of raw degree skew. A hub with a million
    * neighbors contributes no million-wide wedge explosion: almost all
    * its edges point INTO it. Two self-joins on oriented edges (wedge
    * build + closing-edge semi-probe), both key-partitioned shuffles of
    * (src, dst) long pairs — no vertex ever needs its full neighborhood
    * in memory.
    */
  def triangles(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = candidatePairs(spark, sfDir)
    val deg = pairs.select(col("doc_a").as("v"))
      .union(pairs.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient each pair from (deg, id)-smaller to larger endpoint
    val aFirst = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("doc_a") < col("doc_b"))
    def pick(ifA: String, ifB: String) = when(aFirst, col(ifA)).otherwise(col(ifB))
    val oriented = pairs
      .join(deg.select(col("v").as("doc_a"), col("deg").as("dega")), "doc_a")
      .join(deg.select(col("v").as("doc_b"), col("deg").as("degb")), "doc_b")
      .select(pick("doc_a", "doc_b").as("src"), pick("doc_b", "doc_a").as("dst"),
        pick("dega", "degb").as("deg_src"), pick("degb", "dega").as("deg_dst"))
      .truncateLineage()
    // wedges at the lowest-ordered vertex: (u→v, u→w) with v ≺ w in the
    // same (deg, id) order, closed by the oriented edge v→w
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src")
          && (col("e1.deg_dst") < col("e2.deg_dst")
            || (col("e1.deg_dst") === col("e2.deg_dst")
              && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val tri = wedges.join(oriented.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_semi")
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Depth-bounded BFS reachability from a seed set, expressed as a
    * RECURSIVE CTE through the SQL front door (Spark 4's `WITH
    * RECURSIVE` → `UnionLoop` execution). From every 20th document, how
    * many (seed, node) pairs become reachable at each hop count ≤ 3 over
    * the candidate graph — the "blast radius" a curation pipeline asks
    * before propagating a takedown/licensing flag through near-dup
    * clusters.
    *
    * Scale shape: each recursion level is ONE hash join of the frontier
    * against the edge list + the level-limit filter — the same per-
    * iteration cost as the CC loop, but engine-managed instead of
    * driver-paced. UNION ALL recursion (no per-level dedup) is safe here
    * because depth is capped; the min-hop aggregate outside collapses
    * duplicate paths. The identical dialect-common text runs on DuckDB
    * over an edges CTE rebuilt from the band keys in SQL.
    */
  /** Bounded k-core peeling — k=2, three unrolled rounds. The k-core is
    * the standard "dense duplicate neighborhood" signal: a vertex that
    * survives repeated removal of degree-<k vertices sits in a tightly
    * interlinked cluster (template farms, mirror sets), where a vertex
    * whose candidates all hang off one hub does not. Exact k-core needs
    * data-dependent convergence; THREE rounds is the fixed-depth
    * approximation that unrolls into ONE declarative plan (the pagerank
    * pattern) — each round is a degree aggregate + two left-semi joins
    * keeping edges whose BOTH endpoints stay alive, all on the same
    * `src`/`dst` hash partitioning, sized by AQE. Rounds only shrink the
    * edge set, so cost is monotonically decreasing; at 100 TB the first
    * degree aggregate is the only full-edge shuffle.
    */
  def kcore(spark: SparkSession, sfDir: String, k: Int = 2,
      rounds: Int = 3): DataFrame = {
    val edges0 = bothDirections(candidatePairs(spark, sfDir))
    // Truncate lineage once per round (the CC-loop policy, durable via
    // graft.cc.checkpointDir): each round references the previous edge
    // set THREE times (degree agg + two semi probes), so without the cut
    // the plan re-derives the whole upstream 3^rounds times — observed
    // as a 249-exchange plan for 3 rounds.
    val surviving = (1 to rounds).foldLeft(edges0) { (edges, round) =>
      val alive = edges.groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("v"))
      val peeled = edges
        .join(alive.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi")
      // the FINAL round feeds one aggregate — a single reference needs
      // no cut; edges0 is two unions of the already-truncated pairs
      if (round < rounds) peeled.truncateLineage() else peeled
    }
    surviving.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("core_degree"))
  }

  def reachBfs(spark: SparkSession, sfDir: String): DataFrame = {
    Dedup.minhashPairs(spark, sfDir).createOrReplaceTempView("prs")
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .createOrReplaceTempView("documents_nodes")
    spark.sql(reachBfsTail.replace("__DOCS__", "documents_nodes"))
  }

  /** Dialect-common recursive text; `__DOCS__` is the node table name
    * (Spark binds a pruned temp view, the oracle uses `documents`).
    */
  val reachBfsTail: String =
    """WITH RECURSIVE edges AS (
      |  SELECT doc_a AS n, doc_b AS m FROM prs
      |  UNION ALL SELECT doc_b, doc_a FROM prs),
      |seeds AS (SELECT doc_id FROM __DOCS__ WHERE doc_id % 20 = 0),
      |reach(src, node, hops) AS (
      |  SELECT doc_id, doc_id, 0 FROM seeds
      |  UNION ALL
      |  SELECT r.src, e.m, r.hops + 1
      |  FROM reach r JOIN edges e ON r.node = e.n
      |  WHERE r.hops < 3),
      |best AS (SELECT src, node, CAST(min(hops) AS BIGINT) AS hop
      |  FROM reach GROUP BY src, node)
      |SELECT hop, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM best GROUP BY hop""".stripMargin

  /** Synchronous label propagation (3 rounds) over the candidate graph
    * — the lightweight community detector between plain connected
    * components (which merge everything touching) and the heavier
    * modularity methods: each round, every node adopts the most common
    * label among its neighbors, ties to the SMALLEST label, no-neighbor
    * nodes keeping their current label. The deterministic tie-break and
    * a fixed round count make the whole loop ONE declarative plan
    * (pagerank's design) that both engines replay exactly — no
    * random-order asynchrony, which is what makes textbook LPA
    * irreproducible. Per round: one shuffle of (dst, lbl) long pairs +
    * one hash aggregate + one per-node window — edges only, never text.
    */
  def labelProp(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = bothDirections(candidatePairs(spark, sfDir))
    val init = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("doc_id").as("lbl"))
    val last = (1 to iters).foldLeft(init) { (lab, _) =>
      val votes = edges
        .join(lab.select(col("doc_id").as("src"), col("lbl")), "src")
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      val best = votes
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("dst")).orderBy(col("c").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("dst"), col("lbl").as("new_lbl"))
      // each round references `lab` twice (vote source + carry-through):
      // an uncut fold re-derives round i-1's subtree 2^i times — same
      // blowup the kcore peel hit; truncation keeps the plan linear
      lab.join(best, lab("doc_id") === best("dst"), "left")
        .select(lab("doc_id"), coalesce(col("new_lbl"), lab("lbl")).as("lbl"))
        .truncateLineage()
    }
    last.select(col("doc_id"), col("lbl").as("label"))
  }
}
