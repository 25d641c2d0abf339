package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Round-12 scale guards: the band-first postings scorers
  * (candidates from minhash bands, exact arithmetic on candidates only)
  * and the per-vector successor cap that bounds pair emission from
  * mega dup-family LSH buckets, checked on each of its four callers
  * against the exact generator it caps.
  */
class BandedDedupSpec extends SparkTestBase {

  /** Fixture-derived "uncapped" successor cap: the largest LSH-bucket
    * occupancy, so maxSucc ≥ g−1 holds for every bucket (all pairs
    * emitted) without exploding a 2²⁰-slot sequence per vector.
    */
  private lazy val uncapped: Int =
    Similarity.lshBuckets(spark, sf(),
        Similarity.adaptivePlanes(
          graft.sources.Tables.embeddings(spark, sf()).count()))
      .groupBy(col("bucket")).agg(count(lit(1)).as("g"))
      .agg(max(col("g"))).head().getLong(0).toInt

  test("banded jaccard scores exactly the band candidate set") {
    val pairs = Dedup.minhashPairs(spark, sf()).select("doc_a", "doc_b")
    val banded = Dedup.ngramJaccardBanded(spark, sf()).select("doc_a", "doc_b")
    assert(banded.count() === pairs.count())
    assert(banded.except(pairs).count() === 0)
  }

  test("banded jaccard arithmetic agrees with the exact postings scorer") {
    // on pairs both relations surface (the fixture's stop-cap never
    // binds), (n_inter, n_union, near_dup) must be identical — the
    // banded form changes the GENERATOR, never the score
    val exact = Dedup.ngramJaccard(spark, sf())
      .select(col("doc_a"), col("doc_b"), col("n_inter").as("ei"),
        col("n_union").as("eu"), col("near_dup").as("en"))
    val banded = Dedup.ngramJaccardBanded(spark, sf())
    val joined = banded.join(exact, Seq("doc_a", "doc_b"))
    assert(joined.count() > 0)
    assert(joined.filter(col("n_inter") =!= col("ei")
      || col("n_union") =!= col("eu")
      || col("near_dup") =!= col("en")).count() === 0)
  }

  test("banded containment scores from the smaller side at >= 0.9") {
    val c = Dedup.containmentBanded(spark, sf())
    assert(c.filter(col("sz_small") > col("sz_big")).count() === 0)
    assert(c.filter(col("n_inter") * 10 < col("sz_small") * 9).count() === 0)
    assert(c.filter(col("containment_bp") < 9000
      || col("containment_bp") > 10000).count() === 0)
  }

  test("successor cap bounds per-vector out-degree and nests by cap") {
    val two = Similarity.nearDupLsh(spark, sf(), maxSucc = 2)
    val all = Similarity.nearDupLsh(spark, sf(), maxSucc = uncapped)
    // each vector pairs with ≤ maxSucc rank-successors and is targeted
    // by ≤ maxSucc rank-predecessors (pairs are emitted in canonical
    // vec_a < vec_b orientation, so the capped quantity is the
    // INCIDENT degree, bounded by 2·maxSucc)
    val maxDeg = two
      .select(col("bucket"), explode(array(col("vec_a"), col("vec_b"))).as("v"))
      .groupBy(col("bucket"), col("v"))
      .agg(count(lit(1)).as("d")).agg(max(col("d"))).head().getLong(0)
    assert(maxDeg <= 4)
    // the locality order may rank a larger vec_id first; the pair still
    // comes out smaller id first
    assert(two.filter(col("vec_a") >= col("vec_b")).count() === 0)
    // capped edges are a subset of the uncapped all-pairs relation
    assert(two.select("bucket", "vec_a", "vec_b")
      .except(all.select("bucket", "vec_a", "vec_b")).count() === 0)
    // and the uncapped relation IS all-pairs: sum of C(g,2) over buckets
    val g = Similarity.lshBuckets(spark, sf(),
        Similarity.adaptivePlanes(
          graft.sources.Tables.embeddings(spark, sf()).count()))
      .groupBy(col("bucket")).agg(count(lit(1)).as("g"))
      .agg(sum(expr("g * (g - 1) div 2"))).head().getLong(0)
    assert(all.count() === g)

    // every capped generator against its exact twin: at cap 2 a subset,
    // at a cap of at least the largest block (a block holds each id
    // once, so the corpus size bounds it) the same rows
    val docs = graft.sources.Tables.documents(spark, sf()).count().toInt
    val generators: Seq[(String, Int => DataFrame, DataFrame, Int)] = Seq(
      ("minhashPairs", Dedup.minhashPairsCapped(spark, sf(), _),
        Dedup.minhashPairs(spark, sf()), docs),
      ("simhashPairs", m => Dedup.simhashPairsCapped(spark, sf(), maxSucc = m),
        Dedup.simhashPairs(spark, sf()), docs),
      ("jaccardPrefix", Dedup.jaccardPrefixCapped(spark, sf(), _),
        Dedup.jaccardPrefix(spark, sf()), docs),
      ("nearDupLsh", Similarity.nearDupLsh(spark, sf(), _), all, uncapped))
    for ((name, capped, exact, big) <- generators) {
      val expected = canon(exact)
      assert(expected.nonEmpty, s"$name: fixture must exercise the pair path")
      assert(canon(capped(2)).toSet.subsetOf(expected.toSet), name)
      assert(canon(capped(big)) === expected, name)
    }
  }

  test("winnowPairs df>=2 keep-filter is result-identical to the unfiltered definition") {
    // round-15 join-input optimization: keep drops df=1 fingerprints
    // before the postings self-join. A df=1 fp's only self-join match is
    // (x, x), which fails doc_a < doc_b — so the pair relation must be
    // IDENTICAL to the brute-force recount over winnow's table with only
    // the maxDf cap applied.
    val out = Dedup.winnowPairs(spark, sf("sf0.01"))
    val fps = Dedup.winnow(spark, sf("sf0.01"))
      .select(col("doc_id"), col("fp")).distinct()
    val keepAll = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= 100).select("fp")
    val brute = fps.join(keepAll, "fp").as("a")
      .join(fps.join(keepAll, "fp").as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    assert(out.count() > 0, "fixture must exercise the pair path")
    assert(out.except(brute).count() === 0)
    assert(brute.except(out).count() === 0)
  }

  test("pairBudget accounting matches materialized pair counts") {
    for (m <- Seq(1, 2, 32)) {
      val budget = Similarity.pairBudget(spark, sf(), maxSucc = m).head()
      val emitted = Similarity.nearDupLsh(spark, sf(), maxSucc = m).count()
      val full = Similarity.nearDupLsh(spark, sf(), maxSucc = uncapped).count()
      assert(budget.getAs[Long]("emitted_pairs") === emitted,
        s"emitted mismatch at m=$m")
      assert(budget.getAs[Long]("full_pairs") === full)
      assert(budget.getAs[Long]("dropped_pairs") === full - emitted)
    }
  }
}
