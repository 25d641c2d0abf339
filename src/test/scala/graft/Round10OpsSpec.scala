package graft

import org.apache.spark.sql.functions._

/** Round-10 pins: the train-once ANN model store and the composed
  * IVF→PQ-ADC→exact-rerank retrieval plan.
  */
class Round10OpsSpec extends SparkTestBase {

  test("stored-model queries plan NO Lloyd training — query time reads " +
      "parquet models and runs one probe, not iters × assign passes") {
    import graft.operators.Similarity
    // every Lloyd round plans a row_number window over (vec_id[, sub]);
    // a stored-model query may keep at most the rerank machinery —
    // zero windows at all in these plans
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    for ((name, df) <- Seq(
        "q_sim_topk_pq" -> Similarity.topKPqAdc(spark, sf()),
        "q_pq_error" -> Similarity.pqQuantError(spark, sf()),
        "q_kmeans" -> Similarity.kmeans(spark, sf()),
        "q_sim_topk_ivf_kmeans" -> Similarity.topKIvfKmeans(spark, sf()),
        "q_sim_topk_ivf_pq" -> Similarity.topKIvfPq(spark, sf()))) {
      assert(windows(df).isEmpty,
        s"$name must read the stored model, not retrain (found a " +
          s"window-ranked assign pass):\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("stored PQ model is bit-identical to an in-query retrain") {
    import graft.operators.Similarity
    val (codesStored, cbStored) = Similarity.pqStored(spark, sf())
    val (codesLive, cbLive, _) =
      Similarity.pqModelFrom(graft.sources.Tables.embeddings(spark, sf()))
    assert(canon(codesStored) == canon(codesLive),
      "stored PQ codes diverge from a retrain")
    assert(canon(cbStored) == canon(cbLive),
      "stored PQ codebook diverges from a retrain")
  }

  test("stored k-means model is bit-identical to an in-query retrain") {
    import graft.operators.Similarity
    val (afStored, centStored) = Similarity.kmeansModel(spark, sf())
    val (afLive, centLive, _) =
      Similarity.kmeansAssignments(graft.sources.Tables.embeddings(spark, sf()),
        k = 8, iters = 2)
    assert(canon(afStored) == canon(afLive),
      "stored IVF assignment diverges from a retrain")
    assert(canon(centStored) == canon(centLive),
      "stored centroids diverge from a retrain")
  }

  test("sweep variants over retrained models equal the stored-model keys") {
    import graft.operators.Similarity
    // stored models equal retrained ones, so the retraining sweep
    // variants must return the stored-model keys' rows
    val emb = graft.sources.Tables.embeddings(spark, sf())
    for ((name, retrained, stored) <- Seq(
        ("topKPqAdcFrom", Similarity.topKPqAdcFrom(emb),
          Similarity.topKPqAdc(spark, sf())),
        ("topKIvfPqFrom", Similarity.topKIvfPqFrom(emb)._1,
          Similarity.topKIvfPq(spark, sf()))))
      assert(canon(retrained) == canon(stored), s"$name diverges")
  }

  test("composed retrieval: candidates honor the probe, rerank bound " +
      "holds, and top-k equals brute force restricted to the candidates") {
    import graft.operators.Similarity
    val res = Similarity.topKIvfPq(spark, sf(), k = 10, nprobe = 2)
      .collect()
    assert(res.length == 10)
    // every returned row's cid must be one of the 2 probed lists
    val (af, cent) = Similarity.kmeansModel(spark, sf())
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val probed = Similarity.ivfProbe(emb, cent, 2)
      .collect().map(_.getLong(0)).toSet
    assert(res.forall(r => probed(r.getLong(1))),
      s"rows outside the probed lists: ${res.toSeq}")
    // the exact re-rank means: among the ADC top-50 candidates, the
    // returned 10 are the TRUE cosine top-10 (verify against the
    // brute-force operator restricted to candidate ∪ query rows)
    val candIds = res.map(_.getLong(0)).toSet
    val brute = Similarity.topKFrom(emb, k = emb.count().toInt)
      .collect().filter(r => candIds(r.getLong(0)))
      .sortBy(r => (-r.getDouble(1), r.getLong(0))).take(10)
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = res.map(r => (r.getLong(0), r.getDouble(3))).toSeq
      .sortBy(t => (-t._2, t._1))
    assert(got.map(_._1).toSet == brute.map(_._1).toSet,
      s"rerank order disagrees with brute force on the candidates: " +
        s"$got vs $brute")
  }
}
