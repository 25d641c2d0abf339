package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Round-13 scale treatments of the exact postings generators:
  *
  *  - the min-wise inclusion ensemble (`containmentEnsemble`) must be
  *    recall-complete on exactly the asymmetric excerpt-in-host class
  *    the banded form declares it misses;
  *  - the capped prefix join (`jaccardPrefixCapped`) must reproduce the
  *    exact prefix join wherever the cap doesn't bind;
  *  - the fail-fast corpus-size gates and the size-gated participant
  *    broadcast must switch on their confs without changing results.
  */
class ContainmentScaleSpec extends SparkTestBase {

  /** Asymmetric-pair fixture: 10 planted (excerpt ⊂ host) pairs at
    * ~100× size ratio (50-shingle excerpt inside a ~5000-shingle host —
    * Jaccard ≈ 0.01, beneath any symmetric band threshold) plus filler.
    * Tokens are unique per family, so every planted pair has
    * containment exactly 1.0 and no cross-family shingles collide.
    */
  private lazy val asymDir: String = {
    val dir = Files.createTempDirectory("graft_asym_fixture").toString
    val rows = (0 until 10).flatMap { f =>
      val toks = (0 until 5000).map(j => s"w${f}_$j")
      val host = toks.mkString(" ")
      val excerpt = toks.slice(100, 152).mkString(" ")
      Seq((f.toLong * 2, host, "en", s"fam$f", host.length.toLong),
        (f.toLong * 2 + 1, excerpt, "en", s"fam$f", excerpt.length.toLong))
    } ++ (0 until 30).map { k =>
      val t = (0 until 52).map(j => s"f${k}_$j").mkString(" ")
      (1000L + k, t, "en", "filler", t.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact containment finds every planted 100x excerpt pair") {
    val exact = Dedup.containment(spark, asymDir)
      .select(col("doc_small"), col("doc_big"), col("containment_bp"))
      .collect()
    val planted = exact.filter(r => r.getLong(0) % 2 == 1
      && r.getLong(1) == r.getLong(0) - 1)
    assert(planted.length === 10)
    assert(planted.forall(_.getLong(2) === 10000L))
  }

  test("min-wise ensemble recall-matches exact containment at 100x asymmetry") {
    val exact = canon(Dedup.containment(spark, asymDir))
    val ens = canon(Dedup.containmentEnsemble(spark, asymDir))
    // same columns, same scores: on a fixture where every qualifying
    // pair has containment 1.0, a probe miss is impossible (the argmin
    // shingle of the excerpt is ALWAYS in the host) — the ensemble must
    // reproduce the exact relation outright
    assert(ens === exact)
    assert(ens.nonEmpty)
  }

  test("banded containment misses the asymmetric class the ensemble catches") {
    // the declared envelope of the symmetric-LSH generator, pinned so
    // the gap the ensemble closes stays visible if bands ever change
    val banded = Dedup.containmentBanded(spark, asymDir)
      .filter(col("doc_small") % 2 === 1
        && col("doc_big") === col("doc_small") - 1)
    assert(banded.count() === 0)
  }

  test("capped prefix join reproduces the exact prefix join below the cap") {
    val exact = canon(Dedup.jaccardPrefix(spark, sf()))
    val capped = canon(Dedup.jaccardPrefixCapped(spark, sf()))
    assert(capped === exact)
  }

  test("exact generators fail fast above graft.dedup.exactGenLimit") {
    spark.conf.set("graft.dedup.exactGenLimit", "10")
    try {
      for ((call, twin) <- Seq(
        (() => Dedup.ngramJaccard(spark, sf()), "q_ngram_jaccard_banded"),
        (() => Dedup.containment(spark, sf()), "q_containment_ensemble"),
        (() => Dedup.jaccardPrefix(spark, sf()), "q_jaccard_prefix_capped"))) {
        // the TYPED gate exception is the harness contract: Verify
        // records it as skip-with-reason (skipped.json), never `err`
        val e = intercept[Dedup.ScaleGateException](call())
        assert(e.getMessage.contains(twin),
          s"gate message must name the scale twin $twin")
        assert(e.getMessage.contains("exactGenLimit"))
      }
    } finally spark.conf.unset("graft.dedup.exactGenLimit")
  }

  test("participant prune: broadcast and shuffled semi-join agree") {
    import spark.implicits._
    val docs = (0L to 99L).map(i => (i, s"t$i")).toDF("doc_id", "payload")
    val pairs = Seq((1L, 5L), (7L, 9L)).toDF("doc_a", "doc_b")
    // default limit: the pair-id prune carries an explicit broadcast hint
    val hinted = Dedup.pruneToParticipants(spark, docs, pairs)
    assert(hinted.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
    spark.conf.set("graft.dedup.broadcastIdLimit", "0")
    try {
      val plain = Dedup.pruneToParticipants(spark, docs, pairs)
      assert(!plain.queryExecution.optimizedPlan.toString
        .contains("strategy=broadcast"))
      assert(canon(plain) === canon(hinted))
      assert(canon(plain).length === 4)
    } finally spark.conf.unset("graft.dedup.broadcastIdLimit")
  }

  test("ensemble results are identical under either stop strategy") {
    // task: the stop-fingerprint set must never be an un-gated broadcast.
    // Force the shuffled anti-join path (limit below any count, including
    // the empty stop set this fixture produces) and pin result identity
    // against the default single-row-broadcast path.
    val broadcastRows = canon(Dedup.containmentEnsemble(spark, asymDir))
    assert(broadcastRows.nonEmpty)
    spark.conf.set("graft.dedup.stopBroadcastLimit", "-1")
    try assert(canon(Dedup.containmentEnsemble(spark, asymDir))
      === broadcastRows)
    finally spark.conf.unset("graft.dedup.stopBroadcastLimit")
  }

  test("ensemble stop strategies agree when the stop set is non-empty") {
    // a fixture where a shingle exceeds maxDf so the stop set actually
    // binds: 120 docs sharing one boilerplate header + a planted
    // excerpt/host pair that must survive under BOTH strategies
    val dir = Files.createTempDirectory("graft_stop_fixture").toString
    val header = "common header line shared across documents"
    val toks = (0 until 400).map(j => s"h_$j")
    val host = header + " " + toks.mkString(" ")
    val excerpt = toks.slice(10, 60).mkString(" ")
    import spark.implicits._
    val rows = Seq((0L, host, "en", "s", host.length.toLong),
      (1L, excerpt, "en", "s", excerpt.length.toLong)) ++
      (0 until 120).map(k =>
        (10L + k, header + s" unique tail $k marker", "en", "s", 1L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val bc = canon(Dedup.containmentEnsemble(spark, dir, maxDf = 100))
    assert(bc.nonEmpty, "planted excerpt-in-host pair survives the stop cap")
    // each row must equal the default (single-row broadcast) ensemble:
    // the shuffled anti-join strategy, and the exact postings join,
    // which reads the same stop rule
    val others = Seq[(String, () => Seq[String])](
      "ensemble, anti-join stop strategy" -> (() => {
        spark.conf.set("graft.dedup.stopBroadcastLimit", "-1")
        try canon(Dedup.containmentEnsemble(spark, dir, maxDf = 100))
        finally spark.conf.unset("graft.dedup.stopBroadcastLimit")
      }),
      "exact containment" -> (() =>
        canon(Dedup.containment(spark, dir, maxDf = 100))))
    for ((name, run) <- others) assert(run() === bc, name)
  }

  test("banded scorer results are identical under either prune strategy") {
    // every pruneToParticipants caller: the broadcast id set (default
    // limit) against the shuffled semi-join (limit 0), at sf0.01 so each
    // side returns rows
    val d = sf("sf0.01")
    val callers = Seq[(String, () => DataFrame)](
      "jaccardPrefix" -> (() => Dedup.jaccardPrefix(spark, d)),
      "jaccardPrefixCapped" -> (() => Dedup.jaccardPrefixCapped(spark, d)),
      "ngramJaccardBanded" -> (() => Dedup.ngramJaccardBanded(spark, d)),
      "containmentBanded" -> (() => Dedup.containmentBanded(spark, d)),
      "containmentEnsemble" -> (() => Dedup.containmentEnsemble(spark, d)),
      "jaccardCalibration" -> (() => Dedup.jaccardCalibration(spark, d)),
      "verifyPairs" -> (() => Dedup.verifyPairs(spark, d)))
    for ((name, run) <- callers) {
      val broadcastRows = canon(run())
      assert(broadcastRows.nonEmpty, name)
      spark.conf.set("graft.dedup.broadcastIdLimit", "0")
      try assert(canon(run()) === broadcastRows, name)
      finally spark.conf.unset("graft.dedup.broadcastIdLimit")
    }
  }

  test("containment scorers emit an equal-size pair once, smaller id first") {
    // two identical documents (equal kept size, full containment) plus
    // filler of unique tokens; the twins' ids run against file order
    val dir = Files.createTempDirectory("graft_tie_fixture").toString
    val twin = (0 until 60).map(j => s"t_$j").mkString(" ")
    import spark.implicits._
    val rows = Seq((11L, twin, "en", "s", twin.length.toLong),
      (4L, twin, "en", "s", twin.length.toLong)) ++
      (0 until 20).map { k =>
        val t = (0 until 40).map(j => s"u${k}_$j").mkString(" ")
        (100L + k, t, "en", "s", t.length.toLong)
      }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    for ((name, run) <- Seq[(String, () => DataFrame)](
        "containment" -> (() => Dedup.containment(spark, dir)),
        "containmentBanded" -> (() => Dedup.containmentBanded(spark, dir)),
        "containmentEnsemble" -> (() => Dedup.containmentEnsemble(spark, dir)))) {
      val out = run().select(col("doc_small"), col("doc_big"),
        col("containment_bp")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(out === Seq((4L, 11L, 10000L)), name)
    }
  }
}
