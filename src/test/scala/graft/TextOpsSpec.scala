package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Invariants for the round-5 text operators: PII redaction exactness on
  * constructed rows, and bigram-LM score semantics at sf0.001 (the
  * value-level check is the DuckDB oracle; these pin the semantics the
  * oracle can't read — placeholders really replace the match, scores are
  * true log-probs).
  */
class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("redactPii replaces emails, urls, phones and counts matches") {
    val df = Seq(
      (1L, "write bob.smith@corp.io or alice@x.org today"),
      (2L, "see https://a.example/path?q=1 and http://b.example"),
      (3L, "call +1-555-0199 or +886-223-4455"),
      (4L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    assert(out(1L).getAs[Int]("n_email") === 2)
    assert(out(2L).getAs[Int]("n_url") === 2)
    assert(out(3L).getAs[Int]("n_phone") === 2)
    assert(out(4L).getAs[Int]("n_email") === 0)
    assert(out(4L).getAs[Int]("n_url") === 0)
    assert(out(4L).getAs[Int]("n_phone") === 0)

    // the hash is of the fully-redacted text — placeholders in, PII out
    val expected = Map(
      1L -> "write [EMAIL] or [EMAIL] today",
      2L -> "see [URL] and [URL]",
      3L -> "call [PHONE] or [PHONE]",
      4L -> "nothing sensitive here")
    val hashes = expected.map { case (k, v) =>
      k -> spark.range(1).select(md5(lit(v))).head.getString(0)
    }
    expected.keys.foreach { k =>
      assert(out(k).getAs[String]("redacted_hash") === hashes(k), s"doc $k")
      assert(out(k).getAs[Long]("redacted_len") === expected(k).length.toLong)
    }
  }

  test("lm_score is a mean log-prob: non-positive, zero only for fully-predictable docs") {
    val out = TextAnalysis.lmScore(spark, sf())
    val rows = out.collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_bigrams")
      if (n > 0) {
        val s = r.getAs[Double]("lm_score")
        assert(s <= 0.0, s"doc ${r.get(0)}: mean log-prob $s must be <= 0")
      } else assert(r.isNullAt(r.fieldIndex("lm_score")))
    }
    // corpus docs share a small vocab: scores must be informative, not
    // all zero (which would mean a degenerate one-continuation model)
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("lm_score")) &&
      r.getAs[Double]("lm_score") < -0.5))
  }

  test("round-15 single-pass derivations: df, dl, y_all from tf equal the two-pass definitions") {
    // tfidfTop/bm25Top now derive document frequency and document
    // length by RE-AGGREGATING the materialized tf instead of
    // re-exploding the token stream. This pins the identities the
    // rewrite rests on, recomputed brute-force from the raw corpus.
    // (The y_all identity is pinned too: distinctiveTerms's rewrite was
    // measured slower and reverted, but the identity backs any future
    // retry — see the operator's negative-result comment.)
    import graft.functions.TextFunctions.wsTokens
    val docs = graft.sources.Tables.documents(spark, sf())
    val toks = docs.select(col("doc_id"), col("source"),
      explode(wsTokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

    // df(token): rows-per-token over tf == count of distinct docs
    val dfDerived = tf.groupBy(col("token")).agg(count(lit(1)).as("n"))
    val dfBrute = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    assert(dfDerived.exceptAll(dfBrute).isEmpty &&
      dfBrute.exceptAll(dfDerived).isEmpty, "df-from-tf != distinct-docs df")

    // dl(doc): sum(tf) == token count, for every doc with >=1 token
    val dlDerived = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n"))
    val dlBrute = docs
      .select(col("doc_id"), size(wsTokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
    assert(dlDerived.exceptAll(dlBrute).isEmpty &&
      dlBrute.exceptAll(dlDerived).isEmpty, "dl-from-tf != size(wsTokens)")

    // y_all(token): sum of per-source counts == corpus occurrence count
    val ys = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("y_s"))
    val yAllDerived = ys.groupBy(col("token")).agg(sum(col("y_s")).as("n"))
    val yAllBrute = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
    assert(yAllDerived.exceptAll(yAllBrute).isEmpty &&
      yAllBrute.exceptAll(yAllDerived).isEmpty, "y_all-from-ys != corpus count")
  }

  // Both sides of the tf-checkpoint ceiling give the same rows. The
  // fixture is under the default ceiling, so the default call takes the
  // truncated side, and a 0-byte ceiling puts every corpus past it.
  // Past it, bm25Top computes dl with the map-only size(wsTokens)
  // instead of re-aggregating a non-materialized tf, and lmScore
  // recomputes the bigram stream per consumer.
  for ((name, run) <- Seq[(String, Long => org.apache.spark.sql.DataFrame)](
      "bm25Top past-ceiling fallback (map-only dl)" ->
        (m => TextAnalysis.bm25Top(spark, sf(), tfMaxBytes = m)),
      "lmScore past-ceiling fallback (per-consumer bigram stream)" ->
        (m => TextAnalysis.lmScore(spark, sf(), tfMaxBytes = m))))
    test(s"$name is result-identical to the truncated plan") {
      val truncated = run(TextAnalysis.TfMaxBytes).collect().toSet
      val fallback = run(0L).collect().toSet
      assert(fallback === truncated, "fallback branch diverged from truncated branch")
    }
}
