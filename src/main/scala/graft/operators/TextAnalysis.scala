package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis operators over the `documents` table: per-document
  * statistics, token counting, language identification, quality scoring,
  * and content fingerprinting (SURVEY.md §2.I4 + the driver's north-star
  * LLM-pipeline surface).
  *
  * Everything here is a narrow per-row map over the corpus (higher-order
  * functions, no UDFs, no shuffles) followed by at most one aggregation —
  * the shape that scans 100 TB at I/O speed.
  */
object TextAnalysis {

  /** Per-document statistics: sizes, token counts, vocabulary size,
    * longest token, and a consistency check of the stored n_chars.
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    // token stats via the single-pass custom expression: the HOF form
    // (3 splits + distinct + transform/max per row, all interpreted)
    // costs ~1 ms/document — interpreter-bound, not scan-bound.
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("len_text"),
      (length(col("text")) === col("n_chars")).as("n_chars_ok"),
      graft.functions.HashExpressions.token_stats(col("text")).as("ts"))
      .select(col("doc_id"), col("len_text"), col("n_chars_ok"),
        col("ts.n_tokens").as("n_tokens"),
        col("ts.n_uniq_tokens").as("n_uniq_tokens"),
        col("ts.max_token_len").as("max_token_len"))

  /** Token counting three ways: whitespace tokens, BPE-ish regex tokens
    * (letter runs ∣ digit runs ∣ single punctuation), and non-space
    * character count — the denominators a tokenizer-budget pipeline needs.
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(wsTokens(col("text"))).as("ws_tokens"),
      patternCount(col("text"), "[a-z]+|[0-9]+|[^a-z0-9\\s]").as("re_tokens"),
      length(regexp_replace(normText(col("text")), "\\s", "")).as("n_chars_nospace"))

  private val langMarkers: Seq[(String, String)] = Seq(
    "zh" -> "[\\x{4e00}-\\x{9fff}]",
    "en" -> "\\b(the|and|of|to|is)\\b",
    "es" -> "\\b(el|la|los|de|que)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "fr" -> "\\b(le|les|des|et|est)\\b")

  /** The predicted language from each marker's count `n(lang, pattern)`:
    * the largest count, ties to the earlier marker (zh > en > es > de >
    * fr), zero evidence → 'und'.
    */
  private def langVote(n: ((String, String)) => Column): Column = {
    val m = greatest(langMarkers.map(n): _*)
    langMarkers.foldLeft(when(m === 0, lit("und"))) {
      case (acc, marker) => acc.when(n(marker) === m, lit(marker._1))
    }
  }

  /** Language ID by marker n-gram/stopword counts with a fixed precedence
    * (zh > en > es > de > fr) on ties; zero evidence → 'und'. A heuristic,
    * not a model — but a deterministic, engine-portable one.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir).select(
      col("doc_id") +: col("lang").as("claimed_lang") +:
        langMarkers.map { case (l, p) => patternCount(col("text"), p).as(s"${l}_n") }: _*)
    scored.withColumn("pred_lang", langVote { case (l, _) => col(s"${l}_n") })
      .withColumn("lang_match", col("pred_lang") === col("claimed_lang"))
  }

  /** The four quality features of `text`: whitespace tokens, characters,
    * sentence punctuation marks and common-English stopwords.
    */
  private val nTokens = size(wsTokens(col("text")))
  private val nChars = length(col("text"))
  private val nPunct = nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))
  private val nStop = patternCount(col("text"), "\\b(the|a|of|and|to)\\b")

  /** The 0-4 quality points: +1 each for ≥10 tokens, ≥50 chars,
    * punctuation ≤5% of chars (as a cross-multiplication, so no engine
    * divides) and a stopword.
    */
  private val qualityPoints = (nTokens >= 10).cast("int") + (nChars >= 50).cast("int") +
    (nPunct * 20 <= nChars).cast("int") + (nStop > 0).cast("int")

  /** Quality scoring with integer-exact arithmetic: the four features and
    * their [[qualityPoints]].
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      nTokens.as("n_tokens"), nChars.as("n_chars"),
      nPunct.as("n_punct"), nStop.as("n_stopwords"),
      qualityPoints.as("quality_score"))

  /** Quality-classifier INFERENCE — the shape of every learned filter in
    * a curation pipeline (fastText-style quality/toxicity models): a
    * trained weight vector applied to per-document features, keep/drop
    * by threshold. The weight vector rides along as an in-plan array
    * literal (a model registry would broadcast it — weights are bytes,
    * never a join); the dot product is `zip_with` + `aggregate` over the
    * feature array — per-row narrow work, zero shuffles, and the 100 TB
    * cost is exactly one corpus scan. Weights are integer micro-units
    * and features are integer counts, so the score — and therefore the
    * keep/drop DECISION — is exact BIGINT arithmetic: the sigmoid is
    * monotone, so classifying at p > 0.5 needs only the sign of the
    * linear score, never a float `exp`.
    */
  def linearScore(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = array(lit(1L) +: Seq(nTokens, nChars, nPunct, nStop).map(_.cast("long")): _*)
    val weights = array(Seq(-800000L, 20000L, 500L, -60000L, 30000L).map(lit): _*)
    val score = aggregate(zip_with(feats, weights, (x, w) => x * w),
      lit(0L), (acc, x) => acc + x)
    Tables.documents(spark, sfDir).select(col("doc_id"),
      score.as("score_e6"), (score > 0).as("keep"))
  }

  /** Feature hashing (the hashing trick) — fixed-width sparse feature
    * vectors with NO vocabulary pass: token → md5-derived bucket in
    * [0, dim), per-doc bucket counts. This is how a streaming/online
    * featurizer avoids the two-pass build-vocab-then-encode shape (and
    * its unbounded vocab table): the "vocabulary" is a hash function,
    * identical on every engine and every ingest batch. Collisions are
    * the accepted trade (dim trades memory for collision rate). One
    * explode + one (doc, bucket) aggregate; output is bounded by
    * docs × dim, not vocabulary size.
    */
  def featureHash(spark: SparkSession, sfDir: String, dim: Int = 64): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
      .select(col("doc_id"),
        (md5Int(col("token"), 8) % dim).cast("int").as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Custom expression through the SQL FRONT DOOR: `TokenStats` (a
    * codegen'd catalyst Expression) registered in the session's function
    * registry at runtime, then invoked from plain SQL text — the
    * `CREATE FUNCTION` integration path that lets SQL-only users (BI
    * tools, dbt models, ad-hoc notebooks) call the engine's native
    * expressions with zero DataFrame API. Same single-pass scan and
    * whole-stage codegen as the Column-API form; struct-field access
    * (`graft_token_stats(text).n_tokens`) resolves in SQL too.
    */
  def sqlFunctionRegistry(spark: SparkSession, sfDir: String): DataFrame = {
    org.apache.spark.sql.GraftPlanBridge.registerSqlFunction(
      spark, "graft_token_stats",
      { case Seq(e) => graft.functions.TokenStats(e) })
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id,
        |  graft_token_stats(text).n_tokens AS n_tokens,
        |  graft_token_stats(text).n_uniq_tokens AS n_uniq_tokens,
        |  graft_token_stats(text).max_token_len AS max_token_len
        |FROM documents""".stripMargin)
  }

  /** Native UDTF through the SQL front door: [[graft.functions.LinesGenerator]]
    * (a catalyst `Generator`) registered in the function registry and
    * invoked via LATERAL VIEW — the table-function sibling of
    * [[sqlFunctionRegistry]]'s scalar registration. The planner places
    * it in the same `Generate` node as `explode`, so row generation
    * streams per-document instead of materializing a line array first.
    */
  def udtfLines(spark: SparkSession, sfDir: String): DataFrame = {
    org.apache.spark.sql.GraftPlanBridge.registerSqlFunction(
      spark, "graft_lines",
      { case Seq(t, w) => graft.functions.LinesGenerator(t, w) })
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id, t.line_idx, t.line
        |FROM documents
        |LATERAL VIEW graft_lines(text, 10) t AS line_idx, line""".stripMargin)
  }

  /** Regex row-generation (UDTF-shaped): every digit-run in every
    * document becomes a row — `regexp_extract_all` + `posexplode`, the
    * generator pattern for mining structured fragments out of text. Runs
    * over text ∥ source so the generator is exercised on real matches
    * (the fixture's text column is digit-free; source is not).
    */
  def extractNumbers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(regexp_extract_all(
          concat(col("text"), lit(" "), col("source")), lit("[0-9]+"), lit(0)))
          .as(Seq("match_idx", "number_str")))
      .withColumn("number_val", col("number_str").cast("bigint"))

  /** Per-column data-quality audit of the documents table in long
    * format: null counts, distinct counts, and min/max rendered as
    * strings — the profiling pass a pipeline runs before trusting a new
    * drop of data. One aggregation job for all columns.
    */
  def qualityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.documents(spark, sfDir)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs = cols.flatMap { c =>
      Seq(sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val wide = t.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max").mkString(", ")
    wide.select(expr(
      s"stack(${cols.length}, $stacked) AS (column_name, n_nulls, n_distinct, min_str, max_str)"))
  }

  /** Materialization WINDOW for the token-stream checkpoint rewrites
    * below (tfidfTop / bm25Top's tf, lmScore's exploded fp60 stream):
    * lineage-truncating the shared relation saves a full corpus
    * re-tokenize per extra consumer, but it only pays while the
    * materialized rows FIT the executors' storage memory.
    *
    *  - FLOOR (per call site; tfidf 4 MiB, others 0): at toy corpus
    *    sizes the checkpoint write costs more than the saved pass
    *    (measured r15, isolated 3-pass sf0.1: tfidf 0.640→0.753 s
    *    truncated) — the documentsLight/spread-floor discipline.
    *  - CEILING (`tfMaxBytes`, default [[TfMaxBytes]] of corpus): past
    *    the storage budget the checkpoint THRASHES — at
    *    sf100 (573 MB corpus) lmScore's ~18 GB exploded-stream
    *    checkpoint logged "Not enough space to cache" ×22 and measured
    *    300.2 s vs the 178.4 s non-truncated ledger entry (269.6 s
    *    even under CKPT_LEVEL=MEMORY_AND_DISK_SER); tfidf 181.4 s vs
    *    75.5 s. At sf10 (57 MB corpus, ~1.8 GB stream) the same
    *    checkpoints FIT and win big (lm 30.2→7.8 s warm). The default
    *    ceiling is sized for this one-box 48 g probe envelope; a
    *    production cluster raises it in proportion to aggregate
    *    executor storage, where the materialize-once plan wins at any
    *    corpus size (the SPARK_GRAFT_CKPT_LEVEL sibling knob). Only
    *    `lmScore` and `bm25Top` take it as an argument: their floor is 0,
    *    so a small corpus reaches both sides of the window.
    */
  private def tfReuseWorthIt(spark: SparkSession, sfDir: String,
      minBytes: Long, maxBytes: Long): Boolean = {
    val bytes = Tables.fsFingerprint(spark, s"$sfDir/documents.parquet")._2
    bytes >= minBytes && bytes <= maxBytes
  }

  /** Default corpus-byte CEILING of the token-stream checkpoints. */
  val TfMaxBytes: Long = 256L << 20

  /** tf per (doc_id, token) over `docs`' whitespace tokens, and df per
    * token derived FROM tf — df(token) = |{doc : tf(doc,token) > 0}| =
    * tf's row count per token — instead of a second distinct() pass over
    * the re-exploded corpus. The AST-level derivation alone is NOT
    * enough: Catalyst prunes tf's count column under the df consumer,
    * which makes the two aggregate subtrees canonically different, so
    * ReuseExchange never unifies them and the corpus was tokenized twice
    * (the executed r15-before plan shows two Generate(explode) subtrees,
    * each over its own scan). So tf is lineage-truncated while
    * [[tfReuseWorthIt]] holds for the caller's window: materializing the
    * reduced tf relation (doc_id, token, count — the corpus collapsed
    * ~tf-fold) makes the second pass an in-memory re-aggregation (guide
    * §2.3/§2.4 + §5 localCheckpoint; the q_lm_score round-15 recipe).
    * Returns (tf, df, whether tf is materialized).
    */
  private def tfDf(spark: SparkSession, sfDir: String, docs: DataFrame,
      minBytes: Long, maxBytes: Long): (DataFrame, DataFrame, Boolean) = {
    import graft.Checkpoints.TruncateOps
    val tfRaw = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val worthIt = tfReuseWorthIt(spark, sfDir, minBytes, maxBytes)
    val tf = if (worthIt) tfRaw.truncateLineage() else tfRaw
    (tf, tf.groupBy(col("token")).agg(count(lit(1)).as("df")), worthIt)
  }

  /** TF-IDF: the most characteristic token per document. Long-format
    * shape — explode tokens, tf per (doc, token), df per token, score =
    * tf · ln(N/df) — two hash aggregations and a broadcast-size df side.
    * Ties break on the token string so ranking is deterministic. Its tf
    * checkpoint floor is 4 MiB (see [[tfReuseWorthIt]]).
    */
  def tfidfTop(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // Corpus size N stays inside the plan: a broadcast 1-row aggregate
    // joined in (BNLJ over 1 row), so the whole query is one job — no
    // separate driver-side count() scan.
    val n = broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs")))
    val (tf, df, _) = tfDf(spark, sfDir, docs, minBytes = 4L << 20, maxBytes = TfMaxBytes)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .crossJoin(n)
      .withColumn("score", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("token").as("top_token"),
        col("tf").as("top_tf"), col("df").as("top_df"),
        round(col("score"), 6).as("tfidf"))
  }

  /** PII patterns in the Java∩RE2 common subset (so DuckDB oracles match
    * byte-for-byte): email, international-ish phone, http(s) URL.
    */
  private val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]"),
    ("url", "https?://[^\\s]+", "[URL]"),
    ("phone", "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}", "[PHONE]"))

  /** PII redaction over a text column — the mandatory scrub pass before
    * corpus text ships to training: emails, phones, and URLs replaced by
    * typed placeholder tokens, with per-document match counts. A chain
    * of codegen'd `regexp_replace`/`regexp_extract_all` calls — per-row,
    * narrow, zero shuffles; a 100 TB corpus scrubs at scan speed.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, repl)) => regexp_replace(acc, lit(pat), lit(repl))
    }
    val counts = piiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col(textCol), lit(pat), lit(0))).as(s"n_$name")
    }
    df.select((col("doc_id") +: counts :+
      md5(redacted).as("redacted_hash") :+
      length(redacted).cast("bigint").as("redacted_len")): _*)
  }

  /** Oracle-checked registration of [[redactPii]]. The synthetic corpus
    * is sanitized word salad (no PII by construction), so this query
    * first injects deterministic doc_id-derived PII fragments — email on
    * doc_id%3>0, phone on doc_id%2=0, URL always — then redacts; the
    * counts and redacted hashes vary per document and the oracle
    * reproduces the identical injection.
    */
  def redactPiiQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dirty = docs.select(col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 > 0,
          format_string(" contact user%d@example.com", col("doc_id")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          format_string(" tel +1-555-%04d", col("doc_id") % 10000))
          .otherwise(lit("")),
        format_string(" see https://corpus.example/doc/%d", col("doc_id"))).as("text"))
    redactPii(dirty, "text")
  }

  /** k-anonymity audit over quasi-identifiers (Sweeney, IJUFKS 2002 —
    * public literature): group the corpus by the attacker-visible
    * attribute combination (lang, source, 100-char length bucket) and surface
    * every equivalence class smaller than k — the records a release
    * policy must suppress or generalize, because an attribute-joining
    * adversary narrows them to <k candidates. The result is bounded by
    * construction: every surfaced class has <k rows behind it.
    *
    * Scale shape: one 3-key aggregate with map-side partials, then a
    * |classes|-row filter — the audit cost is the groupBy a governance
    * sweep already pays; no joins, no second shuffle.
    */
  def kAnonymity(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") < k)
      .select(col("lang"), col("source"), col("len_bucket"), col("n_docs"))
  }

  /** l-diversity audit — the attribute-disclosure companion to
    * [[kAnonymity]] (Machanavajjhala et al., TKDD 2007 — public
    * literature): a class can be safely k-anonymous for RE-identification
    * yet still leak the sensitive attribute outright if (nearly) all its
    * members share one value — the homogeneity attack. Here the
    * quasi-identifier is (source, 100-char length bucket) and the
    * sensitive attribute is `lang`: surfaced rows are the classes with
    * ≥k members (so they PASS the k-anonymity gate) whose members span
    * fewer than l distinct languages — an adversary who pins a record to
    * the class infers its language without re-identifying anyone.
    *
    * Scale shape: one 2-key aggregate; the distinct count plans as
    * Spark's standard two-phase partial-distinct aggregate (dedup
    * locally per map task, then one exchange of (QI, lang) pairs — the
    * pair space is bounded by |classes|×|langs|, not corpus size).
    */
  /** Two-sample Kolmogorov–Smirnov drift audit — the nonparametric
    * distribution-shift monitor a corpus pipeline runs per ingest
    * source: for every source, the KS statistic between ITS document
    * length distribution and the rest of the corpus (leave-one-out), so
    * a feed whose length profile drifts from the pool surfaces with an
    * exact, assumption-free score. sup|F_s − F_rest| is attained at a
    * pooled data point, so evaluating both ECDFs on the pooled distinct
    * value grid is exact, and the comparison runs entirely in integers:
    * d_num = max|cum_s·n_rest − cum_rest·n_s| with the final statistic
    * as fixed-point ppm (`d_num·10⁶ div (n_s·n_rest)`) — no float ECDF
    * anywhere, so engines can't disagree in the last ulp. (BIGINT holds
    * exactly while n_s·n_rest·10⁶ < 2⁶³, i.e. corpora to ~3·10⁹ docs
    * per side; past that the two products move to DECIMAL(38,0) with
    * the same plan.) `v_at_max` = the smallest length where the sup is
    * attained — the drift location a triage dashboard plots.
    *
    * Scale shape: the corpus collapses to (length, source) counts in one
    * map-side-combined aggregate; everything after runs on the bounded
    * |values|×|sources| grid. Per-source ECDFs are windows PARTITIONED
    * by source; the pooled ECDF is [[graft.operators.DataPrep]]'s
    * broadcast prefix sum — never an empty-key window.
    */
  /** The (length, source) count table [[ksDrift]] and [[psiDrift]] both
    * start from, computed fresh PER INVOCATION and lineage-truncated so
    * the 3-4 plan consumers inside one monitor (per-source totals,
    * pooled totals, value grid, the cumulative join) share one
    * materialization of the bounded |values|×|sources| grid instead of
    * re-running the corpus aggregate each. Round 15 retired the previous
    * cross-run memo (an AtomicReference keyed on sfDir+fs-fingerprint):
    * a persisted intermediate that outlives the query run means a timed
    * bench pass never recomputes the corpus scan — a measurement
    * artifact, not a plan property. Each run now pays its own one
    * map-side-combined aggregate, which is the honest per-query cost.
    *
    * Block lifetime (ADVICE r15): the truncated grid cannot be
    * unpersisted here — the monitor's result is returned LAZY and the
    * checkpointed blocks must outlive its terminal action, which this
    * method never sees. Reclamation is deliberately left to Spark's
    * ContextCleaner: once the returned plan's RDD is unreachable the
    * cleaner drops the blocks (the suite runs with non-blocking
    * reference tracking — see Bench's session conf). The grid is tiny by
    * construction (|distinct n_chars| × |sources| rows, ~10⁴ bytes at
    * any sf — it does NOT grow with corpus rows), so even a long bench
    * session accumulates KBs between GCs, not MBs.
    */
  private def driftCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Checkpoints.TruncateOps
    Tables.documents(spark, sfDir)
      .groupBy(col("n_chars").as("v"), col("source"))
      .agg(count(lit(1)).as("c"))
      .truncateLineage()
  }

  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = driftCounts(spark, sfDir)
    val srcs = c.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val total = c.agg(sum(col("c")).as("n_tot"))
    val vals = c.groupBy(col("v")).agg(sum(col("c")).as("t_v"))
    val cumTot = DataPrep
      .withRunningTotal(vals, Seq(col("v")), col("t_v"), "running_offset")._1
      .select(col("v"), (col("running_offset") + col("t_v")).as("cum_tot"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = vals.select(col("v"))
      .crossJoin(broadcast(srcs.select(col("source"))))
      .join(c, Seq("v", "source"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum_s", sum(col("c")).over(w))
      .join(cumTot, "v")
      .join(broadcast(srcs), "source")
      .crossJoin(broadcast(total))
      .withColumn("rest_n", col("n_tot") - col("n_s"))
      .withColumn("dd", abs(col("cum_s") * col("rest_n")
        - (col("cum_tot") - col("cum_s")) * col("n_s")))
    val dMax = d.groupBy(col("source")).agg(max(col("dd")).as("d_num"))
    d.join(dMax, "source")
      .filter(col("dd") === col("d_num"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_s"), max(col("rest_n")).as("rest_n"),
        max(col("d_num")).as("d_num"), min(col("v")).as("v_at_max"))
      .select(col("source"), col("n_s"), col("d_num"), col("v_at_max"),
        expr("d_num * 1000000 div (n_s * rest_n)").as("ks_ppm"))
  }

  /** Population Stability Index — the binned industry-standard drift
    * score next to [[ksDrift]]'s sup-norm: corpus lengths fall into 10
    * equal-frequency bins derived from the POOLED CDF, and each source
    * scores PSI = Σ (p_i − q_i)·ln(p_i/q_i) against the rest of the
    * corpus, with add-one smoothing so an empty bin never produces
    * ln(0). Binning is pure integer arithmetic on the pooled prefix sum
    * (a value group whose first element has 0-based rank r lands in bin
    * `r·10 div N`) — no quantile cuts ever collect to the driver, ties
    * stay together by construction, and both engines replay the rule
    * identically. Per-bin terms are snapped to ×10⁶ fixed point BEFORE
    * the final sum (the lm_score/zipf discipline), so the only floats
    * are the per-term scalars, never a distributed accumulation.
    *
    * Scale shape: identical to [[ksDrift]] — one (length, source)
    * count aggregate, then everything runs on |values| and
    * |sources|×10 rows; the pooled CDF rides the broadcast prefix sum.
    */
  def psiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val c = driftCounts(spark, sfDir)
    val srcs = c.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val total = c.agg(sum(col("c")).as("n_tot"))
    val vals = c.groupBy(col("v")).agg(sum(col("c")).as("t_v"))
    val bins = DataPrep
      .withRunningTotal(vals, Seq(col("v")), col("t_v"), "running_offset")._1
      .crossJoin(broadcast(total))
      .select(col("v"),
        expr("least(9, running_offset * 10 div n_tot)").as("bin"))
    val perBin = c.join(bins, "v")
      .groupBy(col("source"), col("bin")).agg(sum(col("c")).as("c_sb"))
    val binTot = perBin.groupBy(col("bin")).agg(sum(col("c_sb")).as("c_b"))
    val dense = srcs.select(col("source"), col("n_s"))
      .crossJoin(broadcast(binTot))
      .join(perBin, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("c_sb"))
      .crossJoin(broadcast(total))
      .withColumn("p", (col("c_sb") + 1).cast("double")
        / (col("n_s") + 10).cast("double"))
      .withColumn("q", (col("c_b") - col("c_sb") + 1).cast("double")
        / (col("n_tot") - col("n_s") + 10).cast("double"))
      .withColumn("term_f",
        round((col("p") - col("q")) * log(col("p") / col("q")) * lit(1e6))
          .cast("bigint"))
    dense.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_s"), sum(col("term_f")).as("psi_fp"),
        count(lit(1)).as("n_bins"))
      .select(col("source"), col("n_s"), col("psi_fp"), col("n_bins"))
  }

  def lDiversity(spark: SparkSession, sfDir: String, k: Int = 5,
      l: Int = 3): DataFrame = {
    Tables.documents(spark, sfDir)
      .groupBy(col("source"), expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))
      .filter(col("n_docs") >= k && col("n_langs") < l)
      .select(col("source"), col("len_bucket"), col("n_docs"),
        col("n_langs"))
  }


  /** Bigram language-model quality score — the perplexity-style signal
    * a training-data pipeline uses to rank fluency: build an MLE bigram
    * model over the corpus (p(cur|prev) = c(prev,cur)/c(prev)), then
    * score each document by its mean log-probability per bigram.
    *
    * Determinism at scale: per-bigram log-probs are snapped to
    * fixed-point (×10⁶, BIGINT) *before* the per-document sum, so the
    * distributed aggregation is exact integer math — immune to
    * floating-point summation order across partitions. Only the final
    * per-document division touches doubles, rounded to 6 places.
    *
    * Shuffle shape (the fp60 postings discipline, applied round 15 —
    * this was the corpus's last string-keyed heavy shuffle and one of
    * the two measured >12× sf100 entries): every bigram occurrence
    * travels as TWO 60-bit fingerprints, fp_bi = fp60(prev ∥ ' ' ∥ cur)
    * and fp_prev = fp60(prev) (tokens are whitespace-split, so the
    * space separator is injective), instead of two UTF8 token strings —
    * ~2× narrower rows and long-keyed joins end to end. The exploded
    * stream is hash-partitioned on fp_bi ONCE and then LINEAGE-TRUNCATED
    * (round 15): the plan has three consumers of the exploded stream —
    * the bigram-count aggregate, its unigram re-aggregate, and the
    * scoring join — and ReuseExchange can NOT unify them, because each
    * consumer prunes a different column set and the joins infer
    * different IsNotNull filters below the exchange, so the canonical
    * subtrees never compare equal and the tokenize+explode+fp60 chain
    * executed 3× (three Generate nodes in the r14/r15-pre executed
    * plan). Materializing the 24-byte (doc_id, fp_bi, fp_prev) rows
    * once is strictly cheaper than two extra passes of the md5
    * fingerprint chain over the 150×-corpus token stream, and the
    * checkpoint preserves the fp_bi partitioning, so the bigram-count
    * aggregate (grouping by (fp_bi, fp_prev), which fp_bi partitioning
    * already clusters) and the scoring join both consume it
    * exchange-free. `bi` is truncated too: the model join consumes it
    * on both sides (bi ⋈ bi.groupBy), which otherwise re-aggregates
    * the full bigram stream twice. Map-side combine loses
    * nothing here: on a diverse corpus mean bigram multiplicity is
    * ~1.5-2.5, so the partial phase the explicit repartition forgoes
    * never reduced anything. Fingerprint collisions merge two bigram
    * identities at odds n²/2⁶¹ (~10⁻⁴ at 10⁸ distinct bigrams); the
    * oracle replays the identical fingerprinting, so the gate stays
    * exact at any collision odds. At 100 TB the model side is
    * Zipf-concentrated — prune to top-K bigrams with an
    * out-of-vocabulary floor and broadcast it, turning the scoring join
    * into a map-side probe.
    */
  def lmScore(spark: SparkSession, sfDir: String,
      tfMaxBytes: Long = TfMaxBytes): DataFrame = {
    import graft.Checkpoints.TruncateOps
    val docs = Tables.documents(spark, sfDir)
    // fingerprints are computed POST-explode as plain column expressions
    // (whole-stage-codegen'd md5), not inside the zip_with lambda
    // (interpreted HOF evaluation); the strings die in-pipeline before
    // the exchange
    // The exploded-stream checkpoint is WINDOWED (r15, second pass): at
    // sf10 its ~1.8 GB fits storage and the truncation measured
    // 30.2 → 7.8 s warm; at sf100 the ~18 GB stream thrashes the 48 g
    // box (300.2 s vs 178.4 s without — "Not enough space to cache"
    // ×22, and MEMORY_AND_DISK_SER still 269.6 s), so past the
    // tfMaxBytes ceiling the stream recomputes per consumer
    // instead. The bi-count truncation below stays unconditional — the
    // aggregated model relation is small at every scale.
    val docBiRaw = docs
      .select(col("doc_id"), explode(bigrams(col("text"))).as("bg"))
      .select(col("doc_id"),
        fp60(concat(col("bg.prev"), lit(" "), col("bg.cur"))).as("fp_bi"),
        fp60(col("bg.prev")).as("fp_prev"))
      .repartition(col("fp_bi"))
    val docBi = if (tfReuseWorthIt(spark, sfDir, minBytes = 0L, tfMaxBytes))
      docBiRaw.truncateLineage() else docBiRaw
    val bi = docBi.groupBy(col("fp_bi"), col("fp_prev"))
      .agg(count(lit(1)).as("c_bi"))
      .truncateLineage()
    val uni = bi.groupBy(col("fp_prev")).agg(sum(col("c_bi")).as("c_prev"))
    val model = bi.join(uni, "fp_prev")
      .withColumn("logp_f",
        round(log(col("c_bi").cast("double") / col("c_prev")) * lit(1e6)).cast("bigint"))
      .select(col("fp_bi"), col("logp_f"))
    // every doc bigram is in the model by construction (same corpus), so
    // the inner join keeps exactly the n_bigrams rows per document
    val scored = docBi.select(col("doc_id"), col("fp_bi"))
      .join(model, Seq("fp_bi"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp_f")).as("sum_f"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("sum_f").cast("double") / (col("n_bigrams") * lit(1e6)), 6)
          .as("lm_score"))
  }

  /** Top collocations by pointwise mutual information — the corpus
    * word-association statistic (feature engineering, tokenizer-merge
    * candidates, phrase mining): PMI(x,y) = ln(p(xy) / (p(x)p(y))) over
    * adjacent token pairs. The probability ratio collapses to the exact
    * integer rational c_xy·N_u² / (N_bi·c_x·c_y) before the single ln —
    * deterministic on any engine — and is snapped to ×10⁶ fixed point
    * for the ranking. Same bigram/unigram shuffles as [[lmScore]]; the
    * corpus totals ride the plan as one broadcast 1-row aggregate of
    * per-document token counts n, with no explode of their own: n_uni =
    * Σ n and n_bi = Σ max(n − 1, 0), since [[bigrams]] pairs adjacent
    * tokens. Top-k plans as TakeOrderedAndProject.
    */
  def pmiTop(spark: SparkSession, sfDir: String,
      minCount: Int = 5, k: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val uni = docs.select(explode(wsTokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c_tok"))
    val bi = docs.select(explode(bigrams(col("text"))).as("bg"))
      .select(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c_bi"))
    val totals = broadcast(docs.select(size(wsTokens(col("text"))).as("n"))
      .agg(sum(col("n")).as("n_uni"),
        sum(greatest(col("n") - 1, lit(0))).as("n_bi")))
    bi.filter(col("c_bi") >= minCount)
      .join(uni.select(col("token").as("prev"), col("c_tok").as("c_prev")), "prev")
      .join(uni.select(col("token").as("cur"), col("c_tok").as("c_cur")), "cur")
      .crossJoin(totals)
      // each factor cast to double BEFORE multiplying: the bigint
      // product c_bi·n_uni² overflows (ANSI throw) past ~10^9 tokens;
      // double products in a fixed operation order are identical on
      // both engines at any scale
      .withColumn("pmi_f",
        round(log((col("c_bi").cast("double") * col("n_uni").cast("double")
            * col("n_uni").cast("double"))
          / (col("n_bi").cast("double") * col("c_prev").cast("double")
            * col("c_cur").cast("double"))) * lit(1e6))
          .cast("bigint"))
      .orderBy(col("pmi_f").desc, col("prev"), col("cur"))
      .limit(k)
      .select(col("prev"), col("cur"), col("c_bi"), col("pmi_f"))
  }

  /** Per-source distinctive terms — smoothed log-odds ratio with a
    * z-score (the "fightin' words" corpus-comparison statistic): which
    * tokens does each source over-use relative to the rest of the
    * corpus? The inputs are exact integer counts (per-source, corpus,
    * totals, vocab size); the log-odds and its variance are per-row
    * double math in a fixed operation order, so both engines rank
    * identically. The top-k-per-source rank filter plans as a partial
    * WindowGroupLimit. This is the source-triage statistic a curation
    * pipeline uses to spot boilerplate-heavy or off-domain sources.
    */
  def distinctiveTerms(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"), explode(wsTokens(col("text"))).as("token"))
    // NEGATIVE RESULT (round 15, recorded where the next optimizer will
    // look): the executed plan tokenizes the corpus once per consumer
    // (4 Generate subtrees — join side, y_all, n_s, totals; inferred
    // IsNotNull filters keep them canonically different so
    // ReuseExchange never fires). The tfidfTop/bm25Top fix —
    // lineage-truncate ys and derive y_all = Σ_sources y_s from it —
    // was tried and measured SLOWER here at BOTH scales (isolated
    // 3-pass sf0.1: 0.472 → 0.557 s; min-of-2-warm sf10: 3.22 →
    // 3.79 s): unlike tf, the (source, token) grid grows with the
    // ciphered per-replica vocabulary, so materializing it costs more
    // than the saved re-tokenizes, and the checkpoint's
    // UnknownPartitioning re-adds exchanges the pipelined partial
    // aggregates didn't pay. Four cheap map-side-combined passes win.
    val ys = toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("y_s"))
    val yAll = toks.groupBy(col("token")).agg(count(lit(1)).as("y_all"))
    val nS = ys.groupBy(col("source")).agg(sum(col("y_s")).as("n_s"))
    val totals = broadcast(yAll.agg(
      sum(col("y_all")).as("n_all"), count(lit(1)).as("v")))
    val d = ys.join(yAll, "token").join(nS, "source").crossJoin(totals)
      .withColumn("y_r", col("y_all") - col("y_s"))
      .withColumn("n_r", col("n_all") - col("n_s"))
      // smoothed log-odds: ln((y+1)/(n - y + V)) per side, then the
      // difference; variance ~ 1/(y_s+1) + 1/(y_r+1)
      .withColumn("lo",
        log((col("y_s").cast("double") + lit(1.0))
          / (col("n_s").cast("double") - col("y_s").cast("double") + col("v").cast("double")))
          - log((col("y_r").cast("double") + lit(1.0))
            / (col("n_r").cast("double") - col("y_r").cast("double") + col("v").cast("double"))))
      .withColumn("z", col("lo")
        / sqrt(lit(1.0) / (col("y_s").cast("double") + lit(1.0))
          + lit(1.0) / (col("y_r").cast("double") + lit(1.0))))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("z").desc, col("token"))
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("source"), col("token"), col("y_s"),
        col("rn"), round(col("z"), 6).as("zscore"))
  }

  /** Content fingerprints: order-insensitive md5-prefix fingerprint plus
    * an order-sensitive rolling hash over the token stream.
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      fingerprint(col("text")).as("fp64"),
      rollingHash(col("text")).as("rolling_fp"))

  /** Vocabulary build — the tokenizer-training step: corpus-wide token
    * frequencies, a minimum-frequency cut, and contiguous ids for the
    * top-K by (count desc, token). The frequency table and the top-K
    * prune are fully distributed (hash aggregate + TakeOrdered); only
    * the id-assigning row_number runs single-partition, and only over
    * the K surviving rows — bounded by the vocab size, not the corpus,
    * so the shape holds at 100 TB.
    */
  def vocab(spark: SparkSession, sfDir: String, minCount: Int = 5, k: Int = 500): DataFrame =
    topTokens(spark, sfDir, minCount, k)
      .select((col("rnk") - 1).as("token_id"), col("token"), col("n"))

  /** The `k` most frequent whitespace tokens with at least `minCount`
    * occurrences, `n` each, ranked from 1 as `rnk` by (n desc, token).
    */
  private def topTokens(spark: SparkSession, sfDir: String, minCount: Int,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("n").desc, col("token"))
    Tables.documentsLight(spark, sfDir)
      .select(explode(wsTokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(order: _*)
      .limit(k)
      .withColumn("rnk", row_number().over(Window.orderBy(order: _*)))
  }

  /** Out-of-vocabulary rate per document against the [[vocab]] build —
    * the tokenizer-coverage audit run before committing to a vocab: a
    * corpus slice whose documents are mostly OOV is either junk or a
    * domain the tokenizer underserves. The vocab is bounded (top-K), so
    * it BROADCASTS to the token stream; the per-document rollup is one
    * hash aggregation on doc_id. The rate is reported as exact integer
    * parts-per-million via integer division — no float division whose
    * half-way rounding could split engines.
    */
  def oovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val v = broadcast(vocab(spark, sfDir).select(col("token"))
      .withColumn("in_vocab", lit(1)))
    Tables.documentsLight(spark, sfDir)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
      .join(v, Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("(1000000 * n_oov) div n_tokens").as("oov_ppm"))
  }

  /** Zipf power-law fit of the token frequency distribution — the
    * corpus-health diagnostic (natural text slopes near −1; generated
    * or templated text flattens or steepens it): least-squares slope of
    * ln(freq) on ln(rank) over the top-K tokens. Frequencies are a
    * distributed hash aggregate + TakeOrdered top-K; the regression
    * runs over K bounded rows, so ranking cost is vocab-bounded, not
    * corpus-bounded. House float discipline: ln() is a per-row scalar
    * on exact integer inputs, snapped to 1e-6 fixed point BEFORE the
    * sums, which are integer; the final slope is integer division of
    * DECIMAL(38,0) cross-terms (numerator sign-flipped so both engines'
    * integral division agree on positives) — reported as the NEGATED
    * slope in ppm.
    */
  def zipfFit(spark: SparkSession, sfDir: String, topK: Int = 100): DataFrame = {
    val pts = topTokens(spark, sfDir, minCount = 1, topK)
      .select(
        round(log(col("rnk").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("n").cast("double")) * 1e6).cast("long").as("y"))
    pts.agg(
        count(lit(1)).as("k"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("k").as("n_points"),
        expr(
          """(1000000 * (CAST(sx AS DECIMAL(38,0)) * sy
            |            - k * CAST(sxy AS DECIMAL(38,0))))
            |  div (k * CAST(sxx AS DECIMAL(38,0))
            |       - CAST(sx AS DECIMAL(38,0)) * sx)""".stripMargin)
          .as("slope_neg_ppm"))
  }

  /** The corpus-curation terminal: exact dedup ∧ quality gate ∧
    * language verification composed into one pass, reported per
    * (source, lang) stratum — raw count, post-dedup canonical count,
    * kept count, and the kept token budget. This is the end-of-pipeline
    * accounting a training-data run emits before writing shards.
    *
    * One scan, one (content-hash) window exchange for canonicality, one
    * final aggregation — the per-document metrics are the same
    * codegen'd expressions the standalone q_quality_score / q_lang_id
    * queries use, so every filter stays scan-speed at 100 TB.
    */
  def curate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pred = langVote { case (_, p) => patternCount(col("text"), p) }
    val canon = col("doc_id") === min(col("doc_id"))
      .over(Window.partitionBy(md5(col("text"))))
    val kept = col("canon") && col("q") >= 3 && col("pred_lang") === col("lang")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        nTokens.as("n_tok"), qualityPoints.as("q"), pred.as("pred_lang"),
        canon.as("canon"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("canon").cast("int")).as("n_canonical"),
        sum(kept.cast("int")).as("n_kept"),
        sum(when(kept, col("n_tok")).otherwise(0)).cast("bigint").as("kept_tokens"))
  }

  /** Per-document top BM25 term — the retrieval-grade upgrade of
    * [[tfidfTop]]: term-frequency saturation (k1) and document-length
    * normalization (b) so long documents stop dominating and repeated
    * terms stop scaling linearly. Same two shuffles as tfidf (tf by
    * (doc, token), df by token); the corpus constants N and avgdl ride
    * the plan as one broadcast 1-row aggregate. The ranking key is the
    * ×10⁶ fixed-point snap of the score (bigint), NOT the raw double —
    * a 1-ulp cross-engine wobble at a near-tie can never flip the
    * per-document argmax.
    */
  def bm25Top(spark: SparkSession, sfDir: String,
      k1: Double = 1.2, b: Double = 0.75, tfMaxBytes: Long = TfMaxBytes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documentsLight(spark, sfDir)
    // tf computed ONCE (lineage-truncated while tfReuseWorthIt) and df
    // derived FROM it (tfDf): the original formulation tokenized the
    // corpus THREE times — once for tf, once for df's distinct, once for
    // dl's size(wsTokens) — and per-consumer column pruning keeps the
    // subtrees canonically different, so ReuseExchange never unified
    // them. df(token) = tf's row count per token. dl is derived from tf
    // (dl(doc) = Σ tf) only while tf is materialized; past the ceiling it
    // keeps the map-only form (see the fallback below). Zero-token
    // documents are absent from a tf-derived dl, but they were already
    // unreachable in the output (the tf inner join drops them); only
    // `stats` ever saw them, so n_docs keeps its own corpus count (a
    // column-pruned scan, no tokenize) while sum_dl — to which empty
    // docs contribute 0 — re-aggregates dl.
    // floor 0: dropping TWO extra passes pays even at sf0.1 (0.866 →
    // 0.825 s isolated); the ceiling still applies (see tfReuseWorthIt)
    val (tf, df, tfWorthIt) = tfDf(spark, sfDir, docs, minBytes = 0L, tfMaxBytes)
    // dl = Σ tf is only a win while tf is MATERIALIZED (one in-memory
    // re-aggregation). Past the tfMaxBytes ceiling tf is raw
    // lineage, and deriving dl from it re-runs the full tokenize +
    // (doc_id, token) aggregate plus a second shuffle — strictly worse
    // than the original map-only dl = per-document token count straight
    // off the scan (identical values: Σ tf over a doc counts every
    // element of wsTokens(text) exactly once). The fallback restores
    // the exact pre-truncation plan whose sf100 ledger numbers stand
    // (ADVICE r15 medium).
    val dl = if (tfWorthIt)
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    else docs.select(col("doc_id"), size(wsTokens(col("text"))).as("dl"))
    val stats = broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs"))
      .crossJoin(dl.agg(sum(col("dl")).cast("double").as("sum_dl"))))
    // operation order mirrored verbatim in the DuckDB oracle: idf first,
    // then the saturation quotient, one multiply at the end
    val idf = log((col("n_docs") - col("df") + lit(0.5))
      / (col("df") + lit(0.5)) + lit(1.0))
    val sat = (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b)
        + lit(b) * col("dl") / (col("sum_dl") / col("n_docs"))))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_f").desc, col("token"))
    tf.join(df, "token")
      .join(dl, "doc_id")
      .crossJoin(stats)
      .withColumn("score", idf * sat)
      .withColumn("score_f", round(col("score") * lit(1e6)).cast("bigint"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("token").as("top_token"),
        col("tf").as("top_tf"), round(col("score"), 6).as("bm25"))
  }

  /** Exact heavy-hitter tokens via the space-saving sketch — the
    * two-phase candidate/verify shape that makes a 100 TB frequency
    * query cheap: phase 1 aggregates a constant-O(k) [[graft.functions.SpaceSavingAgg]]
    * sketch (one shuffle of k-entry partials, never a full token
    * group-by), phase 2 recounts ONLY the ≤k candidates (semi-join
    * prune at the scan, shuffle bounded by k distinct keys) and filters
    * by the exact threshold. The sketch's no-false-negative guarantee
    * (true freq > N/k ⇒ present) makes the output EQUAL to the exact
    * HAVING count·k > N answer — which is precisely what the oracle
    * computes the brute-force way.
    */
  def heavyHitters(spark: SparkSession, sfDir: String, capacity: Int = 512): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(wsTokens(col("text"))).as("token"))
    // the token total rides the sketch's aggregate: one pass, one explode
    val cand = toks
      .agg(graft.functions.SpaceSaving.space_saving(col("token"), capacity).as("hh"),
        count(lit(1)).as("n_tok"))
      .select(explode(col("hh")).as("token"), col("n_tok"))
    recountHeavyHitters(toks, cand, capacity)
  }

  /** The exact phase of both heavy-hitter keys: the occurrences of each
    * distinct candidate token of `cand` in the `toks` stream, kept where
    * they exceed 1/`capacity` of the token total `n_tok` that every
    * `cand` row carries. The candidates broadcast.
    */
  private[graft] def recountHeavyHitters(toks: DataFrame, cand: DataFrame,
      capacity: Int): DataFrame =
    toks.join(broadcast(cand), Seq("token"))
      .groupBy(col("token"), col("n_tok")).agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * capacity > col("n_tok"))
      .select(col("token"), col("n_occurrences"))

  /** Per-document character-entropy quality signal: Shannon entropy of
    * the a-z0-9 character distribution (lowercased, everything else
    * stripped) — near-zero entropy flags degenerate repetition
    * (aaaa…, base64 walls score high, natural text sits mid-band).
    * Restricting to ASCII [a-z0-9] sidesteps engine-specific Unicode
    * segmentation and keeps the explode O(chars). Entropy terms are
    * snapped to ×10⁶ fixed-point BIGINTs per (doc, char) BEFORE the
    * per-document sum, so the distributed summation order can never
    * move a digit — ln(len/cnt) itself is a per-row scalar both engines
    * evaluate identically. One shuffle on (doc_id, ch); the final
    * per-doc sum reuses the same hash partitioning.
    */
  def charEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val cleaned = regexp_replace(lower(col("text")), "[^a-z0-9]", "")
    val perChar = docs
      .select(col("doc_id"), explode(split(cleaned, "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
    val withLen = perChar
      .join(perChar.groupBy(col("doc_id")).agg(sum(col("cnt")).as("len")), "doc_id")
      .withColumn("term_f",
        round(col("cnt").cast("double") / col("len")
          * log(col("len").cast("double") / col("cnt")) * lit(1e6))
          .cast("bigint"))
    val ent = withLen.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_chars"),
        max(col("len")).as("n_ascii_chars"),
        round(sum(col("term_f")).cast("double") / lit(1e6), 6).as("entropy"))
    docs.select(col("doc_id"))
      .join(ent, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_distinct_chars"), lit(0L)).as("n_distinct_chars"),
        coalesce(col("n_ascii_chars"), lit(0L)).as("n_ascii_chars"),
        coalesce(col("entropy"), lit(0.0)).as("entropy"))
  }

  /** BPE merge learning — the first `k` byte-pair-encoding merges over
    * the corpus, the tokenizer-training primitive an LLM data pipeline
    * runs before anything else. Classic Sennrich BPE: count adjacent
    * symbol pairs over the WORD-FREQUENCY vocabulary, merge the argmax
    * pair everywhere (greedy left-to-right, non-overlapping), recount,
    * repeat.
    *
    * The corpus-scale work — word counting — happens exactly once; every
    * iteration after that runs on the distinct-word token table, whose
    * size is bounded by |vocabulary| × word length, NOT corpus size (the
    * reason real BPE trainers tokenize word-frequency tables). Greedy
    * non-overlap (the `aaa` + merge `(a,a)` → `[aa, a]` case) is
    * resolved declaratively: runs of consecutive candidate positions
    * keep every other member (gaps-and-islands `pos - cum` run ids +
    * parity — no sequential scan, no UDF). Each iteration's argmax pair
    * is ONE collected row — the merge table is O(k) driver-side
    * metadata by definition, exactly like collected min/max bounds.
    * Ties break on (count desc, pair asc): deterministic on both
    * engines for ASCII symbols.
    */
  def bpeMerges(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    bpeMergesFrom(spark, Tables.documents(spark, sfDir), k)

  private[graft] def bpeMergesFrom(spark: SparkSession, docs: DataFrame,
      k: Int): DataFrame = {
    import spark.implicits._
    val (merges, toks) = bpeLearn(docs, k)
    toks.unpersist()
    merges.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** The words BPE learns and applies to: one row `w` per lower-cased
    * letter run of 1 to 30 letters in `docs`' text, after the `carry`
    * columns.
    */
  private def bpeWords(docs: DataFrame, carry: Column*): DataFrame =
    docs.select(carry :+ explode(split(lower(col("text")), "[^a-z]+")).as("w"): _*)
      .filter(length(col("w")).between(1, 30))

  /** The shared BPE trainer: returns the merge table (driver metadata)
    * and the final segmentation of every distinct word (still
    * persisted — callers unpersist when done).
    */
  private def bpeLearn(docs: DataFrame, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("w").orderBy("pos")
    val cumWin = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val words = bpeWords(docs)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var toks = words
      .select(col("w"), col("freq"), posexplode(split(col("w"), "")))
      .toDF("w", "freq", "pos", "sym")
      .filter(length(col("sym")) === 1)
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (i <- 1 to k) {
      toks = toks.persist()
      cached += toks
      val top = toks
        .withColumn("nxt", lead(col("sym"), 1).over(win))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("sym").asc, col("nxt").asc)
        .head()
      val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((i, a, b, cnt))
      toks = toks
        .withColumn("nxt", lead(col("sym"), 1).over(win))
        .withColumn("cand",
          coalesce(col("sym") === lit(a) && col("nxt") === lit(b), lit(false)))
        .withColumn("cum",
          sum(when(col("cand"), 1).otherwise(0)).over(cumWin))
        .withColumn("runid", col("pos") - col("cum"))
        .withColumn("keep", col("cand")
          && (col("cum") - min(when(col("cand"), col("cum")))
            .over(Window.partitionBy("w", "runid"))) % 2 === 0)
        .withColumn("prev_keep",
          coalesce(lag(col("keep"), 1).over(win), lit(false)))
        .filter(!col("prev_keep"))
        .select(col("w"), col("freq"),
          (row_number().over(win) - 1).as("pos"),
          when(col("keep"), concat(col("sym"), col("nxt")))
            .otherwise(col("sym")).as("sym"))
    }
    toks = toks.persist()
    cached.foreach(_.unpersist())
    (merges.toSeq, toks)
  }

  /** Tokenizer APPLICATION — the pass that actually touches 100 TB.
    * The learned segmentation lives on the DISTINCT-WORD table
    * (vocab-bounded), so applying BPE to the corpus is a map-side
    * explode of each document's words joined to a broadcast word →
    * token-count map — the corpus never re-runs the merge recursion.
    * Output: per-source whitespace-vs-BPE token accounting plus the
    * compression ratio in integer tokens-per-1000-words.
    */
  def bpeApply(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val (_, toks) = bpeLearn(docs, k)
    val wordCost = toks.groupBy(col("w"))
      .agg(count(lit(1)).as("n_bpe"))
    val out = bpeWords(docs, col("source"))
      .join(broadcast(wordCost), Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_bpe")).as("n_bpe_tokens"))
      .withColumn("bpe_per_1000_words",
        expr("n_bpe_tokens * 1000 div n_words"))
    // materialize before unpersisting the segmentation it depends on —
    // lineage truncation keeps the (bounded, |sources|-row) result
    // distributed instead of round-tripping it through the driver
    import graft.Checkpoints.TruncateOps
    val settled = out.truncateLineage()
    toks.unpersist()
    settled
  }

  /** Rule-based document filter battery in the Gopher/MassiveText style
    * (Rae et al. 2021 §A1.1): word-count band, mean-word-length band,
    * alphabetic-word fraction, stopword presence — the cheap first gate
    * every web-scale curation pipeline runs before any learned filter.
    *
    * All four statistics come from ONE pass over the token array with
    * higher-order functions (transform/filter/aggregate) — per-row
    * narrow work, zero shuffles, one corpus scan at 100 TB. Ratios are
    * integer fixed-point (×1000 mean length, basis-point alpha
    * fraction, BIGINT floor division) so the pass/fail DECISION is
    * exact on both engines — a float mean near a band edge could
    * otherwise split them.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = wsTokens(col("text"))
    val nWords = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t)),
      lit(0L), (acc, x) => acc + x)
    val alphaWords = size(filter(toks,
      t => t.rlike("[a-z]"))).cast("long")
    val stopHits = size(filter(toks, t =>
      t.isin("the", "a", "of", "and", "to", "in", "is"))).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), nWords.as("n_words"), sumLen.as("sum_len"),
        alphaWords.as("alpha_words"), stopHits.as("stop_hits"))
      .select(col("doc_id"), col("n_words"),
        expr("sum_len * 1000 div n_words").as("mean_word_len_e3"),
        expr("alpha_words * 10000 div n_words").as("frac_alpha_bp"),
        col("stop_hits"),
        (col("n_words").between(5, 5000)
          && expr("sum_len * 1000 div n_words").between(2000, 10000)
          && expr("alpha_words * 10000 div n_words") >= 8000
          && col("stop_hits") >= 1).as("passes"))
  }
}
