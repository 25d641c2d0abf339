package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-data-pipeline operators (dedup, language
  * ID, quality scoring, fingerprinting). All are pure Catalyst column
  * expressions (higher-order array functions, codegen-friendly, no UDFs)
  * and all are **per-row / narrow** — a 100 TB corpus maps through them
  * with zero shuffles; only downstream bucket joins exchange data.
  *
  * Every definition is engine-portable (md5 + lexicographic mins + integer
  * bit ops only), so DuckDB oracles reproduce identical values.
  */
object TextFunctions {

  /** Canonical normalization: lowercase, trimmed. */
  def normText(c: Column): Column = lower(trim(c))

  /** Whitespace tokens of the normalized text. */
  def wsTokens(c: Column): Column = split(normText(c), "\\s+")

  /** The portable integer behind every md5-derived hash, bucket and
    * uniform draw: the first `hexDigits` hex chars of md5(c) as a
    * non-negative BIGINT (`hexDigits` ≤ 15, so the value fits in 60
    * bits). DuckDB mirror:
    * `CAST(CAST(('0x' || substr(md5(s), 1, n)) AS UBIGINT) AS BIGINT)`.
    */
  def md5Int(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("bigint")

  /** 3-word shingles (row-major, order-preserving); a document shorter
    * than 3 tokens contributes its whole normalized text as one shingle.
    */
  def shingles3(c: Column): Column = {
    // Built with zip_with over shifted slices, NOT element_at inside a
    // transform lambda: higher-order functions evaluate interpreted (no
    // codegen, no common-subexpression elimination), so an element_at(t,i)
    // lambda re-runs the whole split() regex per shingle element —
    // O(tokens²) per row. zip_with evaluates each input array once per
    // row and streams the elements.
    val t = wsTokens(c)
    val n = size(t)
    val pairs = zip_with(slice(t, lit(1), n - 2), slice(t, lit(2), n - 2),
      (x, y) => concat(x, lit(" "), y))
    val tri = zip_with(pairs, slice(t, lit(3), n - 2),
      (p, z) => concat(p, lit(" "), z))
    when(n >= 3, tri).otherwise(array(normText(c)))
  }

  /** Adjacent whitespace-token pairs as `struct(prev, cur)`, in order; a
    * document shorter than 2 tokens has none. Built from shifted slices
    * like [[shingles3]].
    */
  def bigrams(c: Column): Column = {
    val t = wsTokens(c)
    val n = size(t)
    when(n >= 2,
      zip_with(slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
        (x, y) => struct(x.as("prev"), y.as("cur"))))
      .otherwise(array().cast("array<struct<prev:string,cur:string>>"))
  }

  /** 60-bit shingle fingerprint: the first 15 hex chars of md5, as a
    * non-negative BIGINT (the [[graft.operators.Dedup.winnow]] gram-hash
    * construction, promoted to the postings dedup family). The heavy
    * postings operators shuffle/checkpoint every shingle occurrence;
    * as UTF8 strings that is ~40-60 bytes per posting and ~50 GB of
    * deserialized checkpoint at the 5 M-doc probe scale — as 8-byte
    * fingerprints the same relations are ~6× smaller, which is the
    * difference between in-memory aggregation and the disk-spill cliff
    * the sf100 probes measured. Collision math: 60 bits ⇒ expected
    * colliding pairs ≈ n²/2⁶¹, under 10⁻⁴ at 10⁸ distinct shingles —
    * none at any tested scale; at true warehouse scale (10¹²) a
    * handful of merged shingle identities shift dup COUNTS by ~10⁻⁹
    * relative, immaterial for dedup decisions.
    */
  def fp60(c: Column): Column = md5Int(c, 15)

  /** Distinct 60-bit fingerprints of a document's 3-word shingles — the
    * postings-family representation of a document's shingle set.
    * `array_distinct` runs on the fingerprints (not the strings), so a
    * within-document collision cannot double-count an element.
    */
  def shingleFps3(c: Column): Column =
    array_distinct(transform(shingles3(c), x => fp60(x)))

  /** MinHash signature: 16 portable hash functions h_i(s) = md5(i ∥ '|' ∥ s),
    * minimized lexicographically over the shingle set. Hex md5 is ASCII, so
    * lexicographic min agrees byte-for-byte across engines. Per-row only —
    * the signature never sees a shuffle.
    */
  def minhashSig(shingles: Column): Column =
    // Single fold over the shingle array carrying all 16 running minima —
    // the shingle argument is evaluated once per row. (The textbook shape,
    // transform(0..15, i -> array_min(transform(shingles, …))), re-runs
    // the whole shingle pipeline per hash function under interpreted HOF
    // evaluation: 16× the work.)
    aggregate(
      shingles,
      array_repeat(lit(null).cast("string"), 16),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(15)), (a, i) => {
        val h = md5(concat(i.cast("string"), lit("|"), s))
        when(a.isNull, h).otherwise(least(a, h))
      }))

  /** LSH band keys: 4 bands × 4 signature rows, each band keyed by the md5
    * of its concatenated minhashes. Two documents land in the same bucket
    * iff a whole band agrees.
    */
  def lshBands(sig: Column): Column =
    transform(sequence(lit(0), lit(3)), b =>
      md5(concat(
        element_at(sig, b * 4 + 1), element_at(sig, b * 4 + 2),
        element_at(sig, b * 4 + 3), element_at(sig, b * 4 + 4))))

  /** 64-bit SimHash over whitespace tokens (with multiplicity), built from
    * md5 nibbles: bit b of token t = (hexval(md5(t)[b/4]) >> (b%4)) & 1,
    * weighted ±1 and sign-aggregated. Returned as a 64-char '0'/'1' string
    * (bit 0 first) — portable and prefix-bucketable. Takes the column
    * *name* because the nested bit-twiddling lambdas are written in SQL
    * form (the Scala shiftright API only accepts literal shift amounts).
    */
  def simhashBits(textCol: String): Column = expr(
    // Single pass over the token hashes: the fold carries a 64-slot
    // counter array and zip_with updates all bit positions per token.
    // (The naive shape — 64 × aggregate-over-tokens — re-evaluates the
    // token-hash array for every bit position in interpreted HOF eval.)
    s"""aggregate(
       |  transform(split(lower(trim($textCol)), '\\\\s+'), w -> md5(w)),
       |  array_repeat(0, 64),
       |  (acc, h) -> zip_with(acc, sequence(0, 63), (a, b) -> a +
       |    ((shiftright(cast(conv(substr(h, cast(b div 4 as int) + 1, 1), 16, 10) as int),
       |                 cast(b % 4 as int)) & 1) * 2 - 1)),
       |  acc -> array_join(transform(acc, v -> CASE WHEN v > 0 THEN '1' ELSE '0' END), ''))""".stripMargin)

  /** Portable 60-bit content fingerprint: first 15 hex digits of
    * md5(normalized text) as a BIGINT.
    */
  def fingerprint(c: Column): Column = md5Int(normText(c), 15)

  /** Rolling (polynomial) hash over the token stream — order-sensitive,
    * so reordered documents fingerprint differently even with identical
    * bags of words: fold (acc·1000003 + h32(token)) mod 1e9+7.
    */
  def rollingHash(c: Column): Column =
    aggregate(wsTokens(c), lit(0L), (acc, w) =>
      (acc * 1000003L + md5Int(w, 8)) % 1000000007L)

  /** Match count of `pattern` over the normalized text. The pattern is
    * passed as a column literal (no SQL-string escaping), and the syntax
    * used by callers stays in the Java∩RE2 common subset so DuckDB
    * oracles count identically.
    */
  def patternCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(normText(c), lit(pattern), lit(0)))
}
