package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps
import graft.functions.TextFunctions.md5Int
import graft.sources.Tables

/** Training-data preparation operators — the selection/packing half of an
  * LLM data pipeline (the driver's north star), downstream of the dedup
  * and quality stages.
  *
  * Everything is hash-deterministic: no RNG state, so any executor, any
  * retry, any engine reproduces the same assignment — the property that
  * makes splits auditable and incremental re-runs stable at 100 TB.
  */
object DataPrep {

  private def hashBucket(c: Column, mod: Int) = md5Int(c.cast("string"), 8) % mod

  /** The 80/10/10 train/val/test ladder: `bucket` is `key`'s md5 bucket
    * of 10, and `split` is train below 8, val at 8, test at 9.
    */
  private def hashSplit(df: DataFrame, key: Column): DataFrame =
    df.withColumn("bucket", hashBucket(key, 10))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") < 9, "val")
          .otherwise("test"))

  /** Deterministic 80/10/10 train/val/test split keyed on md5(doc_id) —
    * stable under corpus growth (a document's split never changes when
    * others are added). Pure per-row map.
    */
  def trainSplit(spark: SparkSession, sfDir: String): DataFrame =
    hashSplit(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
      col("doc_id"))

  /** Leakage-safe split — the guard `trainSplit` lacks: near-duplicate
    * documents MUST land in the same split, or the test set contains
    * soft copies of training documents and every eval number is
    * inflated. The split key is therefore the minhash-LSH CONNECTED
    * COMPONENT (its canonical min doc_id), not the document: all
    * members of a near-dup cluster hash to one bucket together.
    * Per-document cost on top of the component map is one hash — the
    * heavy lifting is the same CC machinery `q_dedup_components`
    * already runs (and at scale that component map is a maintained
    * table, not recomputed per split).
    */
  def leakageSafeSplit(spark: SparkSession, sfDir: String): DataFrame =
    hashSplit(Dedup.components(spark, sfDir)
      .select(col("doc_id"), col("component_id")), col("component_id"))

  /** Temporal holdout split — the third leakage axis after identity
    * (`trainSplit`) and near-duplication (`leakageSafeSplit`): models
    * evaluated on events that precede their training data are
    * time-travel-contaminated. The cutoff is min + 80% of the observed
    * time RANGE in pure Long microsecond arithmetic (`*8 div 10` —
    * never a float fraction, never a global row-rank), so the boundary
    * is identical on every engine and stable under reordering. The
    * output rollup carries each split's ts bounds: `max(train) <
    * min(holdout)` is visible in the result, not just asserted.
    *
    * Scale: the bounds aggregate is one 1-row broadcast; the split
    * itself is a per-row comparison — no shuffle beyond the final
    * 2-group rollup. A global percentile-by-rank cutoff would need a
    * total sort; a range-based cutoff needs only min/max.
    */
  def timeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(unix_micros(col("ts")).as("ts_us"))
    val bounds = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("split",
        when(col("ts_us") < expr("lo + (hi - lo) * 8 div 10"), "train")
          .otherwise("holdout"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
        min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us"))
  }

  /** Quality-weighted sample without replacement (Efraimidis–Spirakis
    * A-ES), fully deterministic and seedless: each document draws
    * u ∈ (0,1] from its md5 (the same engine-portable "random" the
    * stratified sample uses), and ranks by key = ln(u)/w — a document
    * with twice the weight is twice as likely to make the cut, exactly
    * the bias a quality-weighted data-selection pass wants. Weight here
    * is ln(1+n_chars) (plug in any positive quality score). Top-k by
    * key is one `TakeOrderedAndProject` — per-partition heaps, k rows
    * per partition to the driver, no shuffle of the corpus.
    */
  def weightedSample(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    // ln(1+x), NOT log1p(x): the two differ in the last ulp and the
    // oracle must reproduce the key bit-for-bit
    weightedSampleFrom(
      Tables.documents(spark, sfDir), log(lit(1.0) + col("n_chars")), k)

  /** A-ES core over any (doc_id, lang, …) relation with an explicit
    * positive weight expression.
    *
    * Determinism caveat (documented, accepted): the rank key ln(u)/w
    * relies on Java `Math.log` and the oracle engine's libm producing
    * the same double for the same u — ln is not correctly rounded in
    * either, so a 1-ulp divergence at a near-tie could in principle flip
    * the top-k cut. The u values here are md5-derived dyadic rationals
    * (k/2³², never pathological halfway points), five rounds of
    * tri-scale runs have never surfaced a flip, and the alternative
    * (integer rank keys) would change the A-ES math itself — so the risk
    * is recorded rather than engineered away.
    */
  private[graft] def weightedSampleFrom(df: DataFrame, weight: Column,
      k: Int): DataFrame = {
    val u = (md5Int(col("doc_id").cast("string"), 8).cast("double") + lit(1.0)) /
      lit(4294967296.0) // (0,1], never 0
    val key = log(u) / weight // ≤ 0; larger (closer to 0) wins
    df.select(col("doc_id"), col("lang"), key.as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lang"),
        row_number().over(Window.orderBy(col("es_key").desc, col("doc_id")))
          .as("rn"))
  }

  /** Stratified deterministic sample: k documents per language stratum,
    * ordered by content hash (a seedless "random" that every engine
    * agrees on). One shuffle on the stratum key; rank + filter prune
    * inside the window operator.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Greedy sequence packing, sharded: documents accumulate into fixed
    * token-budget packs per `source` shard — pack_id = (source,
    * floor(tokens-before / budget)). Token counts come from the
    * single-pass TokenStats expression; the running sum is one window
    * PARTITIONED on the shard key, so every shard packs independently
    * and in parallel — the shape that scales (a single global ordered
    * window funnels the whole corpus through one partition).
    */
  def packSequences(spark: SparkSession, sfDir: String, budget: Int = 512): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        graft.functions.HashExpressions.token_stats(col("text"))
          .getField("n_tokens").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)).cast("bigint"))
      .withColumn("pack_id", expr(s"tokens_before div $budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("tokens_before"), col("pack_id"))
  }

  /** Mixture sampling — the domain-balancing draw an LLM data pipeline
    * runs after curation: a total document budget is split across
    * sources by TARGET proportions (not by availability), and each
    * source contributes its best documents up to quota. Targets here are
    * a deterministic non-uniform weighting derived from the source name
    * (1 + src_num mod 3), so some sources get 3× the share of others;
    * quota arithmetic is all-integer (budget × wᵢ div Σw — floor
    * division, both engines exact). Within a source, selection is
    * quality-priority (longest first, id tiebreak) — mixture says how
    * MANY per source, curation order says WHICH.
    *
    * Scale shape: weights/quotas live on the distinct-source relation
    * (cardinality = #domains, broadcast); the corpus pays one window
    * shuffle on `source`. The literal `rn ≤ budget` guard sits BEFORE
    * the quota join so WindowGroupLimit prunes rank state at the
    * per-partition bound even though the real quota is a column.
    */
  def mixtureSample(spark: SparkSession, sfDir: String, budget: Int = 200): DataFrame = {
    // raw reader: a 3-small-column projection with window/agg stages —
    // the first stage is not per-row-heavy, so the spread exchange is
    // pure tax (measured +0.5 s at sf0.1, round 11)
    val docs = Tables.documentsRaw(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val wts = docs.select(col("source")).distinct()
      .withColumn("wt", lit(1) + substring(col("source"), 4, 10).cast("int") % 3)
    val quotas = wts.crossJoin(broadcast(wts.agg(sum(col("wt")).as("tw"))))
      .select(col("source"), expr(s"CAST($budget * wt div tw AS BIGINT)").as("quota"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= lit(budget))
      .join(broadcast(quotas), "source")
      .filter(col("rn") <= col("quota"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("sum_chars_kept"))
  }

  /** Sliding-window document chunking — the context-window pass every
    * training (and RAG-indexing) pipeline runs before tokenized text
    * meets a model: each document becomes overlapping windows of
    * `chunk` tokens starting every `stride` tokens (overlap =
    * chunk − stride), so no boundary-spanning n-gram is lost to a hard
    * cut. Chunk starts are generated IN-PLAN (`sequence` + `explode`) —
    * per-row narrow work, zero shuffles, no driver loop — and each
    * chunk ships as bounds + an md5 content fingerprint rather than
    * repeated text (at 100 TB the expansion factor chunk/stride is paid
    * in 16-byte hashes, not duplicated corpus bytes; a writer that
    * needs the text slices the token array with the same bounds).
    */
  def chunkStride(spark: SparkSession, sfDir: String,
      chunk: Int = 64, stride: Int = 48): DataFrame = {
    val toks = graft.functions.TextFunctions.wsTokens(col("text"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        col("start").cast("int").as("start_tok"),
        least(lit(chunk), col("n") - col("start")).cast("int")
          .as("n_tok_chunk"),
        md5(array_join(slice(col("toks"), col("start") + 1, lit(chunk)), " "))
          .as("chunk_md5"))
  }

  /** Padding-efficiency length bucketing — the batch-assembly dual of
    * [[packSequences]]: assign each document to the smallest power-of-two
    * token-length bucket that holds it, and report how many tokens each
    * bucket wastes as padding. Training loaders batch same-bucket
    * sequences; this is the audit that tells you whether your bucket
    * ladder (and truncation cap) fits the corpus' length distribution.
    *
    * The bucket boundary is a CASE ladder over power-of-two literals —
    * pure integer comparisons, no log2/pow floats whose rounding could
    * reassign a boundary-length document differently per engine. Per-row
    * map + one tiny aggregate: a 100 TB corpus pays one scan, and the
    * shuffle carries |buckets| partial rows.
    */
  def lengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val n = size(graft.functions.TextFunctions.wsTokens(col("text")))
      .cast("long")
    val ladder = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L)
    val bucket = ladder.reverse.foldLeft(lit(2048L)) {
      case (acc, b) => when(n <= b, b).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .select(n.as("n_tokens"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("bucket"), col("n_docs"), col("total_tokens"),
        (col("bucket") * col("n_docs") - col("total_tokens"))
          .as("pad_tokens"),
        expr("total_tokens * 10000 div (bucket * n_docs)")
          .as("fill_bp"))
  }

  /** Range partitions of the prefix-sum core: each holds a contiguous
    * key range, and pass 1 brings one tiny row per partition to the
    * driver.
    */
  private val PrefixParts = 32

  /** The prefix-sum core: stamps each row with the SUM of `weight` (a
    * non-null LongType expression over `df`) over all rows strictly
    * before it in `sortCols` order, as column `out` — i.e. `sum(w) OVER
    * (ORDER BY … ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)`, 0 on the
    * first row — and returns the frame with the sum over ALL rows, read
    * from pass 1's per-partition totals (no count job of its own).
    *
    * A bare window over an empty key is the classic scale trap: Spark
    * plans an empty-key window, every row lands on ONE task, and the job
    * is sequential no matter the cluster. The distributed shape is
    * range-partition + local sort (a normal parallel sort — each of the
    * [[PrefixParts]] tasks holds a contiguous key range), then one
    * lightweight aggregate job over the materialized sorted partitions
    * feeds broadcast prefix-sum offsets, and a `mapPartitions` stamps
    * offset + the local running sum in a single streamed pass —
    * |partitions| tiny rows to the driver, never data.
    *
    * Two executed-in-anger lessons are load-bearing here:
    *  - The sorted relation is FROZEN once (`truncateLineage`):
    *    RangePartitioner's sample seed mixes in the RDD id, so two
    *    separate jobs over the same lineage draw DIFFERENT boundaries —
    *    the aggregate pass and the stamping pass must iterate the same
    *    physical partitions. Checkpoint blocks are ContextCleaner-owned:
    *    they free when the query's refs drop, where CacheManager entries
    *    accumulate for the whole session. The materialization also
    *    spares downstream consumers the severed plan of a generic
    *    Row-converted RDD scan — measured 2.8×/2.9× warm at sf1 on the
    *    1M-row consumers (q_global_index, q_exact_percentiles).
    *  - Pass 2 identifies which partition it is iterating by the
    *    partition's FIRST sort key against a broadcast min-key→offset
    *    map — never by `TaskContext.getPartitionId()`, which reports
    *    the FUSED task's id (0) when a downstream `coalesce()` pulls
    *    many parent partitions into one task, silently collapsing
    *    every offset. The lambda still runs once per parent partition
    *    under fusion, so the data-keyed lookup is fusion-proof. Range
    *    partitioning co-locates equal keys, so per-partition mins are
    *    distinct.
    */
  private[graft] def withRunningTotal(df: DataFrame, sortCols: Seq[Column],
      weight: Column, out: String): (DataFrame, Long) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = df
      .withColumn("_w", weight)
      .repartitionByRange(PrefixParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      // the sort key materialized as a struct: the broadcast lookup key
      .withColumn("_skey", struct(sortCols: _*))
      .truncateLineage()
    // pass 1: per-partition totals + min key; this standalone job runs
    // each range partition as its own task, so spark_partition_id() is
    // the real range-partition index here
    val perPart = sorted
      .groupBy(spark_partition_id().as("_pid"))
      .agg(sum(col("_w")).as("_t"), min(col("_skey")).as("_min"))
      .collect().sortBy(_.getInt(0))
    var acc = 0L
    val offsetByMin: Map[Row, Long] = perPart.map { r =>
      val entry = (r.getAs[Row]("_min"), acc)
      acc += r.getAs[Long]("_t")
      entry
    }.toMap
    val bc = df.sparkSession.sparkContext.broadcast(offsetByMin)
    val wIdx = sorted.schema.fieldIndex("_w")
    val schema = StructType(
      sorted.schema.fields :+ StructField(out, LongType, nullable = false))
    // pass 2: stream each sorted partition once; the ascending local sort
    // puts the partition's min key on its first row
    val stamped = sorted.mapPartitions { it =>
      val buf = it.buffered
      if (!buf.hasNext) Iterator.empty
      else {
        var off = bc.value(buf.head.getAs[Row]("_skey"))
        buf.map { r =>
          val row = Row.fromSeq(r.toSeq :+ off)
          off += r.getLong(wIdx)
          row
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    (stamped.drop("_w", "_skey"), acc)
  }

  /** Contiguous global row numbering 0..N-1 in `sortCols` order as
    * `global_idx`, with N: [[withRunningTotal]] with weight 1 — the
    * operator behind stable sample ids, shard assignment, resumable
    * training order and every distributed rank here.
    */
  private[graft] def withGlobalIndex(df: DataFrame,
      sortCols: Seq[Column]): (DataFrame, Long) =
    withRunningTotal(df, sortCols, lit(1L), "global_idx")

  /** Exact `ntile(buckets)` from the 0-based rank column `idx` over `n`
    * rows: the first n mod buckets tiles hold ⌈n/buckets⌉ rows, the
    * rest ⌊n/buckets⌋ — bit-identical to the window form. Integer `div`,
    * never `/` (Spark's / is DOUBLE division, and a tile boundary must
    * never hinge on float rounding). When n < buckets the tile size q is
    * 0 and every rank takes the first branch; max(1, q) keeps the other
    * branch from planning a division by zero.
    */
  private[graft] def ntileFromRank(idx: String, n: Long, buckets: Int): Column = {
    val q = n / buckets
    val r = n % buckets
    (when(col(idx) < lit(r * (q + 1)), expr(s"$idx div ${q + 1}"))
      .otherwise(lit(r) + expr(s"($idx - ${r * (q + 1)}) div ${math.max(1L, q)}"))
      .cast("int") + 1)
  }

  /** Global event enumeration by (ts, event_id): the q-entry face of
    * [[withGlobalIndex]] — equals `row_number() OVER (ORDER BY ts,
    * event_id) - 1` without ever forming a one-task window.
    */
  def globalIndex(spark: SparkSession, sfDir: String): DataFrame =
    withGlobalIndex(
      Tables.events(spark, sfDir).select(col("event_id"), col("ts")),
      Seq(col("ts"), col("event_id")))._1
      .select(col("event_id"), col("global_idx"))

  /** Training-sequence packing layout — the GPT-style concat-and-chunk
    * pass that turns a variable-length corpus into fixed `blockSize`-token
    * training sequences with ZERO padding waste: conceptually the corpus
    * is concatenated in doc_id order and cut every `blockSize` tokens, so
    * each document occupies the half-open token interval
    * [tok_offset, tok_offset + n_toks) of the global stream and the
    * blocks it lands in are pure integer arithmetic on that interval.
    * The output is the packing MANIFEST (per-doc offset + block span +
    * split flag) a sharded tensor-writer consumes — the thing you must
    * compute exactly once, globally, before writers can run in parallel.
    *
    * Scale shape: per-doc token counts are a narrow map; the only global
    * state is the corpus-order prefix sum, which rides
    * [[withRunningTotal]] (range-partition + broadcast per-partition
    * totals) — never an empty-key window, so no single task ever sees
    * the whole corpus. Cost: one range shuffle of (doc_id, n_toks) pairs
    * — 16 bytes/doc regardless of document size.
    */
  def packBlocks(spark: SparkSession, sfDir: String,
      blockSize: Long = 1024L): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.wsTokens(col("text")))
          .cast("long").as("n_toks"))
    withRunningTotal(counts, Seq(col("doc_id")), col("n_toks"), "running_offset")._1
      .select(col("doc_id"), col("n_toks"),
        col("running_offset").as("tok_offset"),
        expr(s"running_offset div $blockSize").as("first_block"),
        // a zero-token document occupies an EMPTY interval: last_block
        // = first_block − 1 so n_blocks lands on 0 (the general
        // formula's `−1` would also cross engines at tok_offset 0:
        // Spark `div` truncates toward zero, DuckDB `//` floors, so
        // −1/blockSize is 0 vs −1)
        when(col("n_toks") === 0L,
          expr(s"running_offset div $blockSize") - 1L)
          .otherwise(expr(s"(running_offset + n_toks - 1) div $blockSize"))
          .as("last_block"))
      .withColumn("n_blocks", col("last_block") - col("first_block") + 1)
      .withColumn("is_split", (col("n_blocks") > 1).cast("int"))
  }

  /** Curriculum-stage assignment — order the corpus easy→hard (here by
    * `n_chars`, the stand-in for a model-based difficulty score) and
    * cut it into `stages` contiguous cohorts with exact NTILE
    * semantics: the first N mod s cohorts get ⌈N/s⌉ documents, the
    * rest ⌊N/s⌋. NTILE is another empty-key window at heart, so the
    * stage is derived ARITHMETICALLY ([[ntileFromRank]]) from
    * [[withGlobalIndex]]'s distributed global rank and row count
    * instead: no single-task sort, no separate count job,
    * bit-identical to the window form the oracle states.
    */
  def curriculum(spark: SparkSession, sfDir: String, stages: Int = 4): DataFrame = {
    val (indexed, n) = withGlobalIndex(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars"), col("doc_id")))
    indexed.select(col("doc_id"), col("n_chars"),
      ntileFromRank("global_idx", n, stages).as("stage"))
  }

  /** Per-domain document cap — the crawl-hygiene selection pass (C4,
    * RefinedWeb, FineWeb all cap per-registered-domain contributions so
    * no single site dominates the corpus). Keep the top `cap` documents
    * per source by (n_chars desc, doc_id asc) — a deterministic total
    * order — and account kept/dropped per source.
    *
    * The rank filter compiles to Spark's WindowGroupLimit: each map task
    * keeps only its local top-`cap` per source BEFORE the exchange, so
    * the shuffle carries at most partitions×sources×cap rows, not the
    * corpus — the same partial-top-k physics as TakeOrderedAndProject,
    * applied per group. (At web scale `source` is the registered domain
    * — millions of values, so the post-shuffle work is well spread; a
    * handful of mega-domains is exactly the skew AQE splits.)
    */
  def domainCap(spark: SparkSession, sfDir: String, cap: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    // totals: plain hash aggregate — map-side partial combine, the
    // shuffle moves |sources| partial buffers, never corpus rows
    val totals = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    // kept set: the rank predicate is a real FILTER, so the optimizer
    // inserts WindowGroupLimit and each map task pre-limits to its local
    // top-`cap` per source before the window exchange
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val kept = docs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
    totals.join(kept, "source")
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"), col("kept_chars"))
  }

  /** Rendezvous (highest-random-weight) hashing — the ownership
    * assignment for shard managers / cache rings: every document goes
    * to the worker whose md5(doc ∥ worker) score is highest, no
    * coordination, no lookup table. The HRW property is what modular
    * hashing lacks: removing a worker moves ONLY that worker's
    * documents (every other argmax is unchanged by deleting a
    * non-winning candidate). The query computes the assignment before
    * and after removing worker w0 and reports per-worker
    * before/after/moved-in counts — the oracle checks the invariant
    * numerically. Cost: |docs|×|workers| narrow rows, two
    * per-doc argmax windows, no corpus shuffle beyond the doc key.
    */
  def rendezvousAssign(spark: SparkSession, sfDir: String,
      nWorkers: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val workers = (0 until nWorkers).map(i => s"w$i")
    // raw reader: only doc_id is read; the md5 work happens AFTER the
    // ×nWorkers explode, which repartitions at its window shuffle anyway
    val scored = Tables.documentsRaw(spark, sfDir)
      .select(col("doc_id"),
        explode(array(workers.map(lit(_)): _*)).as("worker"))
      .withColumn("score",
        md5(concat(col("doc_id"), lit("|"), col("worker"))))
    def assign(df: DataFrame): DataFrame =
      df.withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("worker"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("worker"))
    val before = assign(scored)
    val after = assign(scored.filter(col("worker") =!= "w0"))
    before.select(col("doc_id"), col("worker").as("w_before"))
      .join(after.select(col("doc_id"), col("worker").as("w_after")), "doc_id")
      .groupBy(col("w_after").as("worker"))
      .agg(
        sum(when(col("w_before") === col("w_after"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("w_before") =!= col("w_after"), 1L).otherwise(0L))
          .as("n_moved_in"))
  }

  /** Per-source bootstrap uncertainty band — [[bootstrapPoisson]]'s
    * replicates rolled up per stratum: each replicate re-weights every
    * document by its Poisson(1) draw, and the min/max of the
    * replicates' character budgets band the stat's sampling
    * variability. The deterministic draws make the band itself
    * reproducible — rerunning the pipeline reproduces not just the
    * estimate but its error bar. Integer arithmetic end-to-end; one
    * aggregate at (rep, source) then a |sources|-bounded rollup.
    */
  def bootstrapBySource(spark: SparkSession, sfDir: String, reps: Int = 3): DataFrame =
    poissonReps(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars")), reps)
      .groupBy(col("rep"), col("source"))
      .agg(sum(col("k") * col("n_chars")).as("chars_rep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_reps"),
        min(col("chars_rep")).as("chars_lo"),
        max(col("chars_rep")).as("chars_hi"))
      .withColumn("band", col("chars_hi") - col("chars_lo"))

  /** Largest-remainder (Hare) apportionment of a fixed budget across
    * sources — the exact-total allocator behind "split exactly B
    * training slots proportional to each domain's weight":
    * floor-quotas first, then the leftover slots go to the largest
    * fractional remainders (ties to the lexicographically first
    * source), so Σalloc == B ALWAYS — the invariant proportional
    * rounding loses and renormalization hacks only approximate. All
    * arithmetic is exact integers (B·w div/mod W); the window runs over
    * the |sources|-row aggregate, never the corpus.
    */
  def apportion(spark: SparkSession, sfDir: String, budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Tables.documents(spark, sfDir)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("weight"))
    val tot = broadcast(w.agg(sum(col("weight")).as("W"),
      count(lit(1)).as("n_src")))
    val quotas = w.crossJoin(tot)
      .select(col("source"), col("weight"), col("W"),
        expr(s"(${budget}L * weight) div W").as("base_alloc"),
        expr(s"(${budget}L * weight) % W").as("rem"))
    val deficitW = Window.partitionBy(lit(1))
    val rankW = Window.orderBy(col("rem").desc, col("source"))
    quotas
      .withColumn("deficit", lit(budget) - sum(col("base_alloc")).over(deficitW))
      .withColumn("rk", row_number().over(rankW))
      .select(col("source"), col("weight"), col("base_alloc"),
        when(col("rk") <= col("deficit"), 1L).otherwise(0L).as("extra"))
      .withColumn("alloc", col("base_alloc") + col("extra"))
  }

  /** Deterministic training-data shuffle + EXACTLY balanced shard
    * assignment: order the corpus by a salted content hash (the
    * reproducible stand-in for a random permutation — same order on
    * every engine, worker count, and retry) and deal documents
    * round-robin off the distributed global rank, so shard sizes differ
    * by at most one — the property data-parallel training wants that
    * plain `hash mod k` only delivers in expectation. Rank comes from
    * [[withGlobalIndex]] (range partition + prefix sum), so no one-task
    * sort; the report is per-shard document and character budgets.
    */
  def dataShuffle(spark: SparkSession, sfDir: String, shards: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        md5(concat(lit("shuf|"), col("doc_id"))).as("h"))
    withGlobalIndex(docs, Seq(col("h"), col("doc_id")))._1
      .select((col("global_idx") % shards).cast("int").as("shard"),
        col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }

  /** EXACT global percentiles WITHOUT a one-task sort — the third rung
    * of the quantile ladder: sketches estimate (q_approx_percentile,
    * q_quantile_sketch, both audited), per-group exact ranks use
    * bounded-key windows (q_winsorize), and THIS answers "the exact
    * global p50/p90/p99" on an unbounded table via [[withGlobalIndex]]'s
    * range-partition + prefix-sum rank and row count: one scan and
    * |partitions| tiny rows to the driver, no empty-key window, no
    * global sort on one executor.
    * Nearest-rank-lower definition (rank = (n−1)·p div 100 over a
    * deterministic total order) so both engines pick the identical
    * data element — exact integer cents, no interpolation floats.
    */
  def exactPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"), col("o_orderkey"))
    val (indexed, n) = withGlobalIndex(o, Seq(col("cents"), col("o_orderkey")))
    val picks = Seq(50, 90, 99).map(p => (s"p$p", (n - 1) * p / 100))
    val pickDf = broadcast(spark.createDataFrame(picks)
      .toDF("pct", "global_idx"))
    indexed.join(pickDf, "global_idx")
      .select(col("pct"), col("cents"))
  }

  /** Deterministic Poisson(1) bootstrap replicates — the resampling
    * primitive behind bagged quality models and uncertainty bands over
    * corpus statistics. An RNG-based bootstrap is irreproducible across
    * engines, worker counts, and retries; here each (doc, replicate)
    * draw is the Poisson(1) inverse-CDF applied to an md5-derived
    * uniform, with the CDF steps as INTEGER ppm literals (P(X≤k) for
    * k=0..3 ≈ .367879/.735759/.919699/.981012) — so every engine deals
    * every document the identical replicate multiplicity. Narrow
    * per-row draws + one aggregate; replicates scale the scan by R,
    * never shuffle the corpus.
    */
  def bootstrapPoisson(spark: SparkSession, sfDir: String, reps: Int = 3): DataFrame =
    poissonReps(Tables.documents(spark, sfDir).select(col("doc_id")), reps)
      .groupBy(col("rep").cast("int").as("rep"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("k")).as("n_drawn"),
        sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("k") >= 2, 1L).otherwise(0L)).as("n_multi"))

  /** Each document row `reps` times, as `rep` 1..reps, with `k`, its
    * Poisson(1) draw: the inverse CDF applied to the md5 uniform
    * `u_ppm` of `doc_id|rep`, with the CDF steps P(X≤k), k = 0..3, as
    * integer ppm.
    */
  private def poissonReps(docs: DataFrame, reps: Int): DataFrame = {
    val cdf = Seq(367879L, 735759L, 919699L, 981012L)
    docs.withColumn("rep", explode(sequence(lit(1), lit(reps))))
      .withColumn("u_ppm",
        md5Int(concat(col("doc_id"), lit("|"), col("rep")), 8) % 1000000L)
      .withColumn("k",
        when(col("u_ppm") < cdf(0), 0L)
          .when(col("u_ppm") < cdf(1), 1L)
          .when(col("u_ppm") < cdf(2), 2L)
          .when(col("u_ppm") < cdf(3), 3L)
          .otherwise(4L))
  }
}
