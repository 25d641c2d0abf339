package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.operators.Multimodal
import graft.sources.JdbcStore
import graft.streaming.EventsStreaming

/** Registrations for the multimodal-column operators and the structured-
  * streaming forms. Media oracles work on hex strings (DuckDB 1.0 has no
  * substring/md5 over BLOB); both engines' hex() is uppercase.
  */
object MediaStreamQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_metadata" -> ((s, d) => Multimodal.metadata(s, d)),
    "q_media_features" -> ((s, d) => Multimodal.featuresStub(s, d)),
    "q_media_frames" -> ((s, d) => Multimodal.frameSample(s, d)),
    "q_media_decode" -> ((s, d) => Multimodal.decode(s, d).toDF()),
    "q_media_files" -> ((s, d) => Multimodal.mediaFilesDecode(s, d)),
    "q_media_resize" -> ((s, d) => Multimodal.resize(s, d).toDF()),
    "q_media_dedup" -> ((s, d) => Multimodal.payloadDedup(s, d)),
    "q_stream_events_window" -> ((s, d) => EventsStreaming.dailyCounts(s, d)),
    "q_stream_approx_distinct" -> ((s, d) => EventsStreaming.dailyApproxDistinct(s, d)),
    "q_stream_quantile" -> ((s, d) => EventsStreaming.streamingQuantileSketch(s, d)),
    "q_stream_events_append" -> ((s, d) => EventsStreaming.dailyCountsAppend(s, d)),
    "q_stream_daily_rollup" -> ((s, d) => EventsStreaming.dailyRollupMaintained(s, d)),
    // the flagship stream is a DailyApp tick over the golden window;
    // its table holds the golden row
    "q_stream_flagship" -> ((s, _) => {
      val cfg = TwseQueries.goldenTick("graft_stream_flagship")
      DailyApp.runTick(s, cfg)
      s.read.schema(Schemas.investmentData).parquet(cfg.table.toString)
    }),
    // the same tick into the reference DDL's table over JDBC (Derby)
    "q_stream_flagship_jdbc" -> ((s, _) => {
      val cfg = TwseQueries.goldenTick("graft_stream_flagship_jdbc")
      val url = s"jdbc:derby:${cfg.base.resolve("derby")};create=true"
      DailyApp.runTick(s, cfg, new JdbcStore.InvestmentTarget(s, url))
      JdbcStore.investmentData(s, url)
    }),
    "q_stream_heavy_hitters" -> ((s, d) =>
      graft.streaming.DocsStreaming.heavyHittersStream(s, d)),
    "q_stream_tws" -> ((s, d) =>
      graft.streaming.TwsStreaming.runningTotals(s, d)),
    "q_state_inspect" -> ((s, d) =>
      graft.streaming.StateInspect.aggStateReadback(s, d)),
    "q_stream_tws_map" -> ((s, d) =>
      graft.streaming.TwsStreaming.perTypeCounts(s, d)),
    "q_stream_tws_list" -> ((s, d) =>
      graft.streaming.TwsStreaming.firstTouches(s, d)),
    "q_stream_dedup" -> ((s, d) =>
      graft.streaming.DocsStreaming.dedupHashes(s, d)),
    "q_stream_dedup_minhash" -> ((s, d) =>
      graft.streaming.DocsStreaming.streamDedupMinhash(s, d)),
    "q_stream_interval_join" -> ((s, d) =>
      EventsStreaming.viewPurchaseJoin(s, d)),
    "q_stream_left_join" -> ((s, d) =>
      EventsStreaming.viewPurchaseLeftJoin(s, d)),
    "q_stream_full_join" -> ((s, d) =>
      EventsStreaming.viewPurchaseFullJoin(s, d)),
    "q_stream_dedup_wm" -> ((s, d) =>
      EventsStreaming.dedupWithinWatermark(s, d)),
    "q_stream_dedup_agg" -> ((s, d) =>
      EventsStreaming.dedupThenWindow(s, d)),
    "q_stream_cdc_apply" -> ((s, d) =>
      graft.streaming.CdcStreaming(s, d)),
    "q_stream_session_native" -> ((s, d) =>
      EventsStreaming.sessionWindowStream(s, d)),
    "q_stream_quarantine" -> ((s, d) =>
      EventsStreaming.quarantineStream(s, d)),
    "q_stream_enrich" -> ((s, d) =>
      EventsStreaming.cohortEnrichedCounts(s, d)),
    "q_stream_tws_session" -> ((s, d) =>
      graft.streaming.TwsStreaming.timerSessions(s, d).select(
        col("user_id"), col("session_id"), col("n_events"),
        date_format(expr("timestamp_micros(session_start_us)"),
          "yyyy-MM-dd HH:mm:ss").as("session_start"))),
    "q_stream_sessionize" -> ((s, d) =>
      EventsStreaming.sessionize(s, d).select(
        col("user_id"), col("session_id"), col("n_events"),
        date_format(expr("timestamp_micros(session_start_us)"),
          "yyyy-MM-dd HH:mm:ss").as("session_start")))
  )

  /** Shared media CTEs: magic header by source id mod 3, payload =
    * magic ∥ UTF-8 text.
    */
  private val mediaCte =
    """m AS (SELECT doc_id,
      |  CASE CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) % 3
      |    WHEN 0 THEN 'IMG1' WHEN 1 THEN 'AUD1' ELSE 'VID1' END AS mt,
      |  text FROM documents),
      |p AS (SELECT doc_id, mt, (mt::BLOB || encode(text)) AS payload FROM m)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // identical payload BYTES collapse to one canonical row
    "q_media_dedup" ->
      s"""WITH $mediaCte
         |SELECT md5(hex(payload)) AS payload_hash,
         |  min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM p GROUP BY 1""".stripMargin,

    "q_media_metadata" ->
      s"""WITH $mediaCte
         |SELECT doc_id, CAST(octet_length(payload) AS INTEGER) AS n_bytes,
         |  substr(hex(payload), 1, 8) AS header_hex,
         |  CASE substr(hex(payload), 1, 8)
         |    WHEN hex('IMG1'::BLOB) THEN 'image'
         |    WHEN hex('AUD1'::BLOB) THEN 'audio'
         |    ELSE 'video' END AS kind
         |FROM p""".stripMargin,

    "q_media_features" ->
      s"""WITH $mediaCte
         |SELECT doc_id, CAST(i AS INTEGER) AS dim,
         |  CAST(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || hex(payload)), 1, 4))
         |    AS UBIGINT) AS INTEGER) AS value
         |FROM p, range(8) r(i)""".stripMargin,

    "q_media_frames" ->
      s"""WITH $mediaCte
         |SELECT doc_id, CAST(f AS INTEGER) AS frame_id,
         |  substr(hex(payload), f*32 + 9, 32) AS frame_hex,
         |  md5(substr(hex(payload), f*32 + 9, 32)) AS frame_md5
         |FROM p, range(3) r(f)
         |WHERE length(substr(hex(payload), f*32 + 9, 32)) = 32""".stripMargin,

    // REAL codec audit: Spark decodes actual PNG bytes (javax.imageio)
    // and sums the gray raster; the oracle recomputes every pixel from
    // the generator formula (doc_id*31 + 7x + 13y) mod 256 — lossless
    // PNG means the sums must match bit-exactly.
    "q_media_decode" ->
      """WITH dims AS (SELECT doc_id,
        |    CAST(doc_id % 13 + 1 AS INTEGER) AS width,
        |    CAST(doc_id % 11 + 2 AS INTEGER) AS height FROM documents),
        |xs AS (SELECT doc_id, width, height,
        |    unnest(range(0, width)) AS x FROM dims),
        |px AS (SELECT doc_id, width, height, x,
        |    unnest(range(0, height)) AS y FROM xs)
        |SELECT doc_id, 'png' AS media_type, width, height,
        |  CAST(sum((doc_id*31 + 7*x + 13*y) % 256) AS BIGINT) AS pixel_sum
        |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

    // binaryFile-source ingest of real .png files, decoded by the real
    // codec; doc identity recovered from the file name. Same pixel
    // formula as q_media_decode, restricted to the staged id range.
    "q_media_files" ->
      """WITH dims AS (SELECT doc_id,
        |    CAST(doc_id % 13 + 1 AS INTEGER) AS width,
        |    CAST(doc_id % 11 + 2 AS INTEGER) AS height
        |  FROM documents WHERE doc_id < 200),
        |xs AS (SELECT doc_id, width, height,
        |    unnest(range(0, width)) AS x FROM dims),
        |px AS (SELECT doc_id, width, height, x,
        |    unnest(range(0, height)) AS y FROM xs)
        |SELECT doc_id, width, height,
        |  CAST(sum((doc_id*31 + 7*x + 13*y) % 256) AS BIGINT) AS pixel_sum
        |FROM px GROUP BY 1, 2, 3""".stripMargin,

    // Resize stage: aspect-preserving nearest-neighbor fit to 8 over the
    // REAL decoded raster; the oracle restates the floor sampling map
    // (tx*w/tw, ty*h/th) against the generator formula.
    "q_media_resize" ->
      """WITH dims AS (SELECT doc_id,
        |    CAST(doc_id % 13 + 1 AS INTEGER) AS width,
        |    CAST(doc_id % 11 + 2 AS INTEGER) AS height FROM documents),
        |t AS (SELECT *, greatest(width, height) AS longer FROM dims),
        |r AS (SELECT doc_id, width, height,
        |  CASE WHEN longer <= 8 THEN width
        |    ELSE greatest(1, (width * 8) // longer) END AS tw,
        |  CASE WHEN longer <= 8 THEN height
        |    ELSE greatest(1, (height * 8) // longer) END AS th
        |  FROM t),
        |xs AS (SELECT doc_id, width, height, tw, th,
        |    unnest(range(0, tw)) AS tx FROM r),
        |px AS (SELECT doc_id, width, height, tw, th, tx,
        |    unnest(range(0, th)) AS ty FROM xs)
        |SELECT doc_id, width, height,
        |  CAST(tw AS INTEGER) AS target_w, CAST(th AS INTEGER) AS target_h,
        |  CAST(sum((doc_id*31 + 7*((tx*width)//tw) + 13*((ty*height)//th))
        |    % 256) AS BIGINT) AS resized_sum
        |FROM px GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // The streaming window aggregation must equal the batch one — same
    // oracle (see AnalyticsQueries).
    "q_stream_events_window" -> AnalyticsQueries.oracleSql("q_events_window"),

    // Streaming HLL distinct, audited: contract carries the exact count
    // and the tolerance verdict only (estimate is engine sketch state).
    "q_stream_approx_distinct" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_tol
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Append mode + watermark must emit exactly the same closed windows.
    "q_stream_events_append" -> AnalyticsQueries.oracleSql("q_events_window"),

    // The streamed sketch snapshot passes the same exact-rank audit as
    // the batch sketch — verdicts pinned, estimates out of the contract.
    "q_stream_quantile" -> AnalyticsQueries.oracleSql("q_quantile_sketch"),

    // The foreachBatch-MAINTAINED daily-partials table (3 micro-batch
    // upserts, dynamic partition overwrite) must equal the from-scratch
    // aggregate over all history — exact integer-cents partials make it
    // bit-identical, which is precisely what this oracle computes.
    "q_stream_daily_rollup" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
        |    / 100.0 AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Stream-static join result must equal the all-batch formulation.
    "q_stream_enrich" ->
      """WITH dim AS (
        |  SELECT user_id, strftime(min(ts), '%Y-%m-%d') AS cohort
        |  FROM events GROUP BY user_id)
        |SELECT cohort, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events JOIN dim USING (user_id)
        |GROUP BY cohort, event_type""".stripMargin,

    // A DailyApp tick over the golden window appends exactly the batch
    // flagship's golden row, into parquet and into JDBC alike.
    "q_stream_flagship" -> TwseQueries.oracleSql("q_flagship"),
    "q_stream_flagship_jdbc" -> TwseQueries.oracleSql("q_flagship"),

    // ListState first-k prefix per user equals the batch rank window
    "q_stream_tws_list" ->
      """SELECT user_id, CAST(rn AS INTEGER) AS rank, event_id FROM (
        |  SELECT user_id, event_id, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 5""".stripMargin,

    // MapState per-(user, type) counters: last snapshot per sub-key
    // equals the batch two-key aggregate
    "q_stream_tws_map" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the checkpoint's state store read back as a table equals the
    // batch aggregate — the state IS the result for an update-mode agg
    "q_state_inspect" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS spend_c
        |FROM events GROUP BY 1""".stripMargin,

    // transformWithState running totals: the last emitted snapshot per
    // user equals the plain batch lifetime aggregate.
    "q_stream_tws" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS spend_c
        |FROM events GROUP BY 1""".stripMargin,

    // B x O(k) bucket sketches in the state store + exact batch
    // recount: the streaming pipeline returns the same exact
    // heavy-hitter set as the batch sketch and the brute-force HAVING.
    "q_stream_heavy_hitters" -> TextQueries.oracleSql("q_heavy_hitters"),

    // Ingest-time dedup: the streamed distinct-hash set equals the
    // batch DISTINCT.
    "q_stream_dedup" ->
      "SELECT DISTINCT md5(text) AS content_hash FROM documents",

    // Sequential first-wins near-dup ingest ≡ the global batch LSH
    // rule: dropped iff a smaller doc_id shares a band (arrival order
    // is doc_id order by construction of the staged range shards).
    "q_stream_dedup_minhash" ->
      s"""${TextQueries.bandsCte},
         |dropped AS (SELECT DISTINCT b1.doc_id
         |  FROM bands b1 JOIN bands b2
         |    ON b1.band_id = b2.band_id AND b1.band_key = b2.band_key
         |      AND b2.doc_id < b1.doc_id)
         |SELECT d.doc_id, d.source, d.lang FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,

    // The duplicate file re-sends every 10th event; within-watermark
    // dedup must restore exactly the original duplicate-free table.
    "q_stream_dedup_wm" ->
      "SELECT event_id, event_type FROM events",

    // Chained stateful operators: the dedup stage absorbs the staged
    // re-sends, so the downstream windows must equal the plain daily
    // aggregate over the duplicate-free table — exactly-once counts
    // from an at-least-once source.
    "q_stream_dedup_agg" ->
      """SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP),
        |    '%Y-%m-%d') AS day,
        |  event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Native streaming session_window must emit exactly the batch
    // sessions — same oracle as q_session_window.
    "q_stream_session_native" -> AnalyticsQueries.oracleSql("q_session_window"),

    // The streamed CDC merge loop must land exactly the batch
    // cdcApply table — same oracle.
    "q_stream_cdc_apply" -> AnalyticsQueries.oracleSql("q_cdc_apply"),

    // The streamed DLQ fan-out must account for every row exactly like
    // the batch quarantine — same oracle.
    "q_stream_quarantine" -> AnalyticsQueries.oracleSql("q_parse_quarantine"),

    // The stream-stream interval join equals the batch interval join.
    "q_stream_interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin,

    // Left-outer adds exactly the unmatched views with NULL purchase
    // columns — the streaming null-emission-on-expiry must equal the
    // batch LEFT JOIN.
    // Full outer adds the unmatched-purchase direction; user_id comes
    // from whichever side is present.
    "q_stream_full_join" ->
      """SELECT coalesce(v.user_id, p.user_id) AS user_id,
        |  v.event_id AS view_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin,

    "q_stream_left_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin,

    // Timer-driven tws sessionize shares the exact batch contract: the
    // engine-closed trailing sessions must be indistinguishable from
    // marker-closed ones.
    "q_stream_tws_session" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    // Streaming sessionize must equal the batch gaps-and-islands form
    // (integer fields only; double session sums are checked in the spec).
    "q_stream_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM sess GROUP BY user_id, session_id""".stripMargin
  )
}
