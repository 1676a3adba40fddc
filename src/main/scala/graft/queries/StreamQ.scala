package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.io.Tables
import graft.ops.{Ingest, Latest}

/** Streaming-layer queries. q_stream_latest runs the REAL Structured
  * Streaming path (file source → validate → streaming argmax in
  * complete mode → memory sink) and is then compared against the same
  * DuckDB oracle as the batch q_latest_per_key — a batch/streaming
  * equivalence check executed by the driver itself.
  */
object StreamQ {

  @volatile private var counter = 0

  /** THE streaming events reader — every StreamQ source goes through
    * here so the physical-type dispatch for `ts` (Tables.withTsMs)
    * lives in exactly one place; the schema is captured from a batch
    * read, so batch and stream see the identical loaded type and the
    * identical `ts_ms` derivation. Queries that don't need `ts_ms`
    * still use this reader — column pruning drops the extra column at
    * the scan.
    */
  private def eventsStream(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val rawSchema = Tables.table(spark, dir, "events").schema
    Tables.withTsMs(
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  val qStreamLatest = Q(
    "q_stream_latest",
    (spark, dir) => {
      val name = { counter += 1; s"stream_latest_$counter" }
      val src = eventsStream(spark, dir)
        .select("user_id", "event_id", "ts_ms", "event_type", "value")
      val latest = Latest.keepLastPerKey(
        Ingest.validate(src, "event_type", "ts_ms"),
        Seq("user_id"), Seq("ts_ms", "event_id"))
      val q = latest.writeStream
        .queryName(name)
        .outputMode("complete")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
        .select("user_id", "event_id", "ts_ms", "event_type", "value")
        .orderBy("user_id")
    },
    Some("""SELECT user_id, event_id, ts_ms, event_type, value FROM (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM events
      WHERE event_type <> '' AND event_type IS NOT NULL AND epoch_ms(ts) > 0) t
      WHERE rn = 1 ORDER BY user_id""")
  )

  /** Streaming exact dedup through the driver gate: the file-source
    * stream deduplicated on (user_id, ts_ms), emitting ONLY the key
    * columns so the result is deterministic regardless of which
    * physical row won first-arrival (the oracle is plain DISTINCT).
    * Second batch/stream equivalence pin next to q_stream_latest.
    * State note: unbounded dedup state is right for a bounded replay;
    * an infinite feed bounds it with a watermark and Spark's own
    * `dropDuplicatesWithinWatermark`.
    */
  val qStreamDedup = Q(
    "q_stream_dedup",
    (spark, dir) => {
      val name = { counter += 1; s"stream_dedup_$counter" }
      val src = eventsStream(spark, dir)
        .select("user_id", "ts_ms")
      val q = src.dropDuplicates("user_id", "ts_ms")
        .writeStream
        .queryName(name)
        .outputMode("append")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).orderBy("user_id", "ts_ms")
    },
    Some("""SELECT DISTINCT user_id, epoch_ms(ts) AS ts_ms FROM events
      ORDER BY user_id, ts_ms""")
  )

  /** Streaming watermarked tumbling window through the driver gate —
    * append mode emits exactly the windows whose end is at or below
    * the FINAL watermark (max event time − delay), so the oracle is
    * the batch window aggregation with that same cutoff: the
    * watermark semantics themselves are what's being checked against
    * an independent engine. Third batch/stream equivalence pin next
    * to q_stream_latest / q_stream_dedup (its batch face is
    * q_time_window, which emits ALL windows).
    */
  val qStreamWindow = Q(
    "q_stream_window",
    (spark, dir) => {
      val name = { counter += 1; s"stream_window_$counter" }
      val src = eventsStream(spark, dir)
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("event_type"), col("n"))
      val q = src.writeStream
        .queryName(name)
        .outputMode("append")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).orderBy("w_start", "event_type")
    },
    Some("""WITH e AS (SELECT epoch_ms(ts) AS t, event_type FROM events),
        m AS (SELECT max(t) - 3600000 AS wm FROM e),
        w AS (SELECT (t // 3600000) * 3600000 AS w_start, event_type FROM e)
      SELECT w_start, event_type, count(*) AS n
      FROM w CROSS JOIN m
      WHERE w_start + 3600000 <= wm
      GROUP BY w_start, event_type
      ORDER BY w_start, event_type""")
  )

  /** Streaming OHLC candles — real-time bar construction on the live
    * feed, the reference domain's canonical streaming aggregation:
    * watermarked tumbling windows whose open/close ride the same
    * packed-tie `min_by`/`max_by` as the batch q_ohlc_bars (declarative
    * aggregates, so the streaming state store carries one (ord, value)
    * pair per extreme — no per-tick state). Append mode emits bars
    * whose window closed at or below the final watermark; the oracle
    * is the batch bar aggregation under that same cutoff. Fourth
    * batch/stream equivalence pin; its batch face is q_ohlc_bars.
    */
  val qStreamOhlc = Q(
    "q_stream_ohlc",
    (spark, dir) => {
      val name = { counter += 1; s"stream_ohlc_$counter" }
      val src = eventsStream(spark, dir)
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .withColumn("o",
          col("ts_ms") * lit(graft.ops.Bars.TiePack) + col("event_id"))
        .withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(
          min_by(col("value"), col("o")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("o")).as("close"),
          count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("event_type"), col("open"), col("high"), col("low"),
          col("close"), col("n"))
      val q = src.writeStream
        .queryName(name)
        .outputMode("append")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).orderBy("w_start", "event_type")
    },
    Some(s"""WITH e AS (SELECT epoch_ms(ts) AS t, event_type, value,
          epoch_ms(ts) * ${graft.ops.Bars.TiePack} + event_id AS o
        FROM events),
        m AS (SELECT max(t) - 3600000 AS wm FROM e),
        w AS (SELECT (t // 3600000) * 3600000 AS w_start, event_type,
          value, o FROM e)
      SELECT w_start, event_type,
        arg_min(value, o) AS open, max(value) AS high, min(value) AS low,
        arg_max(value, o) AS close, count(*) AS n
      FROM w CROSS JOIN m WHERE w_start + 3600000 <= wm
      GROUP BY w_start, event_type
      ORDER BY w_start, event_type""")
  )

  /** Streaming sessionization — the MERGING-window state path (every
    * other streaming pin uses fixed windows or keyed state; session
    * windows grow and fuse as events arrive, a different state-store
    * operator). Same `session_window` + 6 h gap as the batch
    * q_sessionize; append mode emits sessions once the watermark
    * passes session end (last event + gap), so the oracle is the batch
    * island construction restricted to that cutoff. Per-user sessions
    * are disjoint and time-ordered, so the emitted set is a PREFIX of
    * each user's session list and the post-hoc sid numbering matches
    * the batch numbering. Fifth equivalence pin; batch face
    * q_sessionize.
    */
  val qStreamSession = Q(
    "q_stream_session",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val name = { counter += 1; s"stream_session_$counter" }
      val src = eventsStream(spark, dir)
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .withWatermark("event_time", "1 hour")
        .groupBy(col("user_id"), session_window(col("event_time"), "6 hours"))
        .agg(count(lit(1)).as("n"),
          min(col("ts_ms")).as("start_ms"),
          max(col("ts_ms")).as("end_ms"))
        .select("user_id", "n", "start_ms", "end_ms")
      val q = src.writeStream
        .queryName(name)
        .outputMode("append")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val w = Window.partitionBy(col("user_id")).orderBy(col("start_ms"))
      spark.table(name)
        .withColumn("sid", row_number().over(w).cast("long"))
        .select("user_id", "sid", "n", "start_ms", "end_ms")
        .orderBy("user_id", "sid")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      m AS (SELECT max(ts_ms) - 3600000 AS wm FROM e),
      d AS (SELECT user_id, event_id, ts_ms,
          CASE WHEN lag(ts_ms) OVER w IS NULL
                 OR ts_ms - lag(ts_ms) OVER w >= 21600000
               THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      s AS (SELECT user_id, ts_ms,
          CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM d)
      SELECT user_id, sid, count(*) AS n,
        min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
      FROM s CROSS JOIN m GROUP BY user_id, sid, wm
      HAVING max(ts_ms) + 21600000 <= wm
      ORDER BY user_id, sid""")
  )

  /** Stream-stream interval join — each click joined to the same
    * user's views in the preceding hour, BOTH sides live streams with
    * watermarks and a time-range predicate (the shape Spark needs to
    * bound join state: each side's state is evicted once the watermark
    * passes the interval). Inner-join append emits every match exactly
    * once, so the oracle is the plain batch interval join — what's
    * checked is that the streaming state machinery loses nothing.
    * Sixth equivalence pin; batch face is the q_range_join family.
    */
  val qStreamJoin = Q(
    "q_stream_join",
    (spark, dir) => {
      val name = { counter += 1; s"stream_join_$counter" }
      // one SOURCE branched into both join sides (a self-join): the
      // offset log and file listing are shared, though each side still
      // SCANS its branch (progress metrics show 2x input rows) — the
      // win over a two-source formulation is one source's planning
      // state, not a shared scan
      val src = eventsStream(spark, dir)
        .filter(col("event_type").isin("click", "view"))
      def side(eventType: String, prefix: String) =
        src.filter(col("event_type") === eventType)
          .withColumn(s"${prefix}_time", timestamp_millis(col("ts_ms")))
          .withWatermark(s"${prefix}_time", "1 hour")
          .select(col("user_id").as(s"${prefix}_user"),
            col("event_id").as(s"${prefix}_id"),
            col("ts_ms").as(s"${prefix}_ms"),
            col(s"${prefix}_time"))
      val clicks = side("click", "c")
      val views = side("view", "v")
      val joined = clicks.join(views,
        col("c_user") === col("v_user") &&
          col("v_time") >= col("c_time") - expr("INTERVAL 1 HOUR") &&
          col("v_time") <= col("c_time"))
        .select(col("c_user").as("user_id"), col("c_id"), col("v_id"),
          (col("c_ms") - col("v_ms")).as("lag_ms"))
      val q = joined.writeStream
        .queryName(name)
        .outputMode("append")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).orderBy("user_id", "c_id", "v_id")
    },
    Some("""SELECT c.user_id, c.event_id AS c_id, v.event_id AS v_id,
        epoch_ms(c.ts) - epoch_ms(v.ts) AS lag_ms
      FROM events c JOIN events v
        ON c.user_id = v.user_id
       AND c.event_type = 'click' AND v.event_type = 'view'
       AND epoch_ms(v.ts) >= epoch_ms(c.ts) - 3600000
       AND epoch_ms(v.ts) <= epoch_ms(c.ts)
      ORDER BY c.user_id, c_id, v_id""")
  )

  /** Streaming per-key EWMA through the driver gate — custom keyed
    * ARITHMETIC state (EwmaStream.ewmaStateful): one (ewma, n) per
    * user folded incrementally. Drained AvailableNow the fold sees the
    * full in-order history, so the oracle is the batch full-history
    * fold per user (same dyadic α, same multiply-add shape ⇒
    * bit-identical doubles). Seventh equivalence pin; its batch face
    * is q_ewma's bucketed fold.
    */
  val qStreamEwma = Q(
    "q_stream_ewma",
    (spark, dir) => {
      import spark.implicits._
      val name = { counter += 1; s"stream_ewma_$counter" }
      val src = eventsStream(spark, dir)
        .select(col("user_id").as("key"), col("event_id").as("id"),
          col("ts_ms").as("tsMs"), col("value"))
        .as[graft.stream.EwmaStream.Tick]
      val q = graft.stream.EwmaStream.ewmaStateful(src, alpha = 0.125)
        .toDF()
        .writeStream
        .queryName(name)
        .outputMode("update")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // update mode emits one running row per (key, batch); n is
      // monotone per key, so the final state is the max-n row
      spark.table(name)
        .groupBy(col("key").as("user_id"))
        .agg(max_by(struct(col("ewma")), col("n")).getField("ewma").as("ewma"),
          max(col("n")).as("n_ticks"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
        list_reduce(list(CAST(value AS DOUBLE) ORDER BY epoch_ms(ts), event_id),
          (acc, x) -> acc * 0.875 + x * 0.125) AS ewma,
        count(*) AS n_ticks
      FROM events GROUP BY user_id ORDER BY user_id""")
  )

  /** Streaming Count-Min build through the driver gate: the SAME
    * [[graft.functions.Cms.build]] plan fragment q_heavy_hitters uses
    * batch-side, run as a streaming aggregation (complete mode over
    * the bounded replay) — the live heavy-hitter monitor face of the
    * sketch. The counter matrix a stream accumulates incrementally
    * must equal the batch-built one cell-for-cell (counts are
    * additive), which is exactly what the shared DuckDB oracle
    * hash-checks. Eighth batch/stream equivalence pin. d=4, w=512
    * match q_heavy_hitters; state is bounded by d·w cells regardless
    * of stream length — a sketch is the canonical BOUNDED-state
    * streaming summary, unlike per-key counts.
    */
  val qStreamCms = Q(
    "q_stream_cms",
    (spark, dir) => {
      val name = { counter += 1; s"stream_cms_$counter" }
      val src = eventsStream(spark, dir)
        .select(col("user_id").cast("string").as("key"))
      val q = graft.functions.Cms.build(src, col("key"),
          graft.functions.Cms.DefaultDepth, graft.functions.Cms.DefaultWidth)
        .writeStream
        .queryName(name)
        .outputMode("complete")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).orderBy("i", "b")
    },
    Some(s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
      d AS (SELECT CAST(unnest(generate_series(0, ${graft.functions.Cms.DefaultDepth - 1})) AS INTEGER) AS i),
      incr AS (SELECT i,
          CAST('0x' || substring(md5('c' || i || '|' || key), 1, 15) AS BIGINT)
            % ${graft.functions.Cms.DefaultWidth} AS b
        FROM ev, d)
      SELECT i, b, count(*) AS cnt FROM incr GROUP BY i, b ORDER BY i, b""")
  )

  /** Streaming KMV distinct-count sketch: the custom mergeable
    * KmvAggregator (q_kmv_distinct's engine) run as a STREAMING
    * aggregation — per-group sketch state accumulates across batches
    * through the Aggregator's merge path and must equal the
    * batch-built sketch exactly (k smallest distinct values are
    * arrival-order-invariant). Ninth equivalence pin, and the proof
    * that the typed-Aggregator sketch family carries over to
    * streaming state unchanged: ≤ k longs of state per group, the
    * live "distinct users right now" estimator.
    */
  /** Streaming bottom-k value-sample quantile sketch: the round-8
    * BottomKSampleAggregator (q_quantile_sample's engine) as
    * STREAMING state — per-group sample accumulates across batches
    * through the Aggregator's merge path and must equal the
    * batch-built sample exactly (k smallest (h, v) pairs are
    * arrival-order-invariant), so the nearest-rank quantiles off it
    * hash-check against the same batch oracle. Eleventh equivalence
    * pin, and the proof the quantile sketch serves the LIVE
    * "p50/p95 right now" monitor with ≤ 2k longs of state per group.
    */
  val qStreamQuantile = Q(
    "q_stream_quantile",
    (spark, dir) => {
      val k = 256
      import graft.functions.Sketches
      val name = { counter += 1; s"stream_quantile_$counter" }
      val src = eventsStream(spark, dir)
        .select(col("event_type"),
          Sketches.md5Hash60("q|", col("event_id").cast("string")).as("h"),
          col("value").cast("double").as("v"))
      val q = src.groupBy("event_type")
        .agg(Sketches.bottomKSample(col("h"), col("v"), k).as("kept"))
        .writeStream
        .queryName(name)
        .outputMode("complete")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
        .withColumn("vs", Sketches.sampleValues(col("kept")))
        .select(col("event_type"),
          size(col("vs")).cast("long").as("n_kept"),
          Sketches.sampleQuantile(col("vs"), 0.5).as("p50"),
          Sketches.sampleQuantile(col("vs"), 0.95).as("p95"))
        .orderBy("event_type")
    },
    Some("""WITH b AS (SELECT DISTINCT event_type AS g,
          CAST('0x' || substring(md5('q|' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
          CAST(value AS DOUBLE) AS v
        FROM events),
      r AS (SELECT g, h, v,
          row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn FROM b),
      kept AS (SELECT g, list_sort(list(v)) AS vs
        FROM r WHERE rn <= 256 GROUP BY g)
      SELECT g AS event_type, CAST(len(vs) AS BIGINT) AS n_kept,
        vs[greatest(1, CAST(ceil(0.5 * len(vs)) AS BIGINT))] AS p50,
        vs[greatest(1, CAST(ceil(0.95 * len(vs)) AS BIGINT))] AS p95
      FROM kept ORDER BY event_type""")
  )

  /** Streaming DDSketch-style quantiles (see
    * [[graft.functions.DdSketch]]): the bucket-count table as a
    * STREAMING aggregation — counts accumulate across batches through
    * the agg's merge path and equal the batch-built sketch exactly
    * (bucket counts are a pure multiset function, arrival-order-
    * invariant). The complete-mode memory sink emits the BUCKET
    * TABLE (≤ 90/decade rows — the bounded class, like
    * q_stream_weighted's ≤ k pairs), batch-side extraction walks it.
    * Sixteenth equivalence pin: same oracle as the tail-accurate
    * batch sketch, live "p99 right now" with exact rank walk.
    */
  val qStreamQuantileDd = Q(
    "q_stream_quantile_dd",
    (spark, dir) => {
      import graft.functions.DdSketch
      val name = { counter += 1; s"stream_quantile_dd_$counter" }
      val src = eventsStream(spark, dir)
        .select(col("value").cast("double").as("v"))
        .filter(col("v") > 0)
        .select(DdSketch.dd2Key(col("v")).as("k"))
      val q = src
        .groupBy(col("k.e10").as("e10"), col("k.d2").as("d2"))
        .agg(count(lit(1)).as("c"))
        .writeStream
        .queryName(name)
        .outputMode("complete")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      DdSketch.dd2Quantiles(spark.table(name), Seq(0.5, 0.95, 0.99))
        .orderBy("pct")
    },
    Some("""WITH v AS (SELECT CAST(value AS DOUBLE) AS v
          FROM events WHERE CAST(value AS DOUBLE) > 0),
      b AS (SELECT CAST(string_split(printf('%.17e', v), 'e')[2] AS INT) AS e10,
          CAST(substr(printf('%.17e', v), 1, 1) AS INT) * 10
            + CAST(substr(printf('%.17e', v), 3, 1) AS INT) AS d2,
          count(*) AS c
        FROM v GROUP BY 1, 2),
      cum AS (SELECT e10, d2, c, sum(c) OVER (ORDER BY e10, d2) AS cum FROM b),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM b),
      qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
          CAST(0.99 AS DOUBLE)]) AS pct),
      sel AS (SELECT pct, e10, d2, n,
          row_number() OVER (PARTITION BY pct ORDER BY e10, d2) AS rn
        FROM qs CROSS JOIN tot
        JOIN cum ON cum.cum >= greatest(1, CAST(ceil(pct * n) AS BIGINT)))
      SELECT pct, CAST(concat(d2 // 10, '.', d2 % 10, '5e', e10) AS DOUBLE) AS est, n
      FROM sel WHERE rn = 1 ORDER BY pct""")
  )

  /** Per-GROUP streaming dd2 quantiles — [[qStreamQuantileDd]] keyed
    * by event type (the live per-source p99 monitor). State and
    * emission are (groups × touched buckets) — still the bounded
    * complete-mode class (group cardinality × ≤90/decade).
    * Seventeenth equivalence pin; same oracle as the batch grouped
    * sketch, over events.
    */
  val qStreamQuantileDdGrouped = Q(
    "q_stream_quantile_dd_grouped",
    (spark, dir) => {
      import graft.functions.DdSketch
      val name = { counter += 1; s"stream_quantile_ddg_$counter" }
      val src = eventsStream(spark, dir)
        .select(col("event_type"), col("value").cast("double").as("v"))
        .filter(col("v") > 0)
        .select(col("event_type"), DdSketch.dd2Key(col("v")).as("k"))
      val q = src
        .groupBy(col("event_type"), col("k.e10").as("e10"),
          col("k.d2").as("d2"))
        .agg(count(lit(1)).as("c"))
        .writeStream
        .queryName(name)
        .outputMode("complete")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      DdSketch.dd2QuantilesBy(spark.table(name), Seq("event_type"),
          Seq(0.5, 0.95, 0.99))
        .orderBy("event_type", "pct")
    },
    Some("""WITH v AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
          FROM events WHERE CAST(value AS DOUBLE) > 0),
      b AS (SELECT g,
          CAST(string_split(printf('%.17e', v), 'e')[2] AS INT) AS e10,
          CAST(substr(printf('%.17e', v), 1, 1) AS INT) * 10
            + CAST(substr(printf('%.17e', v), 3, 1) AS INT) AS d2,
          count(*) AS c
        FROM v GROUP BY 1, 2, 3),
      cum AS (SELECT g, e10, d2, c,
          sum(c) OVER (PARTITION BY g ORDER BY e10, d2) AS cum FROM b),
      tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY g),
      qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
          CAST(0.99 AS DOUBLE)]) AS pct),
      sel AS (SELECT t.g, pct, e10, d2, n,
          row_number() OVER (PARTITION BY t.g, pct ORDER BY e10, d2) AS rn
        FROM qs CROSS JOIN tot t
        JOIN cum ON cum.g = t.g
          AND cum.cum >= greatest(1, CAST(ceil(pct * n) AS BIGINT)))
      SELECT g AS event_type, pct,
        CAST(concat(d2 // 10, '.', d2 % 10, '5e', e10) AS DOUBLE) AS est, n
      FROM sel WHERE rn = 1 ORDER BY event_type, pct""")
  )

  /** Streaming grouped top-k: TopKByAggregator (q_topk_grouped's
    * engine) as STREAMING state — the per-group k-best set
    * accumulates across batches through the Aggregator's merge path
    * and equals the batch set exactly ((v DESC, id ASC) is a total
    * order, so k-best is arrival-order-invariant). Twelfth
    * equivalence pin; completes the custom-Aggregator family's
    * streaming coverage (KMV, CMS, bottom-k sample, top-k): the live
    * "best events right now" leaderboard from ≤ 2k longs of state
    * per group.
    */
  val qStreamTopk = Q(
    "q_stream_topk",
    (spark, dir) => {
      val name = { counter += 1; s"stream_topk_$counter" }
      val src = eventsStream(spark, dir)
        .select(col("event_type"), col("event_id"),
          col("value").cast("double").as("v"))
      val q = src.groupBy("event_type")
        .agg(graft.functions.TopK.topKBy(col("v"), col("event_id"), 5).as("kept"))
        .writeStream
        .queryName(name)
        .outputMode("complete")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
        .select(col("event_type"), posexplode(col("kept")).as(Seq("pos", "p")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("p").getField("_2").as("event_id"),
          col("p").getField("_1").as("v"))
        .orderBy("event_type", "rank")
    },
    Some("""SELECT event_type, rank, event_id, v FROM (
        SELECT event_type, event_id, CAST(value AS DOUBLE) AS v,
          row_number() OVER (PARTITION BY event_type
                             ORDER BY value DESC, event_id) AS rank
        FROM events) t
      WHERE rank <= 5 ORDER BY event_type, rank""")
  )

  val qStreamKmv = Q(
    "q_stream_kmv",
    (spark, dir) => {
      val name = { counter += 1; s"stream_kmv_$counter" }
      val src = eventsStream(spark, dir)
        .select(col("event_type"),
          graft.functions.Sketches.md5Hash60("u|",
            col("user_id").cast("string")).as("h"))
      val q = src.groupBy("event_type")
        .agg(graft.functions.Sketches.kmvMins(col("h"), 32).as("kept"))
        .writeStream
        .queryName(name)
        .outputMode("complete")
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
        .select(col("event_type"),
          element_at(col("kept"), -1).as("kth_hash"),
          size(col("kept")).cast("long").as("n_kept"))
        .orderBy("event_type")
    },
    Some("""WITH h AS (SELECT DISTINCT event_type,
          CAST('0x' || substring(md5('u|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        FROM events),
      r AS (SELECT event_type, h,
          row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h)
      SELECT event_type, max(h) AS kth_hash, count(*) AS n_kept
      FROM r WHERE rn <= 32 GROUP BY event_type ORDER BY event_type""")
  )

  /** Stateful-op partition cap for the bounded replays these gates
    * drain (≤100k state rows) — see
    * [[Catalog.withStatePartitions]] for the measured basis.
    */
  private val StatePartitions = 8

  def all: Seq[Q] = Seq(qStreamLatest, qStreamDedup, qStreamWindow,
    qStreamOhlc, qStreamSession, qStreamJoin, qStreamEwma, qStreamCms,
    qStreamKmv, qStreamQuantile, qStreamQuantileDd, qStreamQuantileDdGrouped,
    qStreamTopk)
    .map(q => q.copy(run = (spark, dir) =>
      Catalog.withStatePartitions(spark, StatePartitions)(q.run(spark, dir))))
}
