package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.io.Tables

/** Relational surface (SURVEY.md §2.7) — the operators the reference
  * lacks but a user of this engine gets from Spark, demonstrated on the
  * TPC-H-ish tables.
  *
  * Exact-arithmetic convention: monetary/quantity doubles in the test
  * data carry ≤2 decimal digits, so they convert exactly (and
  * identically in Spark and DuckDB) to decimals; sums/products are then
  * exact and order-independent, and the final cast to double is
  * correctly rounded on both engines → bitwise-stable hash compares.
  */
object RelationalQ {

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))

  /** TPC-H Q1-shaped pricing summary: filter → hash agg with map-side
    * partial aggregation; no join, one shuffle on the 6-row group key.
    */
  val q1Agg = Q(
    "q1_agg",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      val disc = dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"), 12, 2)).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"), 12, 2)).cast("double").as("sum_base_price"),
          sum(disc).cast("double").as("sum_disc_price"),
          sum(disc * (lit(1) + dec(col("l_tax"), 4, 2))).cast("double").as("sum_charge"),
          (sum(dec(col("l_quantity"), 12, 2)).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(dec(col("l_extendedprice"), 12, 2)).cast("double") / count(lit(1))).as("avg_price"),
          (sum(dec(col("l_discount"), 4, 2)).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  )

  /** TPC-H Q5-shaped multi-join aggregation: revenue per nation for one
    * region/year. Join order matters at scale: lineitem⋈orders shuffles
    * on orderkey; customer/supplier/nation/region are dimension-sized
    * and broadcast, so the big fact table shuffles exactly once.
    */
  val qJoinPricing = Q(
    "q_join_pricing",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val ord = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      val cust = Tables.customer(spark, dir)
      val sup = Tables.supplier(spark, dir)
      val nat = Tables.nation(spark, dir)
      val reg = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice"), 12, 2) *
          (lit(1) - dec(col("l_discount"), 4, 2))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")
  )

  /** Window functions: per-customer ranking of orders by price.
    * Keeps only each customer's top-3 — the window shuffles once on
    * custkey; no driver-side work.
    */
  val qWindowRank = Q(
    "q_window_rank",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(spark, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("cume_spend",
          sum(dec(col("o_totalprice"), 12, 2)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .filter(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice", "cume_spend")
        .orderBy("o_custkey", "rk")
    },
    Some("""SELECT o_custkey, rk, o_orderkey, o_totalprice, cume_spend FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER w AS rk,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER
                 (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cume_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) t
      WHERE rk <= 3 ORDER BY o_custkey, rk""")
  )

  /** Global top-k with deterministic tie-break — Spark's sort-limit
    * takes per-partition top-k then merges k×partitions rows on the
    * driver side of the exchange: no full sort at scale.
    */
  val qTopk = Q(
    "q_topk",
    (spark, dir) =>
      Tables.orders(spark, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")
  )

  /** Set operations: INTERSECT and EXCEPT over user populations,
    * tagged and unioned into one result.
    */
  val qSetops = Q(
    "q_setops",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      def users(t: String) =
        ev.filter(col("event_type") === t).select("user_id").distinct()
      val both = users("purchase").intersect(users("error"))
        .withColumn("tag", lit("purchase_and_error"))
      val only = users("purchase").except(users("error"))
        .withColumn("tag", lit("purchase_no_error"))
      both.unionByName(only).select("tag", "user_id").orderBy("tag", "user_id")
    },
    Some("""SELECT 'purchase_and_error' AS tag, user_id FROM
        (SELECT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'error') a
      UNION ALL
      SELECT 'purchase_no_error' AS tag, user_id FROM
        (SELECT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'error') b
      ORDER BY tag, user_id""")
  )

  /** Multiset set ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    * multiplicity (min(l,r) copies / l−r copies per value), the
    * bag-semantics completion of q_setops' distinct variants. Spark
    * plans both as an aggregate counting per-side multiplicities plus
    * a generate — one shuffle on the value, no join.
    */
  val qSetopsAll = Q(
    "q_setops_all",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      def users(t: String) =
        ev.filter(col("event_type") === t).select("user_id")
      val both = users("purchase").intersectAll(users("error"))
        .withColumn("tag", lit("purchase_and_error_all"))
      val only = users("purchase").exceptAll(users("error"))
        .withColumn("tag", lit("purchase_minus_error_all"))
      both.unionByName(only).select("tag", "user_id").orderBy("tag", "user_id")
    },
    Some("""SELECT 'purchase_and_error_all' AS tag, user_id FROM
        (SELECT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT ALL
         SELECT user_id FROM events WHERE event_type = 'error') a
      UNION ALL
      SELECT 'purchase_minus_error_all' AS tag, user_id FROM
        (SELECT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT ALL
         SELECT user_id FROM events WHERE event_type = 'error') b
      ORDER BY tag, user_id""")
  )

  /** ROWS-frame trailing moving average (last 5 rows per user) — the
    * positional-frame sibling of q_running_range's value-defined RANGE
    * frame; deterministic because the per-partition order
    * (ts_ms, event_id) is total. The average is sum/count in double
    * (Spark's avg(decimal) and DuckDB's avg(decimal) return different
    * types — the explicit quotient is engine-portable).
    *
    * Bound of the cumulative form below: the running `sum` of a
    * `decimal(20,6)` is `decimal(30,6)`, which holds 24 integer
    * digits; each addend is below 1e14, so the sum can overflow only
    * past 1e10 rows in one `user_id` partition.
    */
  val qMovingAvg = Q(
    "q_moving_avg",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      // running-frame form of the 5-row trailing sum (round 18, the
      // q_roll_corr device, guide §1.2 "per-task work"): Spark's
      // sliding ROWS frame re-aggregates the whole 5-row buffer per
      // output row (no retract), so the frame sum is computed as the
      // cumulative sum minus its 5-lagged value — O(1)/row, both
      // window passes on the SAME partitioning and sort (one
      // exchange, zero extra sorts). Exact, not approximate: decimal
      // sums are associative, so cum(r) − cum(r−5) IS the frame sum;
      // the frame row count is least(row_number, 5) because the
      // 5-row frame is saturated from row 5 on. value is non-null at
      // the source (a null would make cum−cum read 0 where the frame
      // sum reads NULL); the oracle keeps the direct frame-sum SQL
      // and the driver hash-compares.
      val wLag = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val wCum = wLag.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"),
          sum(col("value").cast("decimal(20,6)")).over(wCum).as("_c"),
          row_number().over(wLag).as("_rn"))
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"),
          (col("_c") - coalesce(lag(col("_c"), 5).over(wLag),
            lit(0).cast("decimal(30,6)"))).cast("double").as("mov_sum"),
          least(col("_rn"), lit(5)).cast("long").as("mov_n"))
        .withColumn("mov_avg", col("mov_sum") / col("mov_n"))
        .orderBy("user_id", "ts_ms", "event_id")
    },
    Some("""SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE) AS mov_sum,
        count(*) OVER w AS mov_n,
        CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
          / (count(*) OVER w) AS mov_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_ms, event_id""")
  )

  /** ROLLUP with grouping indicators; NULL group keys replaced by a
    * sentinel so ordering is engine-independent.
    */
  val qRollup = Q(
    "q_rollup",
    (spark, dir) =>
      Tables.lineitem(spark, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"), 12, 2)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"), col("g_rf"), col("g_ls"))
        .orderBy("returnflag", "linestatus"),
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        coalesce(l_linestatus, 'ALL') AS linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        count(*) AS n,
        CAST(grouping(l_returnflag) AS INT) AS g_rf,
        CAST(grouping(l_linestatus) AS INT) AS g_ls
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus""")
  )

  /** Exact distinct aggregation per group (expand + two-phase agg). */
  val qDistinct = Q(
    "q_distinct",
    (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
        count(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Anti join: customers with no orders (NOT EXISTS). */
  val qAntiJoin = Q(
    "q_anti_join",
    (spark, dir) => {
      val cust = Tables.customer(spark, dir)
      val ev = Tables.events(spark, dir)
      cust.join(ev, col("c_custkey") === col("user_id"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
      ORDER BY c_custkey""")
  )

  /** The same anti join through [[graft.ops.Bloom.antiJoin]] — the
    * exclusion-list shape at 100 TB (opt-out keys, already-ingested
    * ids), where the exclusion side is too big to broadcast as a hash
    * relation: its keys fold into a ~MB sketch, rows the sketch
    * proves unmatched bypass the join map-side, and only the
    * candidate slice enters the exact anti join. No false negatives
    * ⇒ identical result and oracle to q_anti_join.
    */
  val qBloomAnti = Q(
    "q_bloom_anti",
    (spark, dir) =>
      graft.ops.Bloom.antiJoin(
          Tables.customer(spark, dir), col("c_custkey"),
          Tables.events(spark, dir), col("user_id"),
          expectedItems = 1L << 17)
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
      ORDER BY c_custkey""")
  )

  /** Z-order (Morton) layout keys, oracle-checked bit-for-bit: the
    * key a layout write range-partitions and sorts 100 TB tables
    * by, computed here over (user_id, hour) so the engine's curve
    * math is pinned against DuckDB's independent bigint bit ops
    * (shared spread schedule, [[graft.io.Bucketing.zValueSql]]).
    * LayoutSpec measures the file-skipping the key exists for.
    */
  val qZorder = Q(
    "q_zorder",
    (spark, dir) => {
      val hour = expr("ts_ms div 3600000")
      Tables.events(spark, dir).select(
        col("event_id"), col("user_id"), hour.as("hour"),
        graft.io.Bucketing.zValue(col("user_id"), hour).as("zkey"))
        .orderBy("zkey", "event_id")
    },
    Some(s"""SELECT event_id, user_id, epoch_ms(ts) // 3600000 AS hour,
        ${graft.io.Bucketing.zValueSql("user_id", "(epoch_ms(ts) // 3600000)")} AS zkey
      FROM events ORDER BY zkey, event_id""")
  )

  /** 3-dim Morton keys, same bit-for-bit oracle discipline as
    * [[qZorder]] but through the general k-dim interleave
    * ([[graft.io.Bucketing.zValueN]] / zValueNSql — shared extract-
    * shift schedule): (user, hour, minute) clustering for tables whose
    * read traffic predicates on three columns.
    */
  val qZorder3 = Q(
    "q_zorder3",
    (spark, dir) => {
      val hour = expr("ts_ms div 3600000")
      val minute = expr("(ts_ms div 60000) % 60")
      Tables.events(spark, dir).select(
        col("event_id"), col("user_id"),
        hour.as("hour"), minute.as("minute"),
        graft.io.Bucketing.zValueN(Seq(col("user_id"), hour, minute))
          .as("zkey"))
        .orderBy("zkey", "event_id")
    },
    Some(s"""SELECT event_id, user_id, epoch_ms(ts) // 3600000 AS hour,
        (epoch_ms(ts) // 60000) % 60 AS minute,
        ${graft.io.Bucketing.zValueNSql(Seq("user_id",
          "(epoch_ms(ts) // 3600000)", "((epoch_ms(ts) // 60000) % 60)"))} AS zkey
      FROM events ORDER BY zkey, event_id""")
  )

  /** Event-time tumbling-window aggregation via window() — the same
    * groupBy(window(...)) the streaming path uses with a watermark
    * (StreamingSpec covers late-data semantics); batch form is
    * oracle-checked here. Window start in UTC = hour floor of epoch ms.
    */
  val qTimeWindow = Q(
    "q_time_window",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
      ev.groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"), 12, 2)).cast("double").as("sum_value"))
        .select(
          unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start_ms", "event_type")
    },
    Some("""SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS window_start_ms,
        event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY window_start_ms, event_type
      ORDER BY window_start_ms, event_type""")
  )

  /** Exact interpolated percentiles per group — Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition,
    * so values match bitwise on identical sorted inputs.
    */
  val qQuantiles = Q(
    "q_quantiles",
    (spark, dir) =>
      Tables.orders(spark, dir)
        .groupBy("o_orderpriority")
        .agg(
          percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.95)).as("p95"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
        quantile_cont(o_totalprice, 0.5) AS p50,
        quantile_cont(o_totalprice, 0.95) AS p95,
        min(o_totalprice) AS lo, max(o_totalprice) AS hi
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** Sketch surface: HLL distinct + approximate percentile. Sketch
    * internals are engine-specific, so there is no DuckDB oracle —
    * the driver records the weaker rows-present check; the exact
    * counterparts (q_distinct, q_quantiles) are the correctness pins.
    */
  val qApproxSketch = Q(
    "q_approx_sketch",
    (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          approx_percentile(col("value"), lit(0.5), lit(1000)).as("approx_p50"))
        .orderBy("event_type"),
    None
  )

  /** KMV (k-minimum-values) distinct-count sketch — the DETERMINISTIC
    * sketch next to q_approx_sketch's HLL: k smallest md5-derived
    * 60-bit hashes per group, estimate (k−1)·2⁶⁰/kth_hash (exact count
    * when fewer than k values seen), reported against the exact
    * distinct count. Unlike HLL the estimator is engine-portable, so
    * the oracle hash-checks it. Plan: the custom mergeable
    * KmvAggregator (graft.functions.Sketches) keeps the k smallest
    * distinct hashes in a primitive buffer that partial-aggregates
    * map-side — ONE shuffle carrying ≤ k longs per (partition, group),
    * no distinct pre-shuffle, no window sort. The k smallest distinct
    * values are partitioning-invariant, so the sort-based oracle
    * checks the identical result.
    */
  val qKmvDistinct = Q(
    "q_kmv_distinct",
    (spark, dir) => {
      val k = 32
      val ev = Tables.events(spark, dir)
      val h = graft.functions.Sketches.md5Hash60("u|",
        col("user_id").cast("string"))
      val sk = ev.select(col("event_type"), h.as("h"))
        .groupBy("event_type")
        .agg(graft.functions.Sketches.kmvMins(col("h"), k).as("kept"))
        .select(col("event_type"),
          element_at(col("kept"), -1).as("kth_hash"),
          size(col("kept")).cast("long").as("n_kept"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      sk.join(exact, Seq("event_type"))
        .withColumn("est_kmv",
          when(col("n_kept") < k, col("n_kept").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0) /
              col("kth_hash").cast("double")))
        .select("event_type", "n_exact", "n_kept", "kth_hash", "est_kmv")
        .orderBy("event_type")
    },
    Some("""WITH h AS (SELECT DISTINCT event_type,
          CAST('0x' || substring(md5('u|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        FROM events),
      r AS (SELECT event_type, h,
          row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h),
      sk AS (SELECT event_type, max(h) AS kth_hash, count(*) AS n_kept
        FROM r WHERE rn <= 32 GROUP BY event_type),
      ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type)
      SELECT s.event_type, ex.n_exact, s.n_kept, s.kth_hash,
        CASE WHEN s.n_kept < 32 THEN CAST(s.n_kept AS DOUBLE)
             ELSE (31.0 * 1152921504606846976.0) / CAST(s.kth_hash AS DOUBLE)
        END AS est_kmv
      FROM sk s JOIN ex USING (event_type)
      ORDER BY event_type""")
  )

  /** Bottom-k value-sample QUANTILE sketch (see
    * [[graft.functions.BottomKSampleAggregator]]) — the deterministic
    * mergeable percentile primitive next to q_quantiles' exact
    * percentile (which needs the whole group's values) and
    * q_approx_sketch's approx_percentile (engine-specific internals,
    * no oracle). The kept set — k lexicographically smallest
    * (md5-hash-of-id, value) pairs — is a uniform row sample both
    * engines derive identically, and the nearest-rank estimate off it
    * is one of the sampled doubles, so the whole estimate
    * hash-checks. One hash agg, ≤ 2k longs of state per group; exact
    * below k rows (the sample IS the group). Rank error O(n/√k) whp;
    * k = 256 ⇒ ~6 %.
    */
  val qQuantileSample = Q(
    "q_quantile_sample",
    (spark, dir) => {
      val k = 256
      import graft.functions.Sketches
      val h = Sketches.md5Hash60("qs|", col("o_orderkey").cast("string"))
      Tables.orders(spark, dir)
        .select(col("o_orderpriority"), h.as("h"),
          col("o_totalprice").cast("double").as("v"))
        .groupBy("o_orderpriority")
        .agg(Sketches.bottomKSample(col("h"), col("v"), k).as("kept"))
        .withColumn("vs", Sketches.sampleValues(col("kept")))
        .select(col("o_orderpriority"),
          size(col("vs")).cast("long").as("n_kept"),
          Sketches.sampleQuantile(col("vs"), 0.5).as("p50"),
          Sketches.sampleQuantile(col("vs"), 0.95).as("p95"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH b AS (SELECT DISTINCT o_orderpriority AS g,
          CAST('0x' || substring(md5('qs|' || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h,
          CAST(o_totalprice AS DOUBLE) AS v
        FROM orders),
      r AS (SELECT g, h, v,
          row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn FROM b),
      kept AS (SELECT g, list_sort(list(v)) AS vs
        FROM r WHERE rn <= 256 GROUP BY g)
      SELECT g AS o_orderpriority, CAST(len(vs) AS BIGINT) AS n_kept,
        vs[greatest(1, CAST(ceil(0.5 * len(vs)) AS BIGINT))] AS p50,
        vs[greatest(1, CAST(ceil(0.95 * len(vs)) AS BIGINT))] AS p95
      FROM kept ORDER BY o_orderpriority""")
  )

  /** Quantile-sketch ROLLUP — q_kmv_rollup's
    * store-sketches-per-partition pattern for PERCENTILES: sketches
    * built per (priority, shard) merge via union-take-k (an
    * associative+commutative+idempotent fold, so collect_list's order
    * cannot perturb it) into whole-group sketches with no second pass
    * over rows. The oracle computes the DIRECT single-pass sketch —
    * the rollup identity (merged ≡ direct) is itself what's verified
    * cross-engine. At 100 TB: per-day 2k-long sketches persist; any
    * window's p50/p95/p99 is a fold over its days.
    */
  val qQuantileRollup = Q(
    "q_quantile_rollup",
    (spark, dir) => {
      val k = 256
      import graft.functions.Sketches
      val h = Sketches.md5Hash60("qs|", col("o_orderkey").cast("string"))
      val sharded = Tables.orders(spark, dir)
        .select(col("o_orderpriority"), pmod(col("o_orderkey"), lit(12)).as("shard"),
          h.as("h"), col("o_totalprice").cast("double").as("v"))
        .groupBy("o_orderpriority", "shard")
        .agg(Sketches.bottomKSample(col("h"), col("v"), k).as("kept"))
      sharded.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_shards"),
          aggregate(collect_list(col("kept")),
            array().cast("array<struct<_1:bigint,_2:double>>"),
            (acc, x) => Sketches.sampleMerge(acc, x, k)).as("merged"))
        .withColumn("vs", Sketches.sampleValues(col("merged")))
        .select(col("o_orderpriority"), col("n_shards"),
          size(col("vs")).cast("long").as("n_kept"),
          Sketches.sampleQuantile(col("vs"), 0.5).as("p50"),
          Sketches.sampleQuantile(col("vs"), 0.99).as("p99"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH b AS (SELECT DISTINCT o_orderpriority AS g,
          CAST('0x' || substring(md5('qs|' || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h,
          CAST(o_totalprice AS DOUBLE) AS v
        FROM orders),
      r AS (SELECT g, h, v,
          row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn FROM b),
      kept AS (SELECT g, list_sort(list(v)) AS vs
        FROM r WHERE rn <= 256 GROUP BY g),
      sh AS (SELECT o_orderpriority AS g,
          count(DISTINCT o_orderkey % 12) AS n_shards
        FROM orders GROUP BY o_orderpriority)
      SELECT g AS o_orderpriority, sh.n_shards,
        CAST(len(vs) AS BIGINT) AS n_kept,
        vs[greatest(1, CAST(ceil(0.5 * len(vs)) AS BIGINT))] AS p50,
        vs[greatest(1, CAST(ceil(0.99 * len(vs)) AS BIGINT))] AS p99
      FROM kept JOIN sh USING (g) ORDER BY o_orderpriority""")
  )

  /** Tail-accurate DDSketch-style quantiles (see
    * [[graft.functions.DdSketch]]) — the verdict-#6 compactor
    * decision, shipped: deterministic engine-exact log-bucket sketch
    * with a RELATIVE-VALUE-error guarantee (≤ 0.5/d2, worst 5%),
    * where the bottom-k uniform sample (q_quantile_sample) is
    * tail-blind at fixed k. The rank walk is EXACT (bucket counts are
    * exact), so p99 on arbitrarily skewed data lands in the right
    * bucket; state is the touched-bucket table (≤ 90/decade),
    * mergeable by count addition (SketchSpec pins rollup identity +
    * the error bound on pareto/lognormal). The oracle reproduces the
    * whole sketch — %.17e bucketing, cumulative walk, string-decimal
    * midpoint — hash-exactly, which randomized-compaction KLL can
    * never offer.
    */
  val qQuantileDd = Q(
    "q_quantile_dd",
    (spark, dir) => {
      import graft.functions.DdSketch
      val b = DdSketch.dd2Buckets(
        Tables.orders(spark, dir).filter(col("o_totalprice") > 0),
        col("o_totalprice"))
      DdSketch.dd2Quantiles(b, Seq(0.5, 0.95, 0.99)).orderBy("pct")
    },
    Some("""WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v
          FROM orders WHERE o_totalprice > 0),
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

  /** Per-group dd2 quantiles (see
    * [[graft.functions.DdSketch.dd2BucketsBy]]): the tail-accurate
    * sketch keyed by order priority — the per-source/per-tenant p99
    * shape. One partial-agged shuffle builds every group's bucket
    * table at once; extraction walks each group's exact counts.
    * Same engine-exact oracle machinery with PARTITION BY.
    */
  val qQuantileDdGrouped = Q(
    "q_quantile_dd_grouped",
    (spark, dir) => {
      import graft.functions.DdSketch
      val b = DdSketch.dd2BucketsBy(
        Tables.orders(spark, dir).filter(col("o_totalprice") > 0),
        Seq("o_orderpriority"), col("o_totalprice"))
      DdSketch.dd2QuantilesBy(b, Seq("o_orderpriority"), Seq(0.5, 0.95, 0.99))
        .orderBy("o_orderpriority", "pct")
    },
    Some("""WITH v AS (SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
          FROM orders WHERE o_totalprice > 0),
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
      SELECT g AS o_orderpriority, pct,
        CAST(concat(d2 // 10, '.', d2 % 10, '5e', e10) AS DOUBLE) AS est, n
      FROM sel WHERE rn = 1 ORDER BY o_orderpriority, pct""")
  )

  /** dd2 sketch ROLLUP — q_kmv_rollup's store-sketches-per-partition
    * pattern for the tail-accurate quantiles: bucket tables built per
    * shard merge by COUNT ADDITION (associative+commutative, merge-
    * order-free) into the whole-corpus sketch with no second pass
    * over rows. The oracle computes the DIRECT single-pass sketch —
    * the rollup identity (merged ≡ direct) is itself what's verified
    * cross-engine, exactly as with KMV. At 100 TB: per-day bucket
    * tables persist (≤ 90/decade rows each); any window's p99 is a
    * count-sum over its days.
    */
  val qQuantileDdRollup = Q(
    "q_quantile_dd_rollup",
    (spark, dir) => {
      import graft.functions.DdSketch
      val df = Tables.orders(spark, dir).filter(col("o_totalprice") > 0)
        .withColumn("shard", pmod(col("o_orderkey"), lit(12)))
      val perShard = DdSketch.dd2BucketsBy(df, Seq("shard"),
        col("o_totalprice"))
      val merged = perShard.groupBy("e10", "d2").agg(sum(col("c")).as("c"))
      DdSketch.dd2Quantiles(merged, Seq(0.5, 0.95, 0.99)).orderBy("pct")
    },
    Some("""WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v
          FROM orders WHERE o_totalprice > 0),
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

  /** KMV sketch ROLLUP — the store-sketches-per-partition pattern: a
    * sketch is built per (event_type, hour), then whole-range
    * estimates come from MERGING the hourly sketches (HOF fold over
    * kmvMerge) with no second pass over the rows. The k smallest of a
    * union equal the k smallest of the per-part k-mins, and the merge
    * is associative+commutative+idempotent, so collect_list's
    * nondeterministic order cannot perturb the result — the oracle
    * checks the merged sketch against the sketch a single global pass
    * builds, making the rollup identity itself the thing verified
    * cross-engine. At 100 TB this is how distinct-count serves any
    * time window: per-day sketches persist (≤ k longs each) and any
    * window is a fold over its days.
    */
  val qKmvRollup = Q(
    "q_kmv_rollup",
    (spark, dir) => {
      val k = 32
      val ev = Tables.events(spark, dir)
      val h = graft.functions.Sketches.md5Hash60("u|",
        col("user_id").cast("string"))
      val hourly = ev
        .select(col("event_type"), expr("ts_ms div 3600000").as("hour"), h.as("h"))
        .groupBy("event_type", "hour")
        .agg(graft.functions.Sketches.kmvMins(col("h"), k).as("kept"))
      hourly.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          aggregate(collect_list(col("kept")),
            array().cast("array<bigint>"),
            (acc, x) => graft.functions.Sketches.kmvMerge(acc, x, k))
            .as("merged"))
        .withColumn("est_kmv", graft.functions.Sketches.kmvEstimate(
          col("merged"), k, graft.functions.Sketches.Domain60))
        .select(col("event_type"), col("n_hours"),
          element_at(col("merged"), -1).as("kth_hash"),
          size(col("merged")).cast("long").as("n_kept"), col("est_kmv"))
        .orderBy("event_type")
    },
    Some("""WITH h AS (SELECT DISTINCT event_type,
          CAST('0x' || substring(md5('u|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        FROM events),
      r AS (SELECT event_type, h,
          row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h),
      sk AS (SELECT event_type, max(h) AS kth_hash, count(*) AS n_kept
        FROM r WHERE rn <= 32 GROUP BY event_type),
      hrs AS (SELECT event_type,
          count(DISTINCT epoch_ms(ts) // 3600000) AS n_hours
        FROM events GROUP BY event_type)
      SELECT s.event_type, hrs.n_hours, s.kth_hash, s.n_kept,
        CASE WHEN s.n_kept < 32 THEN CAST(s.n_kept AS DOUBLE)
             ELSE (31.0 * 1152921504606846976.0) / CAST(s.kth_hash AS DOUBLE)
        END AS est_kmv
      FROM sk s JOIN hrs USING (event_type)
      ORDER BY event_type""")
  )

  private val CmsDepth = graft.functions.Cms.DefaultDepth
  private val CmsWidth = graft.functions.Cms.DefaultWidth
  private val HhTopN = 50

  /** Count-Min-Sketch heavy hitters — the mergeable frequency summary
    * next to [[qKmvDistinct]]'s distinct-count sketch: every event
    * increments d=4 md5-salted buckets out of w=512, the d×w counter
    * table partial-aggregates map-side (the exchange carries ≤ d·w
    * rows per partition regardless of corpus size), and a point query
    * for any key is the min over its d buckets — a guaranteed
    * OVERestimate with error ≤ εN (ε = e/w) at confidence 1−e^−d.
    * The query reports the top-N keys by exact count alongside their
    * CMS estimate and the overcount, pinning est ≥ exact row-by-row.
    * Like the KMV sketch the hashing is deterministic md5, so DuckDB
    * rebuilds the identical sketch and the oracle hash-checks it.
    * 100 TB shape: the sketch build is map-only + a tiny fixed-size
    * exchange; per-day/per-shard sketches ADD cell-wise into any
    * window's sketch without rescanning (CMS is a counter matrix), and
    * the candidate probe joins the broadcast d×w table. At this SF the
    * candidate set is every distinct key (so the overcount is
    * verifiable); at scale it is a prior round's survivors or a fixed
    * watchlist.
    */
  val qHeavyHitters = Q(
    "q_heavy_hitters",
    (spark, dir) => {
      import graft.functions.Cms
      val ev = Tables.events(spark, dir)
        .select(col("user_id").cast("string").as("key"))
      val cms = Cms.build(ev, col("key"), CmsDepth, CmsWidth)
      val cand = ev.groupBy("key").agg(count(lit(1)).as("n_exact"))
      Cms.estimate(cand, cms, col("key"), CmsDepth, CmsWidth)
        .withColumn("over_count", col("est_cms") - col("n_exact"))
        .orderBy(col("n_exact").desc, col("key"))
        .limit(HhTopN)
    },
    Some(s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
      d AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS i),
      incr AS (SELECT i,
          CAST('0x' || substring(md5('c' || i || '|' || key), 1, 15) AS BIGINT)
            % $CmsWidth AS b
        FROM ev, d),
      cms AS (SELECT i, b, count(*) AS cnt FROM incr GROUP BY i, b),
      cand AS (SELECT key, count(*) AS n_exact FROM ev GROUP BY key),
      kb AS (SELECT key, n_exact, i,
          CAST('0x' || substring(md5('c' || i || '|' || key), 1, 15) AS BIGINT)
            % $CmsWidth AS b
        FROM cand, d),
      est AS (SELECT key, n_exact, min(COALESCE(cnt, 0)) AS est_cms
        FROM kb LEFT JOIN cms USING (i, b) GROUP BY key, n_exact)
      SELECT key, n_exact, est_cms, est_cms - n_exact AS over_count
      FROM est ORDER BY n_exact DESC, key LIMIT $HhTopN""")
  )

  /** Order-insensitive per-group table checksum — the dataset
    * fingerprint a migration/reconciliation pipeline compares across
    * systems without moving rows: 56-bit md5-derived row hash, summed
    * mod 2^56 (addition commutes ⇒ partition/order-proof; sums run in
    * decimal so ANSI int64 overflow can't bite). One partial+final agg,
    * O(1) result per group. Row repr uses only exactly-representable
    * columns (ints/strings) — float formatting is not portable.
    */
  val qChecksum = Q(
    "q_checksum",
    (spark, dir) => {
      val rowRepr = concat_ws("|",
        col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type"), col("ts_ms").cast("string"))
      val h = conv(substring(md5(rowRepr.cast("binary")), 1, 14), 16, 10)
        .cast("long")
      Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          (sum(h.cast("decimal(20,0)")) % lit(graft.ops.Dedup.MinhashMod))
            .cast("long").as("checksum"))
        .orderBy("event_type")
    },
    Some(s"""WITH h AS (SELECT event_type,
          CAST('0x' || substring(md5(
            CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
            || '|' || event_type || '|' || CAST(epoch_ms(ts) AS VARCHAR)
          ), 1, 14) AS BIGINT) AS h
        FROM events)
      SELECT event_type, count(*) AS n_rows,
        CAST(sum(h) % ${graft.ops.Dedup.MinhashMod} AS BIGINT) AS checksum
      FROM h GROUP BY event_type ORDER BY event_type""")
  )

  /** TPC-H Q3-shaped shipping priority: selective dimension filter
    * broadcast into a fact-fact join, exact-decimal revenue agg, top-10
    * with deterministic tie-break. The plan to want at scale: customer
    * (filtered, small) broadcasts; orders⋈lineitem is the one real
    * shuffle, on the join key both sides; TakeOrderedAndProject caps
    * the result driver-side at k rows, never the full agg.
    */
  val q3Shipping = Q(
    "q3_shipping",
    (spark, dir) => {
      val cutoff = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      val cust = Tables.customer(spark, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(spark, dir)
        .filter(col("o_orderdate") < lit(cutoff))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") > lit(cutoff))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val disc = dec(col("l_extendedprice"), 12, 2) *
        (lit(1) - dec(col("l_discount"), 4, 2))
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        // orders carries TIMESTAMP_NTZ; the UTC session makes the cast
        // to (LTZ) timestamp an identity, and unix_millis needs LTZ
        .groupBy(col("l_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
          col("o_orderpriority"))
        .agg(sum(disc).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        o_orderpriority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, l_orderkey LIMIT 10""")
  )

  /** TPC-H Q13-shaped customer order-count distribution: LEFT join with
    * the filter INSIDE the join condition (customers with no qualifying
    * orders must count as zero, so the predicate cannot be a post-join
    * WHERE), then a distribution over the per-customer counts. Two
    * shuffles: counts on c_custkey, histogram on c_count.
    */
  val q13Custdist = Q(
    "q13_custdist",
    (spark, dir) => {
      val cust = Tables.customer(spark, dir).select("c_custkey")
      val ord = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      val perCust = cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
          AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      SELECT c_count, count(*) AS custdist FROM per_cust
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")
  )

  /** Calendar-day rollup: date_trunc in an explicit UTC session —
    * calendar semantics (not epoch-bucket arithmetic like
    * q_time_window), the daily-partition shape every retention/
    * reporting pipeline needs. Day key carried as an epoch-ms bigint
    * per the parity conventions (DATE columns hash differently across
    * engines).
    */
  val qDateRollup = Q(
    "q_date_rollup",
    (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("day_ms",
          unix_millis(date_trunc("DAY", timestamp_millis(col("ts_ms")))))
        .groupBy("day_ms", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_v"))
        .orderBy("day_ms", "event_type"),
    Some("""SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, event_type,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_v
      FROM events
      GROUP BY 1, 2 ORDER BY day_ms, event_type""")
  )

  /** Pivot: per-user event counts spread across event-type columns.
    * Spark compiles pivot to conditional aggregation — the oracle IS
    * that formulation.
    */
  val qPivot = Q(
    "q_pivot",
    (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id"),
    Some("""SELECT user_id,
        count(*) FILTER (event_type = 'click') AS click,
        count(*) FILTER (event_type = 'error') AS error,
        count(*) FILTER (event_type = 'purchase') AS purchase,
        count(*) FILTER (event_type = 'signup') AS signup,
        count(*) FILTER (event_type = 'view') AS view
      FROM events GROUP BY user_id ORDER BY user_id""")
  )

  /** Sessionization: session_window with a 6h inactivity gap (same
    * operator the streaming path uses for session state). Boundary
    * semantics (new session when diff ≥ gap, i.e. windows are
    * [t, t+gap)) reproduced in the oracle via lag + cumulative breaks.
    */
  val qSessionize = Q(
    "q_sessionize",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(spark, dir)
        .withColumn("t", timestamp_millis(col("ts_ms")))
      val sess = ev.groupBy(col("user_id"), session_window(col("t"), "6 hours"))
        .agg(count(lit(1)).as("n"),
          min(col("ts_ms")).as("start_ms"),
          max(col("ts_ms")).as("end_ms"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("start_ms"))
      sess.withColumn("sid", row_number().over(w).cast("long"))
        .select("user_id", "sid", "n", "start_ms", "end_ms")
        .orderBy("user_id", "sid")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
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
      FROM s GROUP BY user_id, sid ORDER BY user_id, sid""")
  )

  /** Full CUBE over two dimensions with grouping flags — completes the
    * grouping-sets family next to q_rollup (all four subtotal combos,
    * nulls pinned via coalesce so cross-engine null ordering cannot
    * diverge).
    */
  val qCube = Q(
    "q_cube",
    (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("ub", col("user_id") % 3)
        .cube(col("event_type"), col("ub"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_v"),
          grouping(col("event_type")).cast("int").as("g_et"),
          grouping(col("ub")).cast("int").as("g_ub"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("ub"), lit(-1L)).as("ub"),
          col("n"), col("sum_v"), col("g_et"), col("g_ub"))
        // g_et/g_ub in the sort keys: if the data ever contains a
        // literal 'ALL' event_type (or NULL rows coalesced onto -1),
        // subtotal rows would tie with data rows under the coalesced
        // labels alone, and cross-engine order within ties is undefined
        .orderBy("event_type", "ub", "g_et", "g_ub"),
    Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
        coalesce(user_id % 3, -1) AS ub,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_v,
        CAST(grouping(event_type) AS INT) AS g_et,
        CAST(grouping(user_id % 3) AS INT) AS g_ub
      FROM events
      GROUP BY CUBE (event_type, user_id % 3)
      ORDER BY event_type, ub, g_et, g_ub""")
  )

  /** Navigation/distribution window functions (lag, lead, ntile,
    * cume_dist) over the per-user event timeline — the remaining
    * window-function families next to q_window_rank's ranking set.
    */
  val qWindowNav = Q(
    "q_window_nav",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .withColumn("next_v", lead(col("value"), 1).over(w))
        .withColumn("delta_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .withColumn("cd", cume_dist().over(w))
        .orderBy("user_id", "ts_ms", "event_id")
    },
    Some("""SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        lag(value) OVER w AS prev_v,
        lead(value) OVER w AS next_v,
        epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS delta_ms,
        CAST(ntile(4) OVER w AS BIGINT) AS tile,
        cume_dist() OVER w AS cd
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      ORDER BY user_id, ts_ms, event_id""")
  )

  /** Snapshot diff: keep-last state at two event-time cutoffs,
    * reconciled by FULL OUTER join — added / changed / same per key
    * (the incremental-dataset-diff primitive; also the catalog's
    * full-outer coverage). Cutoffs derive from min/max event time via
    * integer floor-division so both engines compute identical
    * constants (double→bigint casts round differently across
    * engines).
    */
  val qSnapshotDiff = Q(
    "q_snapshot_diff",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select("user_id", "event_id", "ts_ms", "value")
      val bounds = ev.agg(min(col("ts_ms")).as("mn"), max(col("ts_ms")).as("mx"))
      val withCuts = ev.crossJoin(broadcast(bounds))
        .withColumn("cut_a", expr("mn + (mx - mn) div 4"))
        .withColumn("cut_b", expr("mn + (mx - mn) div 2"))
      def latestAt(cutCol: String, tag: String) =
        graft.ops.Latest.keepLastPerKey(
          withCuts.filter(col("ts_ms") <= col(cutCol)),
          Seq("user_id"), Seq("ts_ms", "event_id"))
          .select(col("user_id"), col("event_id").as(s"${tag}_event_id"))
      val a = latestAt("cut_a", "a")
      val b = latestAt("cut_b", "b")
      a.join(b, Seq("user_id"), "full")
        .withColumn("status",
          when(col("a_event_id").isNull, "added")
            .when(col("b_event_id").isNull, "removed")
            .when(col("a_event_id") =!= col("b_event_id"), "changed")
            .otherwise("same"))
        .select("user_id", "a_event_id", "b_event_id", "status")
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      bounds AS (SELECT min(ts_ms) AS mn, max(ts_ms) AS mx FROM e),
      cuts AS (SELECT mn + (mx - mn) // 4 AS cut_a,
                      mn + (mx - mn) // 2 AS cut_b FROM bounds),
      a AS (SELECT user_id, event_id AS a_event_id FROM (
          SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
            ORDER BY ts_ms DESC, event_id DESC) AS rn
          FROM e, cuts WHERE ts_ms <= cut_a) t WHERE rn = 1),
      b AS (SELECT user_id, event_id AS b_event_id FROM (
          SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
            ORDER BY ts_ms DESC, event_id DESC) AS rn
          FROM e, cuts WHERE ts_ms <= cut_b) t WHERE rn = 1)
      SELECT user_id, a_event_id, b_event_id,
        CASE WHEN a_event_id IS NULL THEN 'added'
             WHEN b_event_id IS NULL THEN 'removed'
             WHEN a_event_id <> b_event_id THEN 'changed'
             ELSE 'same' END AS status
      FROM a FULL JOIN b USING (user_id)
      ORDER BY user_id""")
  )

  /** Sliding event-time windows (10 min wide, 5 min slide): each event
    * lands in width/slide windows; Spark's `window()` generator vs an
    * oracle that unnests the two aligned window starts per event.
    * Same shape Structured Streaming uses for sliding aggregations —
    * batch here so the oracle can check it exactly.
    */
  val qSlideWindow = Q(
    "q_slide_window",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .withColumn("t", timestamp_millis(col("ts_ms")))
      ev.groupBy(window(col("t"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_v"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_v"))
        .orderBy("w_start", "event_type")
    },
    Some("""WITH e AS (SELECT epoch_ms(ts) AS t, event_type, value FROM events),
      w AS (SELECT t, event_type, value,
          unnest([(t // 300000) * 300000, (t // 300000) * 300000 - 300000]) AS w_start
        FROM e)
      SELECT w_start, event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_v
      FROM w WHERE t >= w_start AND t < w_start + 600000
      GROUP BY w_start, event_type ORDER BY w_start, event_type""")
  )

  /** RANGE-frame running aggregates: per-user trailing-5s count and
    * sum — the frame is defined by the ORDER BY value (ts_ms), not row
    * position, so duplicate timestamps land in the same frame on both
    * engines (a ROWS frame would be nondeterministic under ts ties).
    * Scale shape: one shuffle on user_id, then a per-partition sort +
    * sliding frame scan — the same plan a 1000-executor run wants.
    *
    * Bound of the cumulative form below: the running `sum` of a
    * `decimal(20,6)` is `decimal(30,6)`, which holds 24 integer
    * digits; each addend is below 1e14, so the sum can overflow only
    * past 1e10 rows in one `user_id` partition.
    */
  val qRunningRange = Q(
    "q_running_range",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      // running-frame form of the trailing-5s RANGE frame (round 18,
      // the q_roll_corr device adapted to a value-defined frame):
      // Spark's sliding RANGE frame re-aggregates every row's whole
      // trailing window (SlidingWindowFunctionFrame has no retract —
      // O(frame)/row, and a 5 s frame at tick density is unbounded
      // work per row at scale), while a frame with an UNBOUNDED lower
      // bound is evaluated by the growing-frame processor, which only
      // ever ADDS rows as the upper bound advances — O(1)/row
      // amortized. So each trailing aggregate is the difference of
      // two growing frames on the same partitioning and sort:
      // [unbounded, current] minus [unbounded, ts−5001] (rows at
      // exactly ts−5000 belong to the trailing frame, so the
      // before-frame ends one millisecond earlier). Exact: decimal
      // sums are associative and counts are integers; both frames sit
      // in ONE Window node (same partition/order spec), one exchange,
      // zero extra sorts. value is non-null at the source (a null
      // would make cum−cum read 0 where the frame sum reads NULL);
      // the oracle keeps the direct RANGE-frame SQL and the driver
      // hash-compares.
      val wAll = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wBefore = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
        .rangeBetween(Window.unboundedPreceding, -5001L)
      val x = col("value").cast("decimal(20,6)")
      Tables.events(spark, dir)
        // both window exprs in ONE select: a withColumn chain interposes
        // the decimal-cast Project between two Window nodes, blocking
        // CollapseWindow — fused, the plan is a single Window pass
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"),
          (count(lit(1)).over(wAll) - count(lit(1)).over(wBefore))
            .as("run_cnt"),
          (sum(x).over(wAll) - coalesce(sum(x).over(wBefore),
            lit(0).cast("decimal(30,6)"))).cast("double").as("run_sum"))
        .orderBy("user_id", "ts_ms", "event_id")
    },
    Some("""SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        count(*) OVER w AS run_cnt,
        CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE) AS run_sum
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_ms, event_id""")
  )

  /** Rolling autocorrelation — per-user Pearson corr of value vs its
    * lag over a trailing 20-row frame, the mean-reversion signal next
    * to q_zscore/q_robust_z. Exactness via q_stats_moments' scheme:
    * integer-scaled decimal power sums (the 100-factors cancel in the
    * ratio), cast to double only once per sum (all magnitudes ≪ 2⁵³ ⇒
    * exact), ratio arithmetic in identically-shaped double exprs both
    * engines; zero-variance frames yield NULL by an identical guard.
    * Scale shape: lag + filter + five frame sums share ONE shuffle and
    * sort on user_id — the filter between the two Window nodes
    * preserves partitioning and order, so no second exchange.
    *
    * Frame sums are computed as CUMULATIVE sums minus their 20-lagged
    * cumulative sums (round 17, guide §1.2 "per-task work"): Spark's
    * sliding ROWS frame re-aggregates the whole 20-row buffer per
    * output row (no retract support), i.e. 20×5 decimal adds per row;
    * the running-frame form is O(1) per row, and both window passes
    * (cums, then their lags) sit on the SAME partitioning and sort —
    * still one exchange, zero extra sorts. Equality is exact, not
    * approximate: decimal integer sums are associative, so
    * cum(r) − cum(r−20) IS the 20-row frame sum value for value; the
    * cumulative magnitude stays within decimal(38,0) for any
    * realistic per-user history (|partition| ≲ 1e9 rows at these
    * scales). The oracle keeps the direct frame-sum formulation and
    * the driver hash-compares.
    */
  val qRollCorr = Q(
    "q_roll_corr",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wLag = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val wCum = wLag.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val x0 = (dec(col("value"), 12, 2) * lit(100).cast("decimal(3,0)"))
        .cast("decimal(14,0)")
      def fr(c: org.apache.spark.sql.Column, lagged: org.apache.spark.sql.Column) =
        (c - coalesce(lagged, lit(0))).cast("double")
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts_ms"), x0.as("x0"))
        .withColumn("y0", lag(col("x0"), 1).over(wLag))
        .filter(col("y0").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          least(row_number().over(wLag), lit(20)).cast("long").as("n"),
          sum(col("x0")).over(wCum).as("cx"),
          sum(col("y0")).over(wCum).as("cy"),
          sum(col("x0") * col("x0")).over(wCum).as("cxx"),
          sum(col("y0") * col("y0")).over(wCum).as("cyy"),
          sum(col("x0") * col("y0")).over(wCum).as("cxy"))
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("n"),
          fr(col("cx"), lag(col("cx"), 20).over(wLag)).as("sx"),
          fr(col("cy"), lag(col("cy"), 20).over(wLag)).as("sy"),
          fr(col("cxx"), lag(col("cxx"), 20).over(wLag)).as("sxx"),
          fr(col("cyy"), lag(col("cyy"), 20).over(wLag)).as("syy"),
          fr(col("cxy"), lag(col("cxy"), 20).over(wLag)).as("sxy"))
        .withColumn("autocorr",
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
              (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy")))))
        .select("user_id", "event_id", "ts_ms", "n", "autocorr")
        // the two window passes sit above the last shuffle: barrier
        // the sort so the range sampler reads shuffle files instead
        // of re-running them (see Catalog.barrierSort)
        .transform(Catalog.barrierSort(_, "user_id", "ts_ms", "event_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0)) AS x0
        FROM events),
      l AS (SELECT *, lag(x0) OVER (PARTITION BY user_id
          ORDER BY ts_ms, event_id) AS y0 FROM e),
      f AS (SELECT * FROM l WHERE y0 IS NOT NULL),
      s AS (SELECT user_id, event_id, ts_ms,
          count(*) OVER w AS n,
          CAST(sum(x0) OVER w AS DOUBLE) AS sx,
          CAST(sum(y0) OVER w AS DOUBLE) AS sy,
          CAST(sum(x0*x0) OVER w AS DOUBLE) AS sxx,
          CAST(sum(y0*y0) OVER w AS DOUBLE) AS syy,
          CAST(sum(x0*y0) OVER w AS DOUBLE) AS sxy
        FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      SELECT user_id, event_id, ts_ms, n,
        CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
          THEN (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
        END AS autocorr
      FROM s ORDER BY user_id, ts_ms, event_id""")
  )

  /** GROUPING SETS with a non-hierarchical set list — ((type, bucket),
    * (bucket), ()) is expressible by neither ROLLUP nor CUBE (no
    * (type) set), completing the grouping-set family next to q_rollup
    * and q_cube. Same Expand-based plan: per-row replicas generated
    * map-side, partial+final hash agg, one shuffle.
    */
  val qGroupingSets = Q(
    "q_grouping_sets",
    (spark, dir) => {
      Tables.events(spark, dir).createOrReplaceTempView("ev_gsets")
      spark.sql("""
        SELECT coalesce(event_type, 'ALL') AS event_type,
          coalesce(user_id % 5, -1) AS ub,
          count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_v,
          CAST(grouping(event_type) AS INT) AS g_et,
          CAST(grouping(user_id % 5) AS INT) AS g_ub
        FROM ev_gsets
        GROUP BY GROUPING SETS ((event_type, user_id % 5), (user_id % 5), ())
        ORDER BY event_type, ub, g_et, g_ub""")
    },
    Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
        coalesce(user_id % 5, -1) AS ub,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_v,
        CAST(grouping(event_type) AS INT) AS g_et,
        CAST(grouping(user_id % 5) AS INT) AS g_ub
      FROM events
      GROUP BY GROUPING SETS ((event_type, user_id % 5), (user_id % 5), ())
      ORDER BY event_type, ub, g_et, g_ub""")
  )

  /** Fixed-width histogram over event values: floor-division binning
    * (exact in double for the data's value range) + exact-decimal bin
    * sums. One map-side binning pass, one shuffle on the bin key.
    */
  val qHistogram = Q(
    "q_histogram",
    (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy(floor(col("value") / lit(10)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_v"),
          min(col("value")).as("min_v"),
          max(col("value")).as("max_v"))
        .orderBy("bin"),
    Some("""SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_v,
        min(value) AS min_v,
        max(value) AS max_v
      FROM events GROUP BY 1 ORDER BY bin""")
  )

  /** Equi-DEPTH histogram next to q_histogram's equi-width: deciles by
    * ntile over the total order (value, event_id) per event_type, then
    * per-bucket bounds/count — the quantile-binning tool (length
    * curricula, balanced difficulty buckets) where equi-width binning
    * would leave most bins empty under skew. The tie-broken total
    * order makes ntile's row assignment engine-deterministic. One
    * shuffle on event_type, then a per-bucket partial agg.
    */
  val qHistogramEqd = Q(
    "q_histogram_eqd",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(spark, dir)
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("event_type", "decile")
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"),
          max(col("value")).as("hi"))
        .orderBy("event_type", "decile")
    },
    Some("""SELECT event_type, decile, count(*) AS n,
        min(value) AS lo, max(value) AS hi
      FROM (SELECT event_type, value,
          CAST(ntile(10) OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS BIGINT) AS decile
        FROM events) t
      GROUP BY event_type, decile ORDER BY event_type, decile""")
  )

  /** Statistical moments per group — mean, population variance/stddev,
    * and Pearson correlation (value vs event time) — WITHOUT the
    * engine's streaming-moment aggregates (Welford accumulation order
    * varies across engines/partitionings): raw power sums are computed
    * in exact decimal arithmetic (associative ⇒ partition-order-proof),
    * cast to double once, and the closed-form moment expressions are
    * then fixed IEEE trees — bit-identical on both engines. Plan shape:
    * one partial+final hash agg, shuffle carries 6 sums per group.
    */
  val qStatsMoments = Q(
    "q_stats_moments",
    (spark, dir) => {
      val x = dec(col("value"), 12, 2)
      // Two portability traps dodged here:
      //  - width 19 for t: DuckDB computes products of ≤18-wide
      //    decimals in int64 (t² overflows it) but promotes ≥19-wide
      //    operands to the int128 kernel; Spark is exact either way.
      //    The epoch-origin shift keeps t² small and well-conditioned.
      //  - scale 0 for every sum feeding corr: DuckDB's decimal→double
      //    cast double-rounds when scale > 0 AND the unscaled value
      //    exceeds 2⁵³ (divides after converting), so the corr inputs
      //    are scaled to integers (x·100); the 100-factors cancel in
      //    the ratio. Verified empirically against correctly-rounded
      //    conversions.
      val t = dec(col("ts_ms") - lit(1704000000000L), 19, 0)
      val x0 = (x * lit(100).cast("decimal(3,0)")).cast("decimal(14,0)")
      val agg = Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"), sum(x * x).cast("double").as("sxx"),
          sum(x0).cast("double").as("sx0"), sum(x0 * x0).cast("double").as("sxx0"),
          sum(t).cast("double").as("st"), sum(t * t).cast("double").as("stt"),
          sum(x0 * t).cast("double").as("sxt0"))
      agg.select(
          col("event_type"), col("n"),
          (col("sx") / col("n")).as("mean_v"),
          ((col("n") * col("sxx") - col("sx") * col("sx")) /
            (col("n").cast("double") * col("n"))).as("var_v"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
            (col("n").cast("double") * col("n"))).as("std_v"),
          ((col("n") * col("sxt0") - col("sx0") * col("st")) /
            (sqrt(col("n") * col("sxx0") - col("sx0") * col("sx0")) *
              sqrt(col("n") * col("stt") - col("st") * col("st")))).as("corr_vt"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type,
          CAST(value AS DECIMAL(12,2)) AS x,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0)) AS x0,
          CAST(epoch_ms(ts) - 1704000000000 AS DECIMAL(19,0)) AS t
        FROM events),
      a AS (SELECT event_type, count(*) AS n,
          CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x*x) AS DOUBLE) AS sxx,
          CAST(sum(x0) AS DOUBLE) AS sx0, CAST(sum(x0*x0) AS DOUBLE) AS sxx0,
          CAST(sum(t) AS DOUBLE) AS st, CAST(sum(t*t) AS DOUBLE) AS stt,
          CAST(sum(x0*t) AS DOUBLE) AS sxt0
        FROM e GROUP BY event_type)
      SELECT event_type, n,
        sx / n AS mean_v,
        (n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n) AS var_v,
        sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n)) AS std_v,
        (n * sxt0 - sx0 * st) /
          (sqrt(n * sxx0 - sx0 * sx0) * sqrt(n * stt - st * st)) AS corr_vt
      FROM a ORDER BY event_type""")
  )

  /** Z-score feature normalization: every event's value standardized
    * against its event_type's exact-decimal mean/std (the feature
    * scaling pass of an ML pipeline). The 5-row stats table broadcasts;
    * the fact side stays map-only — no fact shuffle at any scale.
    */
  val qZscore = Q(
    "q_zscore",
    (spark, dir) => {
      val x = dec(col("value"), 12, 2)
      val stats = Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(x).cast("double").as("sx"),
          sum(x * x).cast("double").as("sxx"))
        .select(col("event_type"),
          (col("sx") / col("n")).as("mean_v"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
            (col("n").cast("double") * col("n"))).as("std_v"))
      Tables.events(spark, dir)
        .select("event_id", "event_type", "value")
        .join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - col("mean_v")) / col("std_v"))
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    },
    Some("""WITH e AS (SELECT event_type, CAST(value AS DECIMAL(12,2)) AS x
        FROM events),
      a AS (SELECT event_type, count(*) AS n,
          CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x*x) AS DOUBLE) AS sxx
        FROM e GROUP BY event_type),
      s AS (SELECT event_type, sx / n AS mean_v,
          sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n)) AS std_v
        FROM a)
      SELECT ev.event_id, ev.event_type, ev.value,
        (ev.value - s.mean_v) / s.std_v AS z
      FROM events ev JOIN s USING (event_type)
      ORDER BY event_id""")
  )

  /** Robust outlier gate: median/MAD (median absolute deviation)
    * instead of mean/std — the skew-immune counterpart of [[qZscore]]
    * (one fat-tailed key inflates a stddev until nothing flags; the
    * median and MAD barely move). Emits only the flagged events with
    * their robust z. Portability rides the same contract as
    * [[qQuantiles]]: Spark `percentile` and DuckDB `quantile_cont`
    * share the linear-interpolation definition, and every downstream
    * comparison/division is double-on-identical-doubles.
    *
    * Plan shape: two tiny per-group percentile aggs (5 rows each)
    * broadcast back; the fact side is map-only — no fact shuffle at
    * any scale, same as q_zscore. Exact percentile sorts each group
    * on one reducer (the documented cost of exactness — q_quantiles'
    * scaladoc); at corpus scale swap `approx_percentile` into the
    * stats legs, the gate itself is unchanged.
    */
  val qRobustZ = Q(
    "q_robust_z",
    (spark, dir) => {
      val e = Tables.events(spark, dir)
        .select("event_id", "event_type", "value")
      val med = e.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val d = e.join(broadcast(med), Seq("event_type"))
        .withColumn("dev", col("value") - col("med"))
      val mad = d.groupBy("event_type")
        .agg(percentile(abs(col("dev")), lit(0.5)).as("mad"))
      d.join(broadcast(mad), Seq("event_type"))
        .filter(abs(col("dev")) > lit(1.8) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          (col("dev") / col("mad")).as("z_robust"))
        .orderBy("event_id")
    },
    Some("""WITH m AS (SELECT event_type,
          quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type),
        d AS (SELECT e.event_id, e.event_type, e.value,
          e.value - m.med AS dev
        FROM events e JOIN m USING (event_type)),
        s AS (SELECT event_type, quantile_cont(abs(dev), 0.5) AS mad
        FROM d GROUP BY event_type)
      SELECT d.event_id, d.event_type, d.value, d.dev / s.mad AS z_robust
      FROM d JOIN s USING (event_type)
      WHERE abs(d.dev) > 1.8 * s.mad
      ORDER BY d.event_id""")
  )

  def all: Seq[Q] = Seq(q1Agg, q3Shipping, q13Custdist, qJoinPricing,
    qWindowRank, qWindowNav, qTopk,
    qSetops, qSetopsAll, qMovingAvg,
    qRollup, qCube, qDistinct, qAntiJoin, qBloomAnti, qZorder, qZorder3,
    qTimeWindow,
    qSlideWindow,
    qSnapshotDiff, qQuantiles, qQuantileSample, qQuantileRollup, qQuantileDd,
    qQuantileDdGrouped, qQuantileDdRollup,
    qApproxSketch, qKmvDistinct, qKmvRollup, qHeavyHitters,
    qChecksum,
    qDateRollup, qPivot, qSessionize, qRunningRange, qGroupingSets,
    qHistogram, qHistogramEqd, qStatsMoments, qZscore, qRobustZ, qRollCorr)
}
