package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Bars, Overlap}

/** Scale probe for the bar operators: generates N synthetic ticks
  * in-memory (spark.range — no I/O, pure codegen) and times OHLC
  * aggregation under a uniform key distribution AND under a 50%
  * single-hot-key skew. The point being measured: with map-side
  * partial min_by/max_by, the shuffle carries one row per
  * (partition × key × bucket) regardless of input skew — a hot symbol
  * collapses map-side, so skewed and uniform runs should cost the
  * same, which is the property that makes the operator safe at 100 TB
  * without salting.
  *
  * Usage: Test/runMain graft.Probe [nRows]  (default 50e6)
  * (lives in the TEST tree since round 14: it is measurement harness,
  * not shipped engine — the main tree's LoC should measure the
  * engine)
  * Prints one JSON line per probe; results recorded in PERF.md.
  * SPARK_GRAFT_PROBE_ONLY=name,name runs a subset (names = the
  * "probe" field of each JSON line).
  */
object Probe {
  private def enabled(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .forall(_.split(",").map(_.trim).contains(name))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000000L)
    val spark = GraftSession.harness()

    // 16 ticks share each ms (exercises the tie-break), value is a
    // deterministic hash, event_id stays inside the TiePack bound
    def ticks(sym: org.apache.spark.sql.Column): DataFrame =
      spark.range(n).select(
        sym.as("sym"),
        (col("id") / 16).cast("long").as("ts_ms"),
        pmod(col("id"), lit(1000000L)).as("event_id"),
        (pmod(hash(col("id")), lit(10000)) / lit(100.0)).as("value"))

    val uniform = ticks(concat(lit("S"), pmod(col("id"), lit(1000))))
    val skewed = ticks(when(pmod(col("id"), lit(2)) === 0, lit("HOT"))
      .otherwise(concat(lit("S"), pmod(col("id"), lit(1000)))))

    def time(df: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = df.count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    val bucket = 60000L // 1-min bars: ~52 buckets/sym over the 52-min domain
    if (enabled("bars")) {
      // warm the JIT/codegen paths once
      time(Bars.ohlc(uniform.limit(1000000), Seq("sym"), "ts_ms", "event_id",
        "value", bucket))
      val (tU, rU) = time(Bars.ohlc(uniform, Seq("sym"), "ts_ms", "event_id",
        "value", bucket))
      val (tS, rS) = time(Bars.ohlc(skewed, Seq("sym"), "ts_ms", "event_id",
        "value", bucket))
      val (tV, rV) = time(Bars.vwap(uniform.withColumn("w",
        pmod(col("event_id"), lit(100L))), Seq("sym"), "ts_ms", "value", "w",
        bucket))
      println(s"""{"probe":"bars","rows":$n,"ohlc_uniform_sec":$tU,""" +
        s""""ohlc_uniform_bars":$rU,"ohlc_skew50_sec":$tS,""" +
        s""""ohlc_skew50_bars":$rS,"vwap_sec":$tV,"vwap_bars":$rV}""")
    }

    // moveVol pays the one cost ohlc avoids — a per-key (ts, tie)
    // window sort of the full tick volume (same cost class as the
    // as-of sort); ohlcMulti pays a 2× map-side Expand but keeps the
    // single scan + partial-agg shuffle. Both numbers bound the
    // operators' scale story next to plain ohlc above. twap adds the
    // third cost class: the lead() window sort PLUS a grouped agg that
    // rides the window's partitioning (one data shuffle total) — its
    // delta over movevol is the price of the duration weighting.
    if (enabled("bars2")) {
      val (tM, rM) = time(Bars.moveVol(uniform, Seq("sym"), "ts_ms",
        "event_id", "value", bucket))
      val (tMu, rMu) = time(Bars.ohlcMulti(uniform, Seq("sym"), "ts_ms",
        "event_id", "value", Seq(bucket, 5 * bucket)))
      val (tTw, rTw) = time(Bars.twap(uniform, Seq("sym"), "ts_ms",
        "event_id", "value", bucket))
      println(s"""{"probe":"bars2","rows":$n,"movevol_sec":$tM,""" +
        s""""movevol_bars":$rM,"ohlc_multi_sec":$tMu,"ohlc_multi_bars":$rMu,""" +
        s""""twap_sec":$tTw,"twap_bars":$rTw}""")
    }

    if (enabled("minhash_lsh")) {
      // MinHash+LSH scaling: synthetic ~60-token docs from a 1000-word
      // hashed vocabulary, 10% of them near-duplicates (two variants per
      // base doc differing in a trailing token) so the LSH join finds
      // real pairs. Measures docs/sec through signature + band join at
      // 10× the sf0.1 corpus.
      val nDocs = 50000L
      val words = (0 until 60).map(i =>
        concat(lit("w"), pmod(hash(col("base") * 60 + i), lit(1000))))
      val docs = spark.range(nDocs)
        .withColumn("base",
          when(pmod(col("id"), lit(10)) < 2, expr("(id div 10) * 10"))
            .otherwise(col("id")))
        .select(col("id").as("doc_id"),
          concat_ws(" ", (words :+ concat(lit("v"), pmod(col("id"), lit(10)))): _*)
            .as("text"))
      val (tD, nPairs) = time(graft.ops.Dedup.minhashLshPairs(docs, "doc_id",
        "text", bands = 4, rowsPerBand = 2))
      println(s"""{"probe":"minhash_lsh","docs":$nDocs,"sec":$tD,""" +
        s""""pairs":$nPairs,"docs_per_sec":${(nDocs / tD).toLong}}""")
    }

    if (enabled("cc_star_path")) {
      // Star-contraction CC on a worst-case-diameter graph: a 100k-node
      // PATH (every near-dup chain's pathological limit). Min-label
      // propagation needs O(diameter) = 100k rounds here — unrunnable;
      // star contraction converges in O(log n) rounds, which is the
      // reason both variants ship. Also proves the driver loop's plan
      // cuts hold up over ~17 iterative rounds.
      val nNodes = 100000L
      val chain = spark.range(nNodes - 1)
        .select(col("id").as("i"), (col("id") + 1).as("j"))
      val t1 = System.nanoTime()
      val comps = graft.ops.Dedup.connectedComponentsStar(chain)
        .agg(countDistinct(col("rep_id")).as("c"), count(lit(1)).as("n"))
        .collect()(0)
      val tC = (System.nanoTime() - t1) / 1e9
      println(s"""{"probe":"cc_star_path","nodes":$nNodes,"sec":$tC,""" +
        s""""components":${comps.getLong(0)},"labeled":${comps.getLong(1)}}""")
    }

    def ccStats(df: => DataFrame): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val r = df.agg(countDistinct(col("rep_id")).as("c"),
        count(lit(1)).as("n")).collect()(0)
      ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
    }

    if (enabled("cc_forest_vs_star")) {
      // Forest vs star CC on the SAME supercritical random graph (2M
      // edges over 1M nodes, avg degree 4 ⇒ one giant component — the
      // representative upper end of a post-LSH candidate-pair graph,
      // across 64 partitions with fanIn=8 so the forest path exercises a
      // three-level narrow merge tree). The pair of numbers documents
      // the crossover the two variants are shipped for: forest is one
      // shuffle-free job whose tail is a serial union-find over the
      // distinct-node funnel (wins while nodes fit one task); star pays
      // O(log n) shuffle rounds but every round is fully parallel (wins
      // once the node set outgrows a task).
      val nEdges = 2000000L
      val redges = spark.range(nEdges).select(
        pmod(hash(col("id")), lit(1000000)).cast("long").as("i"),
        pmod(hash(col("id") + 13), lit(1000000)).cast("long").as("j"))
        .filter(col("i") =!= col("j")).repartition(64)
        .persist()
      redges.count() // materialize: both variants then read the same cache
      val (tF, cF, nF) = ccStats(
        graft.ops.Dedup.connectedComponentsForest(redges, fanIn = 8))
      val (tSt, cSt, nSt) = ccStats(
        graft.ops.Dedup.connectedComponentsStar(redges))
      redges.unpersist()
      println(s"""{"probe":"cc_forest_vs_star","edges":$nEdges,""" +
        s""""forest_sec":$tF,"star_sec":$tSt,""" +
        s""""forest_components":$cF,"star_components":$cSt,""" +
        s""""forest_labeled":$nF,"star_labeled":$nSt}""")
    }

    if (enabled("cc_forest_vs_star_10m")) {
      // The same forest-vs-star comparison at 10M edges over 4M nodes
      // with the default fanIn=32 (two-level merge tree over 64 maps):
      // the larger point on the crossover curve. The serial union-find
      // tail now folds ~4M distinct nodes — if forest still wins here,
      // the single-task funnel is not yet the bottleneck at this node
      // count; the probe documents where that stops being true.
      val nEdges10 = 10000000L
      val redges10 = spark.range(nEdges10).select(
        pmod(hash(col("id")), lit(4000000)).cast("long").as("i"),
        pmod(hash(col("id") + 13), lit(4000000)).cast("long").as("j"))
        .filter(col("i") =!= col("j")).repartition(64)
        .persist()
      redges10.count()
      val (tF10, cF10, nF10) = ccStats(
        graft.ops.Dedup.connectedComponentsForest(redges10, fanIn = 32))
      val (tSt10, cSt10, nSt10) = ccStats(
        graft.ops.Dedup.connectedComponentsStar(redges10))
      redges10.unpersist()
      println(s"""{"probe":"cc_forest_vs_star_10m","edges":$nEdges10,""" +
        s""""forest_sec":$tF10,"star_sec":$tSt10,""" +
        s""""forest_components":$cF10,"star_components":$cSt10,""" +
        s""""forest_labeled":$nF10,"star_labeled":$nSt10}""")
    }

    if (enabled("cc_forest_limit")) {
      // Where does the single-task union-find funnel STOP winning?
      // Same supercritical shape (avg degree ~2.5) at growing node
      // counts — SPARK_GRAFT_CC_SIZES="edges:nodes,..." overrides.
      // Also times the KMV node estimate that connectedComponentsAuto
      // spends to make the choice, and reports its estimate so the
      // auto threshold is pinned against measured truth.
      val sizes = sys.env.getOrElse("SPARK_GRAFT_CC_SIZES",
          "20000000:8000000,40000000:16000000")
        .split(",").map { s =>
          val Array(e, v) = s.split(":"); (e.trim.toLong, v.trim.toLong) }
      for ((nE, nV) <- sizes) {
        val es = spark.range(nE).select(
          pmod(hash(col("id")), lit(nV)).cast("long").as("i"),
          pmod(hash(col("id") + 13), lit(nV)).cast("long").as("j"))
          .filter(col("i") =!= col("j")).repartition(64)
          .persist()
        es.count()
        val tK0 = System.nanoTime()
        val est = graft.ops.Dedup.estimateDistinctNodes(es)
        val tK = (System.nanoTime() - tK0) / 1e9
        val (tF, cF, nF) = ccStats(
          graft.ops.Dedup.connectedComponentsForest(es, fanIn = 32))
        val (tS, cS, nS) = ccStats(
          graft.ops.Dedup.connectedComponentsStar(es))
        es.unpersist()
        println(s"""{"probe":"cc_forest_limit","edges":$nE,"nodes":$nV,""" +
          s""""kmv_est":${est.toLong},"kmv_sec":$tK,""" +
          s""""forest_sec":$tF,"star_sec":$tS,""" +
          s""""forest_components":$cF,"star_components":$cS,""" +
          s""""forest_labeled":$nF,"star_labeled":$nS}""")
      }
    }

    if (enabled("bloom_anti")) {
      // Bloom-accelerated exclusion join at 50M corpus keys × 1M
      // exclusions (0.5M of them actually present): plain left_anti
      // shuffles all 50M strings into the sort-merge join; the Bloom
      // path probes map-side and shuffles only the candidate slice
      // (~true matches + 1% fpp of the rest). Results are identical —
      // the probe measures the shuffle-volume win the operator exists
      // for and pins the candidate-slice selectivity at scale.
      val nBig = 50000000L
      val big = spark.range(nBig).select(concat(lit("k"), col("id")).as("k"))
      val excl = spark.range(1000000L).select(
        when(col("id") < 500000L, concat(lit("k"), col("id") * 2))
          .otherwise(concat(lit("x"), col("id"))).as("bad"))
        .persist()
      excl.count()
      val tB0 = System.nanoTime()
      val plainKept = big.join(excl, col("k") === col("bad"), "left_anti").count()
      val tBPlain = (System.nanoTime() - tB0) / 1e9
      val tB1 = System.nanoTime()
      val bloomKept = graft.ops.Bloom.antiJoin(big, col("k"), excl, col("bad"),
        expectedItems = 1000000L).count()
      val tBBloom = (System.nanoTime() - tB1) / 1e9
      val bloomBytes = graft.ops.Bloom.build(excl, col("bad"), 1000000L)
      val candN = big.filter(
        graft.ops.Bloom.mightContain(bloomBytes, col("k"))).count()
      excl.unpersist()
      println(s"""{"probe":"bloom_anti","big":$nBig,"exclusions":1000000,""" +
        s""""plain_sec":$tBPlain,"bloom_sec":$tBBloom,""" +
        s""""plain_kept":$plainKept,"bloom_kept":$bloomKept,""" +
        s""""candidates":$candN,"sketch_bytes":${bloomBytes.map(_.length).getOrElse(0)}}""")
    }

    if (enabled("asof")) {
      // As-of join at 10M trades × 1M quotes over 100 symbols: the
      // union+window formulation's cost is ONE (key, time) shuffle+sort
      // of both sides together — this measures rows/sec through that
      // sort, the operator's scale bound.
      val nTrades = 10000000L
      val trades = spark.range(nTrades).select(
        concat(lit("S"), pmod(col("id"), lit(100))).as("sym"),
        pmod(hash(col("id")), lit(100000000L)).as("t"),
        col("id").as("trade_id"))
      val quotes = spark.range(nTrades / 10).select(
        concat(lit("S"), pmod(col("id"), lit(100))).as("sym"),
        pmod(hash(col("id") + 7), lit(100000000L)).as("qt"),
        (pmod(hash(col("id") * 3), lit(10000)) / lit(100.0)).as("px"))
        .groupBy("sym", "qt").agg(max(col("px")).as("px")) // unique (sym, t)
      val (tA, nMatched) = time(graft.ops.AsOf.asOfJoin(trades, quotes,
        Seq("sym"), "t", "qt", Seq("px")).filter(col("px").isNotNull))
      println(s"""{"probe":"asof","trades":$nTrades,"quotes":${nTrades / 10},""" +
        s""""sec":$tA,"matched":$nMatched,""" +
        s""""trades_per_sec":${(nTrades / tA).toLong}}""")
    }

    if (enabled("ingest_pipeline")) {
      // End-to-end ingest throughput — the reference's headline path —
      // from the durable-log source through the FULL production
      // pipeline: decode → validate (with drop counting) → broadcast
      // enrich → idempotent batch append + keep-last upsert. 1M wire
      // frames over 8 log partitions, drained AvailableNow in
      // size-bounded batches. The records/sec includes both sinks'
      // writes — the honest number a capacity plan needs.
      val nFrames = 1000000L
      val logDir = java.nio.file.Files.createTempDirectory("probe_log").toString
      val seg = 125000
      (0 until 8).foreach { p =>
        graft.sources.LogSource.append(logDir, p,
          (0 until seg).map(i =>
            graft.sources.TickSource.frame((p * seg + i).toLong, 100)))
      }
      val dim = spark.range(100).selectExpr(
        "concat('SYM', id) AS symbol", "concat('EX', id % 9) AS exchange")
      val appendDir = java.nio.file.Files.createTempDirectory("probe_append").toString
      val latestDir = java.nio.file.Files.createTempDirectory("probe_latest").toString
      val rawLog = spark.readStream.format("graft-log")
        .option("path", logDir)
        .option("maxOffsetsPerTrigger", (nFrames / 4).toString)
        .load()
      val tI0 = System.nanoTime()
      val iq = graft.stream.Pipeline.start(
        graft.ops.Ingest.parseWire(rawLog), dim, appendDir, latestDir,
        keyCols = Seq("name"), orderCols = Seq("timestamp"),
        nameCol = "name", tsCol = "timestamp",
        checkpointDir = java.nio.file.Files.createTempDirectory("probe_ck").toString,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        retries = 1)
      iq.awaitTermination()
      val tI = (System.nanoTime() - tI0) / 1e9
      val appendedN = spark.read.parquet(appendDir).count()
      val latestN = graft.stream.Pipeline.readLatest(spark, latestDir).count()
      println(s"""{"probe":"ingest_pipeline","frames":$nFrames,"sec":$tI,""" +
        s""""appended":$appendedN,"latest_keys":$latestN,""" +
        s""""frames_per_sec":${(nFrames / tI).toLong}}""")
    }

    if (enabled("serve")) {
      // Serve-path probe: the per-tick body of the snapshot broadcaster
      // (Transform.serveSnapshot — broadcast clients × broadcast configs
      // + the interpreted HOF transform) at 1M live symbols × 1k
      // (client, symbol) config rows over 50 clients. Output cardinality
      // is symbols × clients = 50M transformed rows; the measured number
      // bounds how large a snapshot a 1-second serving tick can actually
      // re-transform. All joins are broadcasts — the snapshot side never
      // shuffles, which is what makes the tick scale with executors.
      val nSyms = 1000000L
      val nClients = 50L
      val snapshot = spark.range(nSyms).select(
        concat(lit("S"), col("id")).as("symbol"),
        map(
          lit("v"), (pmod(hash(col("id")), lit(10000)) / lit(100.0)).cast("string"),
          lit("ts"), col("id").cast("string"),
          lit("drop_me"), lit("x")).as("flat"))
      val serveCfgs = spark.range(nClients * 20).select(
        concat(lit("C"), pmod(col("id"), lit(nClients))).as("client_id"),
        concat(lit("S"), pmod(col("id") * 997L, lit(nSyms))).as("symbol"),
        map(lit("v"), struct(lit("multiply").as("op"), lit(2.0).as("value"))).as("rules"),
        map(lit("ts"), lit("t")).as("renames"),
        array(lit("drop_me")).as("removes"),
        map(lit("src"), lit("graft")).as("overrides"))
      val (tSv, rSv) = time(
        graft.ops.Transform.serveSnapshot(snapshot, serveCfgs))
      println(s"""{"probe":"serve_snapshot","symbols":$nSyms,"clients":$nClients,""" +
        s""""configs":${nClients * 20},"sec":$tSv,"served_rows":$rSv,""" +
        s""""rows_per_sec":${(rSv / tSv).toLong}}""")
    }

    if (enabled("semdedup")) {
      // SemDeDup at 100× the sf0.1 embedding table: 200k synthetic
      // 64-dim vectors in 256 REAL clusters (each vector = its
      // cluster's centroid + 10% hash noise, so in-cluster cosines are
      // genuinely high and the pair stage does real work — every
      // cluster collapses to near-dups at τ=0.95). Measures the two
      // stages the operator is made of: assignment (n·k dots, partial
      // max_by shuffle of n rows) and the in-cluster pair join
      // (Σ |cluster|²/2 dots — here ~780²/2 × 256 ≈ 78M pairs). The
      // vectors/sec bound is what sizes k for a target corpus: cost is
      // n·k + n·(n/k), minimized near k = √n per assignment round.
      val nVec = 200000L
      val kCent = 256L
      def centComp(c: org.apache.spark.sql.Column,
          d: org.apache.spark.sql.Column) =
        pmod(hash(c * 64 + d), lit(1000)).cast("double") / 1000.0
      val synth = spark.range(nVec).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), d =>
          (centComp(pmod(col("id"), lit(kCent)), d) +
            pmod(hash(col("id") * 64 + d), lit(100)).cast("double") / 1000.0)
            .cast("float")).as("embedding"))
      val cents = spark.range(kCent).select(col("id").as("cluster"),
        transform(sequence(lit(1), lit(64)), d =>
          centComp(col("id"), d).cast("float")).as("cv"))
      val (tAsg, nAsg) = time(graft.ops.Similarity.assignNearest(synth, cents))
      val t0 = System.nanoTime()
      val kept = graft.ops.Similarity.semDedup(synth, cents, threshold = 0.95)
        .filter(col("keep")).count()
      val tSd = (System.nanoTime() - t0) / 1e9
      println(s"""{"probe":"semdedup","vectors":$nVec,"clusters":$kCent,""" +
        s""""assign_sec":$tAsg,"assigned":$nAsg,"semdedup_sec":$tSd,""" +
        s""""kept":$kept,"vec_per_sec":${(nVec / tSd).toLong}}""")
    }
    if (enabled("cms_heavy")) {
      // CMS at 50M events: 50% of traffic on 100 hot keys, the rest
      // uniform over 1M cold keys; d=4, w=65536 (ε·N = e/w·50M ≈ 2k).
      // The build is the scale claim under test — a fixed d×w counter
      // matrix partial-aggregated map-side, so the exchange carries
      // ≤ d·w rows per partition at ANY input size. The point-query
      // pass then pins the overestimate contract on the 100 hot keys.
      val nEv = 50000000L
      val depth = 4; val width = 65536
      val ev = spark.range(nEv).select(
        // id div 2 so the hot residues cover all 100 values (a plain
        // pmod(id, 100) under the even-id guard only hits the evens)
        when(pmod(col("id"), lit(2)) === 0,
            concat(lit("H"), pmod(expr("id div 2"), lit(100))))
          .otherwise(concat(lit("C"), pmod(hash(col("id")), lit(1000000))))
          .as("key"))
      val t0 = System.nanoTime()
      val cms = graft.functions.Cms.build(ev, col("key"), depth, width)
        .localCheckpoint()
      val tB = (System.nanoTime() - t0) / 1e9
      val hot = ev.filter(col("key").startsWith("H"))
        .groupBy("key").agg(count(lit(1)).as("n_exact"))
      val over = graft.functions.Cms
        .estimate(hot, cms, col("key"), depth, width)
        .agg(min(col("est_cms") - col("n_exact")).as("lo"),
          max(col("est_cms") - col("n_exact")).as("hi")).collect()(0)
      println(s"""{"probe":"cms_heavy","events":$nEv,"depth":$depth,""" +
        s""""width":$width,"build_sec":$tB,""" +
        s""""events_per_sec":${(nEv / tB).toLong},""" +
        s""""overcount_min":${over.getLong(0)},"overcount_max":${over.getLong(1)}}""")
    }

    if (enabled("kmv_overlap")) {
      // Source-overlap at 20× the sf0.1 corpus: 100k ~60-token docs
      // over 20 sources, every doc sharing its vocabulary so sources
      // genuinely overlap. Times the exact shingle-self-join matrix
      // against the KMV sketch path (k=256) — the measured crossover
      // behind shipping both faces of Overlap.
      val nDocs = 100000L
      val nSrc = 20
      val words = (0 until 60).map(i =>
        concat(lit("w"), pmod(hash(col("id") * 60 + i), lit(1000))))
      val docs = spark.range(nDocs).select(
        concat(lit("src"), pmod(col("id"), lit(nSrc))).as("source"),
        concat_ws(" ", words: _*).as("text"))
      val (tEx, rEx) = time(Overlap.exact(docs, "source", "text"))
      val (tSk, rSk) = time(Overlap.kmvSketch(docs, "source", "text", 256))
      println(s"""{"probe":"kmv_overlap","docs":$nDocs,"sources":$nSrc,""" +
        s""""exact_sec":$tEx,"exact_pairs":$rEx,""" +
        s""""sketch_sec":$tSk,"sketch_pairs":$rSk}""")
    }
    if (enabled("stream_floor")) {
      // How much of the ~1-2.5 s q_stream_* per-pin cost is HARNESS
      // (file-source listing, microbatch planning, commit log, sink)
      // vs STATE STORE (HashAggregate state, watermark bookkeeping)?
      // Same tiny parquet input through (a) a stateless streaming
      // projection and (b) a watermarked windowed count — each run 5×
      // in ONE session with fresh checkpoints (the Verify/Bench
      // shape), plus the first run separated out (plan/codegen
      // warmup). stateful_median − stateless_median = the state-store
      // share; stateless_median = the floor every streaming pin pays
      // no matter what it computes.
      val sfDir = java.nio.file.Files.createTempDirectory("floor_src").toString
      spark.range(10000).select(
        (col("id") % 100).as("k"),
        timestamp_millis(col("id") * 1000L).as("event_time"),
        col("id").cast("double").as("v"))
        .coalesce(1).write.mode("overwrite").parquet(sfDir)
      val schema = spark.read.parquet(sfDir).schema
      def runOnce(stateful: Boolean, tag: String): Double = {
        val src = spark.readStream.schema(schema).parquet(sfDir)
        val out =
          if (stateful)
            src.withWatermark("event_time", "1 minute")
              .groupBy(col("k"), window(col("event_time"), "1 minute"))
              .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
          else src.select(col("k"), col("v") * 2)
        val t0 = System.nanoTime()
        val q = out.writeStream.format("noop")
          .queryName(s"floor_$tag")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"floor_ck_$tag").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      val reps = 5
      val stateless = (0 until reps).map(i => runOnce(false, s"sl$i"))
      val stateful = (0 until reps).map(i => runOnce(true, s"sf$i"))
      println(s"""{"probe":"stream_floor","reps":$reps,""" +
        s""""stateless_first":${stateless.head},""" +
        s""""stateless_median":${med(stateless.tail)},""" +
        s""""stateful_first":${stateful.head},""" +
        s""""stateful_median":${med(stateful.tail)},""" +
        s""""state_store_share":${med(stateful.tail) - med(stateless.tail)}}""")
    }

    if (enabled("pipeline_e2e")) {
      // The COMPOSED five-stage training pipeline (exact dedup →
      // quality gate → decontamination → per-source cap → chunking)
      // at 20× the sf0.1 corpus: 1M ~60-token docs over 1000 sources,
      // 20% of ids sharing a base text (real work for the dedup
      // stage), every 10th token a stopword (so the quality gate's
      // stop-ratio check passes honestly), doc_id % 50 = 0 as the
      // benchmark slice (~1.2M distinct shingles broadcast for
      // decontamination). One declarative plan end-to-end — the
      // docs/sec number here is the pipeline's, not any one stage's.
      val nDocs = sys.env.get("SPARK_GRAFT_PIPELINE_DOCS")
        .map(_.toLong).getOrElse(1000000L)
      val nSrcP = 1000L
      // vocabulary scales with the corpus (1k words per 1M docs, min
      // 1k — the 1M baseline keeps its round-6 shape): with a FIXED
      // vocab, a 10× corpus saturates the 3-gram shingle space and
      // the benchmark slice decontaminates every document away
      // (measured: chunks=0 at 10M docs × 1000 words), leaving the
      // later stages nothing to do and the docs/s number meaningless.
      val vocab = math.max(1000L, nDocs / 1000L)
      val words = (0 until 60).map(i =>
        if (i % 10 == 0) lit("the")
        else concat(lit("w"), pmod(hash(col("base") * 60 + i), lit(vocab))))
      val docs = spark.range(nDocs)
        .withColumn("base",
          when(pmod(col("id"), lit(10)) < 2, expr("(id div 10) * 10"))
            .otherwise(col("id")))
        .select(col("id").as("doc_id"),
          concat(lit("src"), pmod(col("id"), lit(nSrcP))).as("source"),
          concat_ws(" ", words: _*).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val (tP, rP) = time(graft.ops.Corpus.pipeline(docs,
        benchmarkMod = 50, capPerSource = 100, chunkMax = 64,
        chunkOverlap = 16))
      println(s"""{"probe":"pipeline_e2e","docs":$nDocs,"sources":$nSrcP,""" +
        s""""sec":$tP,"chunks":$rP,"docs_per_sec":${(nDocs / tP).toLong}}""")
    }

    if (enabled("editdist")) {
      // q_dedup_editdist's scale shape at 1M docs (the round-7 bench's
      // heaviest query): candidate-pair growth and verify cost/pair
      // for the LSH path, plus the length-band blocker's documented
      // degenerate case on a single-band length histogram. Corpus:
      // ~40-token docs, 20% of ids in near-dup pairs (base text +
      // a short suffix → lev ≤ 6), hash-derived vocab so the other
      // 80% share no shingles.
      val nDocs = sys.env.get("SPARK_GRAFT_EDITDIST_DOCS")
        .map(_.toLong).getOrElse(1000000L)
      val wordsE = (0 until 40).map(i =>
        concat(lit("w"), pmod(hash(col("base") * 40 + i), lit(nDocs / 100))))
      val docsE = spark.range(nDocs)
        .withColumn("base",
          when(pmod(col("id"), lit(10)) < 2, expr("(id div 10) * 10"))
            .otherwise(col("id")))
        .select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(10)) === 1,
            concat(concat_ws(" ", wordsE: _*), lit(" zq")))
            .otherwise(concat_ws(" ", wordsE: _*)).as("text"))
      // candidate stage alone (band-key equality self-join), then the
      // full pairs op (candidates + banded-DP verify) — the delta is
      // the verify cost, reported per candidate pair
      def lshCand(d: DataFrame) = {
        val keys = graft.ops.Dedup.lshBandKeys(d, "doc_id", "text", 4, 2)
        keys.select(col("doc_id").as("i"), col("bk"))
          .join(keys.select(col("doc_id").as("j"), col("bk")), Seq("bk"))
          .filter(col("i") < col("j")).select("i", "j").distinct()
      }
      val (tCandE, nCandE) = time(lshCand(docsE))
      val (tFullE, nPairsE) = time(graft.ops.Dedup.editDistanceLshPairs(
        docsE, "doc_id", "text", bands = 4, rowsPerBand = 2, k = 6))
      val verifyPerPair =
        if (nCandE == 0) 0.0 else (tFullE - tCandE) / nCandE * 1e6
      println(s"""{"probe":"editdist","docs":$nDocs,"cand_pairs":$nCandE,""" +
        s""""cand_sec":$tCandE,"full_sec":$tFullE,"pairs":$nPairsE,""" +
        s""""verify_usec_per_cand":$verifyPerPair}""")
      // degenerate blocker point: every doc the same length ⇒ one
      // length band ⇒ candidates → n²/2 regardless of content, while
      // LSH candidates stay content-bound on the SAME corpus. Counted
      // at 20k docs (2e8 candidate pairs — countable, not verifiable;
      // the count IS the finding).
      val nSame = 20000L
      val sameLen = docsE.filter(col("doc_id") < nSame)
        .select(col("doc_id"), rpad(col("text"), 300, "p").as("text"))
      val w = 7 // k + 1
      val tL = sameLen.select(col("doc_id"),
        floor(length(col("text")) / w).as("_b"))
      val (tBandC, nBandC) = time(
        tL.select(col("doc_id").as("pi"), explode(array(col("_b"), col("_b") + 1)).as("_b"))
          .join(tL.select(col("doc_id").as("pj"), col("_b")), Seq("_b"))
          .filter(col("pi") < col("pj")))
      val (_, nLshSame) = time(lshCand(sameLen))
      println(s"""{"probe":"editdist_band_degenerate","docs":$nSame,""" +
        s""""band_cand_pairs":$nBandC,"band_cand_sec":$tBandC,""" +
        s""""lsh_cand_pairs_same_corpus":$nLshSame}""")
    }

    if (enabled("spandedup")) {
      // spanDedup's scale shape at 1M docs, under BOTH its stress
      // patterns at once: every doc opens with the same 8-token
      // boilerplate (4 k=5 spans with df = nDocs — the hot-key case:
      // the first-occurrence min partial-aggregates map-side, and the
      // non-first excisions are one row per occurrence, linear), and
      // 20% of ids share a full 40-token body (editdist-probe corpus
      // shape) so whole-document excision does real work. The control
      // corpus drops the boilerplate and the base-sharing — same
      // size, near-zero duplication — isolating what duplication
      // volume itself costs vs the operator's fixed linear passes.
      val nDocs = sys.env.get("SPARK_GRAFT_SPANDEDUP_DOCS")
        .map(_.toLong).getOrElse(1000000L)
      def corpusS(dup: Boolean): DataFrame = {
        val baseCol = if (dup)
          when(pmod(col("id"), lit(10)) < 2, expr("(id div 10) * 10"))
            .otherwise(col("id"))
        else col("id")
        val words = (0 until 40).map(i =>
          concat(lit("w"), pmod(hash(col("base") * 40 + i), lit(nDocs / 100))))
        val toks = if (dup)
          lit("terms of service apply all rights reserved worldwide") +: words
        else words
        spark.range(nDocs).withColumn("base", baseCol)
          .select(col("id").as("doc_id"), concat_ws(" ", toks: _*).as("text"))
      }
      // a bare count() would let Catalyst prune the rebuild projection
      // AND eliminate the left join (row-count-preserving) — timing
      // nothing; aggregate over the outputs to force the full plan
      def runS(df: DataFrame): (Double, Long, Long) = {
        val spanned = graft.ops.Dedup.spanDedup(df, "doc_id", "text", k = 5)
        val t0 = System.nanoTime()
        val r = spanned
          .agg(sum(length(col("clean_text"))).as("chars"),
            sum("n_removed").as("removed")).head()
        ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
      }
      runS(corpusS(dup = false).limit(100000)) // warm codegen
      val (tCtl, _, _) = runS(corpusS(dup = false))
      val (tDup, _, removed) = runS(corpusS(dup = true))
      println(s"""{"probe":"spandedup","docs":$nDocs,""" +
        s""""control_sec":$tCtl,"dup_sec":$tDup,""" +
        s""""removed_tokens":$removed,""" +
        s""""docs_per_sec":${(nDocs / tDup).toLong}}""")
    }

    if (enabled("ann_layout")) {
      // AnnLayout's scan-fraction claim in wall-clock: 1M 64-dim
      // vectors, 256 clusters (hash-assigned — stands in for a
      // trained coarse quantizer), nprobe=8 ⇒ the layout path should
      // read ~3% of the corpus where the flat path reads it all.
      // Both corpora go to DISK first (the flat baseline as plain
      // parquet) so the comparison is scan-vs-scan, not
      // scan-vs-generate.
      val nVec = sys.env.get("SPARK_GRAFT_ANN_VECS")
        .map(_.toLong).getOrElse(1000000L)
      val dims = 64
      val nClusters = 256
      val root = java.nio.file.Files.createTempDirectory("ann_probe").toString
      // full-entropy components (2M distinct values) — a 1000-value
      // grid lets parquet dictionary-encode the floats and fakes away
      // the quantized layout's size advantage; real embeddings are
      // near-incompressible
      val vecs = spark.range(nVec).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i =>
          ((pmod(hash(col("id") * dims + i), lit(2000000)) / 1000000.0) - 1.0)
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(nClusters)).cast("int").as("label"))
      vecs.write.parquet(s"$root/flat")
      val tW0 = System.nanoTime()
      graft.io.AnnLayout.writeIvf(vecs, s"$root/ivf")
      val tWrite = (System.nanoTime() - tW0) / 1e9
      val flat = spark.read.parquet(s"$root/flat")
      val queries = flat.filter(col("vec_id") < 10)
      def timed(df: => DataFrame): (Double, Long) = {
        val t0 = System.nanoTime()
        val r = df.count()
        ((System.nanoTime() - t0) / 1e9, r)
      }
      // one discarded warm-up per PATH (codegen/JIT + parquet footer
      // discovery), so flat vs layout vs q8 timings compare warm-to-warm
      timed(graft.ops.Similarity.knnIvf(queries, flat, 10, 8)) // warm
      val (tFlat, rFlat) = timed(
        graft.ops.Similarity.knnIvf(queries, flat, 10, 8))
      timed(graft.io.AnnLayout.knnIvf(spark, s"$root/ivf", queries, 10, 8)) // warm
      val (tLay, rLay) = timed(
        graft.io.AnnLayout.knnIvf(spark, s"$root/ivf", queries, 10, 8))
      // the quantized layout: same partition pruning, ~4x fewer bytes
      graft.io.AnnLayout.writeIvfQ8(vecs, s"$root/ivf8")
      timed(graft.io.AnnLayout.knnIvfQ8(spark, s"$root/ivf8", queries, 10, 8)) // warm
      val (tLay8, _) = timed(
        graft.io.AnnLayout.knnIvfQ8(spark, s"$root/ivf8", queries, 10, 8))
      def dirBytes(p: String): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      }
      println(s"""{"probe":"ann_layout","vectors":$nVec,""" +
        s""""clusters":$nClusters,"nprobe":8,"layout_write_sec":$tWrite,""" +
        s""""flat_sec":$tFlat,"layout_sec":$tLay,"layout_q8_sec":$tLay8,""" +
        s""""rows_flat":$rFlat,"rows_layout":$rLay,""" +
        s""""bytes_float":${dirBytes(s"$root/ivf/corpus")},""" +
        s""""bytes_q8":${dirBytes(s"$root/ivf8/corpus")},""" +
        s""""speedup":${tFlat / tLay}}""")
    }

    if (enabled("quantile_tail")) {
      // Head-to-head tail error: the k=256 bottom-k uniform sample vs
      // the dd2 exact-count sketch at p99/p999 on a Pareto(α=1.2)
      // corpus — the VALUE-error comparison behind the round-10
      // quantile decision, measured at 200k rows (deterministic
      // hash-uniform inverse-CDF draws).
      val n = 200000L
      val df = spark.range(n).select(col("id"),
        pow(lit(1.0) - (pmod(hash(col("id")), lit(1000000)) + 0.5) / 1000000.0,
          lit(-1.0 / 1.2)).as("v"))
        .localCheckpoint()
      val qs = Seq(0.99, 0.999)
      val sorted = df.select(col("v")).orderBy(col("v"))
        .collect().map(_.getDouble(0))
      def exact(q: Double): Double =
        sorted(math.max(1, math.ceil(q * n).toInt) - 1)
      import graft.functions.{Sketches, DdSketch}
      val kept = df
        .select(Sketches.md5Hash60("qt|", col("id").cast("string")).as("h"),
          col("v"))
        .agg(Sketches.bottomKSample(col("h"), col("v"), 256).as("kept"))
      val bkEsts = qs.map { q =>
        kept.select(Sketches.sampleQuantile(
            Sketches.sampleValues(col("kept")), q))
          .collect().head.getDouble(0)
      }
      val ddEsts = DdSketch.dd2Quantiles(
          DdSketch.dd2Buckets(df, col("v")), qs)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val rows = qs.zip(bkEsts).map { case (q, bk) =>
        val e = exact(q)
        s"""{"pct":$q,"exact":$e,"bottomk":$bk,""" +
          s""""bottomk_rel_err":${math.abs(bk / e - 1.0)},""" +
          s""""dd2":${ddEsts(q)},""" +
          s""""dd2_rel_err":${math.abs(ddEsts(q) / e - 1.0)}}"""
      }
      println(s"""{"probe":"quantile_tail","rows":$n,"k_sample":256,""" +
        s""""runs":[${rows.mkString(",")}]}""")
    }

    if (enabled("index_compaction")) {
      // What compaction buys at READ time: a long-running intake
      // stream's first-occurrence log accumulates one update row per
      // touched key per trigger — reads pay a min over ALL appends
      // ever. Simulated log: 200k distinct keys, 50 triggers × 40k
      // touched keys = 2M appended rows for a 200k-row index.
      val nKeys = 200000L
      val triggers = 50
      val perTrigger = 40000L
      val dir = java.nio.file.Files
        .createTempDirectory("idx_compact").toString + "/index"
      for (t <- 0 until triggers)
        spark.range(perTrigger).select(
          md5(concat(lit("k"),
            pmod(hash(col("id") * 31 + t * 7919), lit(nKeys)))
            .cast("binary")).as("_pd_h"),
          struct((col("id") * triggers + t).as("_pd_id"),
            lit(t).as("_pd_idx")).as("_pd_first"))
          .coalesce(4).write.mode("append").parquet(dir)
      def files(): Int = new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".parquet"))
      def bytes(): Long = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      def readSec(): Double = {
        val t0 = System.nanoTime()
        // agg over OUTPUT columns — a count would let Catalyst skip
        // the min itself (the count()-prunes-the-work trap)
        graft.ops.Dedup.readFirstOccurrenceIndex(spark, dir)
          .agg(sum(col("_pd_first._pd_id"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      readSec() // warm
      val (f0, b0, r0) = (files(), bytes(), readSec())
      val tC0 = System.nanoTime()
      graft.ops.Dedup.compactFirstOccurrenceIndex(spark, dir, numFiles = 8)
      val tCompact = (System.nanoTime() - tC0) / 1e9
      val (f1, b1, r1) = (files(), bytes(), readSec())
      println(s"""{"probe":"index_compaction","keys":$nKeys,""" +
        s""""triggers":$triggers,"appended_rows":${triggers * perTrigger},""" +
        s""""files_before":$f0,"bytes_before":$b0,"read_sec_before":$r0,""" +
        s""""compact_sec":$tCompact,""" +
        s""""files_after":$f1,"bytes_after":$b1,"read_sec_after":$r1,""" +
        s""""read_speedup":${r0 / r1},"bytes_ratio":${b0.toDouble / b1}}""")
    }

    if (enabled("serve_scale")) {
      // The 100x-clients story: the interpreted serving plan must stay
      // FLAT per emitted row as client count grows (output rows =
      // clients x snapshot by the serving semantic, so total time is
      // necessarily linear in clients — what must NOT grow is the
      // per-row cost or the plan itself). 20k-tick snapshot, 100
      // symbols; 10/100/1000 clients x 4 symbol configs each.
      val nRec = 20000L
      val snapshot = spark.range(nRec).select(
        concat(lit("sym"), pmod(col("id"), lit(100))).as("symbol"),
        map(lit("v"), col("id").cast("string")).as("flat"))
        .localCheckpoint()
      val results = Seq(10, 100, 1000).map { nClients =>
        val cfgDf = spark.range(nClients)
          .select(concat(lit("c"), col("id")).as("client_id"))
          .crossJoin(spark.range(4)
            .select(concat(lit("sym"), col("id")).as("symbol")))
          .withColumn("rules", map(lit("v"),
            struct(lit("multiply").as("op"), lit(2.0).as("value"))))
          .withColumn("renames", lit(null).cast("map<string,string>"))
          .withColumn("removes", lit(null).cast("array<string>"))
          .withColumn("overrides", map(lit("src"), col("client_id")))
        val served = graft.ops.Transform.serveSnapshot(snapshot, cfgDf)
        // sum over the PAYLOAD so the interpret expression cannot be
        // pruned by a count (the count()-prunes-the-work trap)
        def run(): Long = served
          .agg(sum(length(element_at(col("flat"), lit("v")))))
          .collect().head.getLong(0)
        run() // warm
        val t0 = System.nanoTime()
        val chk = run()
        val sec = (System.nanoTime() - t0) / 1e9
        val outRows = nClients * nRec
        (nClients, sec, outRows, 1e9 * sec / outRows, chk)
      }
      val body = results.map { case (c, s, r, ns, _) =>
        s"""{"clients":$c,"sec":$s,"out_rows":$r,"ns_per_row":$ns}"""
      }.mkString(",")
      println(s"""{"probe":"serve_scale","runs":[$body]}""")
    }

    if (enabled("ann_dpp")) {
      // Can dynamic partition pruning replace knnIvf's driver-side
      // probed-cluster collect? Measure BYTES READ (task input
      // metrics — plan strings lie here: the executed plan can carry
      // an `IN dynamicpruning#N` filter that never pruned) for each
      // probe-delivery mechanism on a 200k x 32-dim, 50-cluster
      // layout probing 3 clusters.
      val dims = 32
      val vecs = spark.range(200000).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i =>
          ((pmod(hash(col("id") * dims + i), lit(2000000)) / 1000000.0) - 1.0)
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(50)).cast("int").as("label"))
      val root = java.nio.file.Files.createTempDirectory("ann_dpp").toString
      graft.io.AnnLayout.writeIvf(vecs, root)
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val byteListener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead); ()
        }
      }
      spark.sparkContext.addSparkListener(byteListener)
      def measured(f: => Unit): Long = {
        Thread.sleep(500); bytes.set(0); f; Thread.sleep(1500); bytes.get()
      }
      val corpus = () => spark.read.parquet(s"$root/corpus")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(lit(1)).orderBy(col("rep_id"))
      val derived = spark.read.parquet(s"$root/reps")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("label")
      val full = measured { corpus().agg(sum(col("vec_id"))).collect(); () }
      val isin = measured {
        corpus().filter(col("label").isin(3, 7, 11))
          .agg(sum(col("vec_id"))).collect(); ()
      }
      val dppDefault = measured {
        corpus().join(broadcast(derived), Seq("label"))
          .agg(sum(col("vec_id"))).collect(); ()
      }
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "false")
      val dppNonreuse = measured {
        corpus().join(broadcast(derived), Seq("label"))
          .agg(sum(col("vec_id"))).collect(); ()
      }
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      // detach: leaving it registered would tax every later probe's
      // tasks and double-count into these AtomicLongs on a re-run
      spark.sparkContext.removeSparkListener(byteListener)
      println(s"""{"probe":"ann_dpp","bytes_full_scan":$full,""" +
        s""""bytes_collect_isin":$isin,""" +
        s""""bytes_dpp_default_conf":$dppDefault,""" +
        s""""bytes_dpp_reuseBroadcastOnly_false":$dppNonreuse}""")
    }

    if (enabled("bpe")) {
      // bpeTrain's scale claim measured: the corpus is touched once
      // (the word-frequency agg); the 10 merge iterations then run on
      // the distinct-vocab table, whose size is FIXED (10k words)
      // regardless of corpus size. So corpus 1M → 10M docs should
      // scale the word-agg term ~10× and leave the per-merge term
      // flat. 20-word docs drawn hash-deterministically from the
      // shared vocab.
      for (n <- Seq(1000000L, 10000000L)) {
        val words = (0 until 20).map(i =>
          concat(lit("w"), pmod(hash(col("id") * 20 + i), lit(10000L))))
        val docs = spark.range(n)
          .select(col("id").as("doc_id"),
            concat_ws(" ", words: _*).as("text"))
        def wordAgg(): Long =
          docs.select(explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
            .groupBy("w").agg(count(lit(1))).count()
        wordAgg() // warm codegen/scan so both timings below are warm
        val tA0 = System.nanoTime()
        wordAgg()
        val tAgg = (System.nanoTime() - tA0) / 1e9
        val nMerges = sys.env.get("SPARK_GRAFT_BPE_MERGES")
          .map(_.toInt).getOrElse(10)
        val tT0 = System.nanoTime()
        val merges = graft.ops.TextOps.bpeTrain(docs, "text", nMerges)
        val tTrain = (System.nanoTime() - tT0) / 1e9
        // the batched (approximate) path: wall-clock + measured merge-
        // list agreement with the exact trainer at a real batch size
        val bs = sys.env.get("SPARK_GRAFT_BPE_BATCH")
          .map(_.toInt).getOrElse(16)
        val tB0 = System.nanoTime()
        val mergesB = graft.ops.TextOps.bpeTrainBatched(docs, "text",
          nMerges, batchSize = bs)
        val tBatch = (System.nanoTime() - tB0) / 1e9
        val agree = merges.map(_._1).toSet
          .intersect(mergesB.map(_._1).toSet).size
        println(s"""{"probe":"bpe","docs":$n,"vocab":10000,""" +
          s""""word_agg_sec":$tAgg,"train_sec":$tTrain,""" +
          s""""merge_iter_sec":${(tTrain - tAgg) / merges.size},""" +
          s""""merges":${merges.size},""" +
          s""""batch_size":$bs,"batched_sec":$tBatch,""" +
          s""""batched_merges":${mergesB.size},""" +
          s""""merge_agreement":${agree.toDouble / merges.size}}""")
      }
    }

    if (enabled("bpe_fidelity")) {
      // The batched-trainer fidelity curve PAST 100 merges (verdict
      // ask): 1k merges, batch sizes 8/32/128, recording merge-SET
      // agreement AND the encode-level token-count delta — the metric
      // a tokenizer consumer actually feels. Merge lists come from
      // the SHIPPED Spark trainers; the encode-level comparison
      // replays each list over the collected 10k-word vocab in plain
      // Scala (applying merges sequentially == bpeEncode's compiled
      // fold by definition; a 1k-deep single expression would only
      // measure codegen limits, not fidelity).
      val nDocs = sys.env.get("SPARK_GRAFT_BPE_DOCS")
        .map(_.toLong).getOrElse(1000000L)
      val nMerges = sys.env.get("SPARK_GRAFT_BPE_MERGES")
        .map(_.toInt).getOrElse(1000)
      val words = (0 until 20).map(i =>
        concat(lit("w"), pmod(hash(col("id") * 20 + i), lit(10000L))))
      val docs = spark.range(nDocs)
        .select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
      val wordFreq = docs
        .select(explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def replayTokens(merges: Seq[(String, Long)]): Long = {
        var vocab: Map[Vector[String], Long] = wordFreq
          .map { case (w, f) => (w.map(_.toString).toVector, f) }
        for ((pair, _) <- merges) {
          val Array(a, b) = pair.split(" ", 2)
          vocab = vocab.toSeq.map { case (syms, f) =>
            val touched = syms.contains(a)
            if (!touched) (syms, f)
            else {
              val nb = scala.collection.mutable.ArrayBuffer.empty[String]
              for (s <- syms)
                if (nb.nonEmpty && nb.last == a && s == b) nb(nb.size - 1) = a + b
                else nb += s
              (nb.toVector, f)
            }
          }.groupMapReduce(_._1)(_._2)(_ + _)
        }
        vocab.iterator.map { case (syms, f) => f * syms.size }.sum
      }
      val tE0 = System.nanoTime()
      val exact = graft.ops.TextOps.bpeTrain(docs, "text", nMerges)
      val tExact = (System.nanoTime() - tE0) / 1e9
      val tokExact = replayTokens(exact)
      val exactSet = exact.map(_._1).toSet
      val runs = Seq(8, 32, 128).map { bs =>
        val tB0 = System.nanoTime()
        val batched = graft.ops.TextOps.bpeTrainBatched(docs, "text",
          nMerges, batchSize = bs)
        val tB = (System.nanoTime() - tB0) / 1e9
        val agree = exactSet.intersect(batched.map(_._1).toSet).size.toDouble /
          exact.size
        val tokB = replayTokens(batched)
        s"""{"batch_size":$bs,"sec":$tB,"merges":${batched.size},""" +
          s""""merge_agreement":$agree,""" +
          s""""tokens":$tokB,""" +
          s""""token_delta_rel":${math.abs(tokB - tokExact).toDouble / tokExact}}"""
      }
      println(s"""{"probe":"bpe_fidelity","docs":$nDocs,"vocab":10000,""" +
        s""""merges":$nMerges,"exact_sec":$tExact,"exact_tokens":$tokExact,""" +
        s""""runs":[${runs.mkString(",")}]}""")
    }

    if (enabled("ann_recall")) {
      // Recall@10 of every ANN path vs brute-force ground truth —
      // correctness of each operator is oracle-pinned, but RECALL is
      // the dimension the approximations trade away and it was only
      // implied by construction until this probe. Corpus: 100k 64-dim
      // vectors in 256 planted Gaussian-ish clusters (component =
      // cluster center ± small hash-noise), 50 query vectors drawn
      // from the corpus; labels = planted cluster (the trained-
      // quantizer stand-in, as in the layout queries).
      val nVec = sys.env.get("SPARK_GRAFT_RECALL_VECS")
        .map(_.toLong).getOrElse(100000L)
      // noise half-width relative to the ±1 center spread: 0.2 =
      // well-separated clusters (IVF's favorable regime), ≥0.6 =
      // overlapping clusters where nprobe earns its keep
      val noise = sys.env.get("SPARK_GRAFT_RECALL_NOISE")
        .map(_.toDouble).getOrElse(0.2)
      val dims = 64
      val nClusters = 256
      val vecs = spark.range(nVec).select(
        col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i =>
          ((pmod(hash(pmod(col("id"), lit(nClusters)) * dims + i), lit(1000))
            / 500.0) - 1.0 +
           ((pmod(hash(col("id") * dims + i), lit(1000)) / 500.0) - 1.0)
             * noise)
            .cast("float")).as("embedding"),
        (if (sys.env.get("SPARK_GRAFT_RECALL_RANDLABELS").contains("1"))
           // labels uncorrelated with geometry — the WORST-case coarse
           // quantizer; true neighbors scatter uniformly over cells,
           // so IVF recall degrades toward nprobe/nClusters
           pmod(hash(col("id") + 7), lit(nClusters)).cast("int")
         else pmod(col("id"), lit(nClusters)).cast("int")).as("label"))
        .localCheckpoint()
      val queries = vecs.filter(col("vec_id") < 50)
      val k = 10
      val truth = graft.ops.Similarity.knnBruteForce(queries, vecs, k)
        .select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      def recall(df: DataFrame): Double = {
        val got = df.select(col("query_id"), col("neighbor_id")).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        truth.map { case (q, t) =>
          got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
        }.sum / truth.size
      }
      // dot-product ground truth for the dequantized path (which
      // approximates DOT, not cosine — on unit-normalized production
      // embeddings the two coincide)
      val wDot = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("_d").desc, col("neighbor_id"))
      val truthDotDf = vecs
        .select(col("vec_id").as("neighbor_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("cv"))
        .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("qv"))))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("_d", graft.ops.Similarity.dot(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(wDot))
        .filter(col("rank") <= k)
      val truthDot = truthDotDf.select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      def recallVs(df: DataFrame, t: Map[Long, Set[Long]]): Double = {
        val got = df.select(col("query_id"), col("neighbor_id")).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        t.map { case (q, s) =>
          got.get(q).map(g => (g & s).size.toDouble / s.size).getOrElse(0.0)
        }.sum / t.size
      }
      val rIvf4 = recall(graft.ops.Similarity.knnIvf(queries, vecs, k, 4))
      val rIvf16 = recall(graft.ops.Similarity.knnIvf(queries, vecs, k, 16))
      val rQ8 = recall(graft.ops.Similarity.knnQuantized(queries, vecs, k))
      val rQ8Dot = recallVs(
        graft.ops.Similarity.knnQuantizedDot(queries, vecs, k), truthDot)
      // TRAINED quantizer: run the shipped kmeans over the same
      // geometry and measure where between the brackets recall lands
      // — the "codebook training is the lever" claim, demonstrated
      // with the engine's own trainer rather than asserted
      val trained =
        if (!sys.env.get("SPARK_GRAFT_RECALL_TRAIN").contains("1")) ""
        else {
          // ONE kmeans run feeds both faces: the at-rest trained
          // layout (AnnLayout.trainIvf — the shipped end-to-end
          // pipeline, centroids AS the codebook) and the flat
          // relabeled path (same geometry, no layout) for comparison.
          val root = java.nio.file.Files
            .createTempDirectory("recall_trained_ivf").toString
          val cents = graft.io.AnnLayout.trainIvf(vecs, root,
            nClusters, iters = 3)
          val relabeled = vecs.drop("label")
            .join(graft.ops.Similarity.assignNearest(vecs, cents)
              .select(col("vec_id"), col("cluster").cast("int").as("label")),
              Seq("vec_id"))
            .localCheckpoint()
          val t4 = recall(graft.ops.Similarity.knnIvf(queries, relabeled, k, 4))
          val t16 = recall(graft.ops.Similarity.knnIvf(queries, relabeled, k, 16))
          val l4 = recall(graft.io.AnnLayout.knnIvf(spark, root, queries, k, 4))
          val l16 = recall(graft.io.AnnLayout.knnIvf(spark, root, queries, k, 16))
          s""""recall_ivf_trained_nprobe4":$t4,"recall_ivf_trained_nprobe16":$t16,""" +
            s""""recall_ivf_trained_layout_nprobe4":$l4,""" +
            s""""recall_ivf_trained_layout_nprobe16":$l16,"""
        }
      println(s"""{"probe":"ann_recall","vectors":$nVec,"k":$k,""" +
        s""""noise":$noise,""" + trained +
        s""""recall_ivf_nprobe4":$rIvf4,"recall_ivf_nprobe16":$rIvf16,""" +
        s""""recall_q8_raw_vs_cosine":$rQ8,""" +
        s""""recall_q8_dequant_vs_dot":$rQ8Dot,""" +
        s""""scan_frac_nprobe4":${4.0 / nClusters},""" +
        s""""scan_frac_nprobe16":${16.0 / nClusters}}""")
    }

    if (enabled("ann_drift")) {
      // Frozen-codebook drift: appendTrained assigns new batches to a
      // codebook trained on distribution A and never retrains. How
      // fast does recall decay as appended batches DRIFT from A, and
      // does a cheap ONLINE statistic (the per-batch assignment
      // cosine assignNearest already computes) track the decay well
      // enough to gate a retrain? Batches interpolate cluster centers
      // from distribution A to an unrelated distribution B
      // (shift s = 0 → 1); per append we record recall@10 of the
      // frozen layout for queries FROM THE BATCH vs brute-force truth
      // over the union corpus, plus the batch's median/p05 assignment
      // cosine. A final retrain on the drifted corpus measures the
      // recall a triggered rebuild would recover.
      val dims = 32
      val nClusters = 64
      val k = 10
      val n0 = 50000L
      val nBatch = 10000L
      def mkVecs(n: Long, idOffset: Long, shift: Double): DataFrame =
        spark.range(n).select((col("id") + idOffset).as("vec_id"),
          transform(sequence(lit(1), lit(dims)), i => {
            val c = pmod(col("id"), lit(nClusters))
            val centerA = (pmod(hash(c * dims + i), lit(1000)) / 500.0) - 1.0
            val centerB =
              (pmod(hash((c + 1000) * dims + i + 31), lit(1000)) / 500.0) - 1.0
            val noise = ((pmod(hash((col("id") + idOffset) * dims + i),
              lit(1000)) / 500.0) - 1.0) * 0.2
            (centerA * (1.0 - shift) + centerB * shift + noise).cast("float")
          }).as("embedding"))
      val root = java.nio.file.Files.createTempDirectory("ann_drift").toString
      val base = mkVecs(n0, 0L, 0.0).localCheckpoint()
      graft.io.AnnLayout.trainIvf(base, root, nClusters, iters = 3)
      val cents = spark.read.parquet(s"$root/reps")
        .select(col("label").as("cluster"), col("rep_vec").as("cv"))
        .localCheckpoint()
      var corpus = base
      def recallOf(layoutRoot: String, queries: DataFrame,
          truth: Map[Long, Set[Long]], nprobe: Int): Double = {
        val got = graft.io.AnnLayout
          .knnIvf(spark, layoutRoot, queries, k, nprobe)
          .select(col("query_id"), col("neighbor_id")).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        truth.map { case (q, t) =>
          got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
        }.sum / truth.size
      }
      val steps = Seq(0.0, 0.25, 0.5, 0.75, 1.0).zipWithIndex.map {
        case (s, bi) =>
          val batch = mkVecs(nBatch, 1000000L * (bi + 1), s).localCheckpoint()
          // online drift statistic BEFORE the append — what a live
          // pipeline would gate on
          val assigned = graft.ops.Similarity.assignNearest(batch, cents)
            .select(col("cluster"), col("cosine")).collect()
          val cos = assigned.map(_.getDouble(1)).sorted
          val p50 = cos(cos.length / 2)
          val p05 = cos(cos.length / 20)
          // occupancy: drift's real cost is CROWDING — drifted data
          // piling into few frozen cells makes probed partitions huge
          // (scan cost), even while recall holds
          val occ = assigned.groupBy(_.getLong(0)).view.mapValues(_.length)
          val topShare = occ.values.max.toDouble / assigned.length
          val cellsUsed = occ.size
          graft.io.AnnLayout.appendTrained(batch, root)
          corpus = corpus.unionByName(batch).localCheckpoint()
          val queries = batch.filter(col("vec_id") % lit(nBatch / 25) === 0)
          val truth = graft.ops.Similarity.knnBruteForce(queries, corpus, k)
            .select(col("query_id"), col("neighbor_id")).collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
            .toMap
          val r4 = recallOf(root, queries, truth, 4)
          val r16 = recallOf(root, queries, truth, 16)
          (s, p50, p05, topShare, cellsUsed, r4, r16, truth, queries)
      }
      // retrain on the full drifted corpus: the recall a triggered
      // rebuild recovers for the LAST (most drifted) batch's queries
      val root2 = java.nio.file.Files
        .createTempDirectory("ann_drift_retrain").toString
      graft.io.AnnLayout.trainIvf(corpus, root2, nClusters, iters = 3)
      val (_, _, _, _, _, _, _, lastTruth, lastQueries) = steps.last
      val retrained4 = recallOf(root2, lastQueries, lastTruth, 4)
      val retrained16 = recallOf(root2, lastQueries, lastTruth, 16)
      val stepJson = steps.map {
        case (s, p50, p05, topShare, cellsUsed, r4, r16, _, _) =>
          s"""{"shift":$s,"assign_cos_p50":$p50,"assign_cos_p05":$p05,""" +
            s""""top_cell_share":$topShare,"cells_used":$cellsUsed,""" +
            s""""recall_nprobe4":$r4,"recall_nprobe16":$r16}"""
      }.mkString("[", ",", "]")
      println(s"""{"probe":"ann_drift","base_vectors":$n0,""" +
        s""""batch_vectors":$nBatch,"clusters":$nClusters,"k":$k,""" +
        s""""steps":$stepJson,""" +
        s""""retrained_recall_nprobe4":$retrained4,""" +
        s""""retrained_recall_nprobe16":$retrained16}""")
    }

    if (enabled("knn_graph_recall")) {
      // Edge recall of the cluster-bucketed kNN graph vs brute-force
      // truth, single- vs multi-probe: a single-probe graph cannot
      // see a true neighbor whose cluster differs from the vector's
      // own. On planted clusters matched by the trained codebook that
      // blind spot never fires (measured 1.0 at probe 1 — cells ==
      // natural clusters, no boundary pairs); the HONEST hard regime
      // is structureless data, where k-means cells are arbitrary
      // partitions of a continuum and true neighborhoods straddle
      // every boundary. Corpus: hash-uniform vectors, no planted
      // structure. Measured: does probing the second-nearest cell
      // close the gap?
      val dims = 32
      val nClusters = 64
      val k = 5
      val nVec = 50000L
      def corpusOf(planted: Boolean): DataFrame =
        spark.range(nVec).select(
          col("id").as("vec_id"),
          transform(sequence(lit(1), lit(dims)), i => {
            val u = (pmod(hash(col("id") * dims + i), lit(2000000))
              / 1000000.0) - 1.0
            (if (!planted) u
             else (pmod(hash(pmod(col("id"), lit(nClusters)) * dims + i),
               lit(1000)) / 500.0) - 1.0 + u * 0.6)
              .cast("float")
          }).as("embedding"))
          .localCheckpoint()
      def regime(planted: Boolean): (Double, Double, Double) = {
        val vecs = corpusOf(planted)
        val cents = graft.ops.Similarity.kmeans(vecs, nClusters, iters = 2)
          .localCheckpoint()
        val sample = vecs.filter(col("vec_id") % lit(nVec / 200) === 0)
        val truth = graft.ops.Similarity.knnBruteForce(sample, vecs, k)
          .select(col("query_id"), col("neighbor_id")).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        def edgeRecall(probes: Int): Double = {
          val got = graft.ops.Similarity
            .knnGraphMultiProbe(vecs, cents, k, probes)
            .join(sample.select(col("vec_id")), Seq("vec_id"), "left_semi")
            .select(col("vec_id"), col("neighbor_id")).collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
          truth.map { case (q, t) =>
            got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
          }.sum / truth.size
        }
        (edgeRecall(1), edgeRecall(2), edgeRecall(4))
      }
      val (p1, p2, p4) = regime(planted = true)
      val (u1, u2, u4) = regime(planted = false)
      println(s"""{"probe":"knn_graph_recall","vectors":$nVec,"k":$k,""" +
        s""""clusters":$nClusters,""" +
        s""""planted_edge_recall_probe1":$p1,""" +
        s""""planted_edge_recall_probe2":$p2,""" +
        s""""planted_edge_recall_probe4":$p4,""" +
        s""""uniform_edge_recall_probe1":$u1,""" +
        s""""uniform_edge_recall_probe2":$u2,""" +
        s""""uniform_edge_recall_probe4":$u4}""")
    }

    if (enabled("unigram")) {
      // Unigram.train's scale claim measured, the bpe probe's shape:
      // the corpus is touched once (the word-frequency agg); every EM
      // round then runs on the distinct-word table, whose size is
      // FIXED (10k words) regardless of corpus size — 1M → 4M docs
      // should scale the word-agg term ~4× and leave the per-round
      // term flat. 20-word docs drawn hash-deterministically from the
      // shared vocab.
      for (n <- Seq(1000000L, 4000000L)) {
        val words = (0 until 20).map(i =>
          concat(lit("w"), pmod(hash(col("id") * 20 + i), lit(10000L))))
        val docs = spark.range(n)
          .select(col("id").as("doc_id"),
            concat_ws(" ", words: _*).as("text"))
        def wordAgg(): Long =
          graft.ops.Unigram.wordTable(docs, "text").count()
        wordAgg() // warm codegen/scan
        val tA0 = System.nanoTime()
        wordAgg()
        val tAgg = (System.nanoTime() - tA0) / 1e9
        val iters = 3
        val tT0 = System.nanoTime()
        val model = graft.ops.Unigram.train(docs, "text",
          vocabSize = 8000, iters = iters, maxPieceLen = 5)
        val tTrain = (System.nanoTime() - tT0) / 1e9
        // SOFT (forward-backward) EM head-to-head: extra per-round
        // cost, vocab agreement, and the encode-level token delta —
        // does the real SentencePiece E-step change what the
        // tokenizer DOES, or only how it is derived?
        val tS0 = System.nanoTime()
        val modelSoft = graft.ops.Unigram.trainSoft(docs, "text",
          vocabSize = 8000, iters = iters, maxPieceLen = 5)
        val tSoft = (System.nanoTime() - tS0) / 1e9
        val hardSet = model.map(_._1).toSet
        val softSet = modelSoft.map(_._1).toSet
        val agree = (hardSet & softSet).size.toDouble / hardSet.size
        def nPieces(m: Seq[(String, Long)]): Long =
          graft.ops.Unigram.encodeDocs(
              docs.limit(20000), "doc_id", "text", m, 5)
            .select(aggregate(col("pieces"), lit(0L),
              (a, w) => a + size(w)).as("np"))
            .agg(sum("np")).head().getLong(0)
        val npHard = nPieces(model.map(t => (t._1, t._3)))
        val npSoft = nPieces(modelSoft.map(t => (t._1, t._3)))
        println(s"""{"probe":"unigram","docs":$n,"vocab_words":10000,""" +
          s""""target_pieces":8000,"iters":$iters,""" +
          s""""word_agg_sec":$tAgg,"train_sec":$tTrain,""" +
          s""""em_iter_sec":${(tTrain - tAgg) / iters},""" +
          s""""model_pieces":${model.size},""" +
          s""""soft_train_sec":$tSoft,""" +
          s""""soft_em_iter_sec":${(tSoft - tAgg) / iters},""" +
          s""""vocab_agreement":$agree,""" +
          s""""encode_pieces_hard":$npHard,"encode_pieces_soft":$npSoft,""" +
          s""""encode_delta_frac":${
            math.abs(npHard - npSoft).toDouble / npHard}}""")
      }
    }

    if (enabled("classifier_width")) {
      // The cataloged quality trainer runs B=64 for oracle size; a
      // production fastText-shaped gate hashes into 2^17..2^21
      // buckets. Measure per-round cost and label-agreement accuracy
      // as B widens on a corpus whose vocabulary (100k words) makes
      // collisions the accuracy limiter, and note where the B-row
      // weight table stops being broadcast-class.
      val nDocs = 1000000L
      val words = (0 until 20).map(i =>
        concat(lit("w"), pmod(hash(col("id") * 20 + i), lit(100000L))))
      val docs = spark.range(nDocs)
        .select(col("id").as("doc_id"),
          concat_ws(" ", words: _*).as("text"))
        .localCheckpoint()
      val label = graft.ops.TextOps.hashedLinearScore(
        graft.ops.TextOps.tokens(col("text"))) > 0
      val results = Seq(64, 4096, 262144).map { b =>
        val t0 = System.nanoTime()
        val w = graft.ops.Classify.trainHashedLogistic(
          docs, "doc_id", "text", label, buckets = b, iters = 3)
        val tTrain = (System.nanoTime() - t0) / 1e9
        val acc = graft.ops.Classify.scoreHashedLogistic(
            docs, "doc_id", "text", w, b)
          .join(docs.select(col("doc_id"), label.as("y")), Seq("doc_id"))
          .select(avg((col("keep") === col("y")).cast("double")).as("a"))
          .head().getDouble(0)
        val nonZero = w.count(_ != 0L)
        s"""{"buckets":$b,"train_sec":$tTrain,""" +
          s""""round_sec":${tTrain / 3},"accuracy":$acc,""" +
          s""""nonzero_weights":$nonZero}"""
      }
      // depth leg: same widest model, 12 rounds — is 3-round accuracy
      // a width limit or an underfit?
      val wDeep = graft.ops.Classify.trainHashedLogistic(
        docs, "doc_id", "text", label, buckets = 262144, iters = 12)
      val accDeep = graft.ops.Classify.scoreHashedLogistic(
          docs, "doc_id", "text", wDeep, 262144)
        .join(docs.select(col("doc_id"), label.as("y")), Seq("doc_id"))
        .select(avg((col("keep") === col("y")).cast("double")).as("a"))
        .head().getDouble(0)
      println(s"""{"probe":"classifier_width","docs":$nDocs,""" +
        s""""vocab_words":100000,"iters":3,""" +
        s""""widths":${results.mkString("[", ",", "]")},""" +
        s""""accuracy_b262144_iters12":$accDeep}""")
    }

    if (enabled("pq")) {
      // Product quantization at rest, honestly sized: FULL-ENTROPY
      // components (the round-9 lesson — low-entropy synthetics let
      // parquet dictionary-encode floats and fake the ratio), 100k ×
      // 64-dim. Measure bytes on disk (float32 vs SQ8 vs PQ m=8/k=256)
      // and recall@10 of decoded-dot vs exact dot.
      val dims = 64
      val nVec = 100000L
      val vecs = spark.range(nVec).select(
        col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i =>
          ((pmod(hash(col("id") * dims + i), lit(2000000)) / 1000000.0) - 1.0)
            .cast("float")).as("embedding"))
        .localCheckpoint()
      val root = java.nio.file.Files.createTempDirectory("pq_probe").toString
      def dirBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(p))
      }
      vecs.write.parquet(s"$root/float")
      graft.ops.Similarity.q8CodesScaled(vecs, "vec_id", "embedding",
          "vec_id", "codes", "scale")
        .withColumn("codes", col("codes").cast("array<tinyint>"))
        .write.parquet(s"$root/sq8")
      val tT0 = System.nanoTime()
      val model = graft.ops.Pq.train(vecs, m = 8, k = 256, iters = 2)
      val tTrain = (System.nanoTime() - tT0) / 1e9
      val tE0 = System.nanoTime()
      val codes = graft.ops.Pq.encode(vecs, model).localCheckpoint()
      codes.write.parquet(s"$root/pq")
      val tEncode = (System.nanoTime() - tE0) / 1e9
      val bFloat = dirBytes(s"$root/float")
      val bSq8 = dirBytes(s"$root/sq8")
      val bPq = dirBytes(s"$root/pq")
      // recall@10 vs exact dot, 50 queries
      val queries = vecs.filter(col("vec_id") % lit(nVec / 50) === 0)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d").desc, col("neighbor_id"))
      val truth = vecs.select(col("vec_id").as("neighbor_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("cv"))
        .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("qv"))))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("d", graft.ops.Similarity.dot(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val got = graft.ops.Pq.knnDecoded(queries, codes, model, 10)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val recall = truth.map { case (q, t) =>
        got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
      }.sum / truth.size
      // planted-structure leg: the regime real embedding corpora live
      // in (cluster structure, noise 0.6) — uniform full-entropy above
      // is the adversarial bound
      val planted = spark.range(nVec).select(
        col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i =>
          ((pmod(hash(pmod(col("id"), lit(256)) * dims + i), lit(1000))
            / 500.0) - 1.0 +
           ((pmod(hash(col("id") * dims + i), lit(1000)) / 500.0) - 1.0)
             * 0.6)
            .cast("float")).as("embedding"))
        .localCheckpoint()
      val modelP = graft.ops.Pq.train(planted, m = 8, k = 256, iters = 2)
      val codesP = graft.ops.Pq.encode(planted, modelP).localCheckpoint()
      val queriesP = planted.filter(col("vec_id") % lit(nVec / 50) === 0)
      val truthP = planted.select(col("vec_id").as("neighbor_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("cv"))
        .crossJoin(broadcast(queriesP.select(col("vec_id").as("query_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("qv"))))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("d", graft.ops.Similarity.dot(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val gotP = graft.ops.Pq.knnDecoded(queriesP, codesP, modelP, 10)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val recallP = truthP.map { case (q, t) =>
        gotP.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
      }.sum / truthP.size
      // the deployment shape: 100-deep PQ shortlist + exact rerank
      def recallRerank(qdf: DataFrame, cdf: DataFrame, corp: DataFrame,
          mdl: graft.ops.Pq.PqModel,
          truthMap: Map[Long, Set[Long]]): Double = {
        val got = graft.ops.Pq.knnRerank(qdf, cdf, mdl, corp,
            k = 10, shortlist = 100)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        truthMap.map { case (q, t) =>
          got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
        }.sum / truthMap.size
      }
      val recallRerankU = recallRerank(queries, codes, vecs, model, truth)
      val recallRerankP = recallRerank(queriesP, codesP, planted, modelP,
        truthP)
      // shortlist depth curve (planted regime): where is the knee?
      def recallShortlist(depth: Int): Double = {
        val got = graft.ops.Pq.knnRerank(queriesP, codesP, modelP, planted,
            k = 10, shortlist = depth)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        truthP.map { case (q, t) =>
          got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
        }.sum / truthP.size
      }
      val curve = Seq(50, 100, 200, 400).map(d =>
        s""""rerank$d":${recallShortlist(d)}""").mkString(",")
      // RESIDUAL PQ (the classic IVF-PQ refinement): quantize
      // x − coarseCentroid(x) instead of x. Does it buy recall at
      // equal bits on the structured regime where residuals are
      // small?
      val coarse = graft.ops.Similarity.kmeans(planted, 64, iters = 2)
        .localCheckpoint()
      val assignedP = graft.ops.Similarity.assignNearest(planted, coarse)
        .select(col("vec_id"), col("cluster"))
      val resid = planted.join(assignedP, Seq("vec_id"))
        .join(coarse.select(col("cluster"),
          col("cv").as("_cc")), Seq("cluster"))
        .select(col("vec_id"), col("cluster"),
          zip_with(graft.ops.Similarity.asDouble(col("embedding")),
            col("_cc"), (a, b) => (a - b).cast("float")).as("embedding"))
        .localCheckpoint()
      val modelR = graft.ops.Pq.train(resid, m = 8, k = 256, iters = 2)
      val codesR = graft.ops.Pq.encode(resid, modelR).localCheckpoint()
      // decoded vector = coarse centroid + decoded residual
      val decodedR = codesR
        .join(assignedP, Seq("vec_id"))
        .join(coarse.select(col("cluster"), col("cv").as("_cc")),
          Seq("cluster"))
        .select(col("vec_id").as("neighbor_id"),
          zip_with(col("_cc"),
            graft.ops.Pq.decodeExpr(col("codes"), modelR),
            (a, b) => a + b).as("cv"))
      val gotR = decodedR
        .crossJoin(broadcast(queriesP.select(col("vec_id").as("query_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("qv"))))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("d", graft.ops.Similarity.dot(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val recallResid = truthP.map { case (q, t) =>
        gotR.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
      }.sum / truthP.size
      println(s"""{"probe":"pq","vectors":$nVec,"dims":$dims,""" +
        s""""m":8,"k":256,"train_sec":$tTrain,"encode_sec":$tEncode,""" +
        s""""bytes_float":$bFloat,"bytes_sq8":$bSq8,"bytes_pq":$bPq,""" +
        s""""ratio_float_over_pq":${bFloat.toDouble / bPq},""" +
        s""""ratio_float_over_sq8":${bFloat.toDouble / bSq8},""" +
        s""""recall_at10_uniform":$recall,""" +
        s""""recall_at10_planted":$recallP,""" +
        s""""recall_at10_rerank100_uniform":$recallRerankU,""" +
        s""""recall_at10_rerank100_planted":$recallRerankP,""" +
        s""""shortlist_curve_planted":{$curve},""" +
        s""""recall_at10_residual_planted":$recallResid}""")
    }

    if (enabled("para_skew")) {
      // dedupParagraphs under the worst realistic skew: boilerplate
      // (header/license/navigation) shared by EVERY document, so one
      // 128-bit paragraph hash carries nDocs occurrences into the
      // tag-back equality join — the hot-key case the operator's
      // scaladoc claims survives (partial agg collapses the min
      // map-side; the join skew is AQE's to split). Measured against
      // a boilerplate-free corpus of identical size and paragraph
      // count as the control.
      val nDocs = sys.env.get("SPARK_GRAFT_PARA_DOCS")
        .map(_.toLong).getOrElse(1000000L)
      def corpus(boiler: Boolean): DataFrame = {
        val uniq = (0 until 3).map(j =>
          concat(lit("u"), col("id") * 3 + j, lit(" w"),
            pmod(hash(col("id") * 3 + j), lit(1000))))
        val paras = if (boiler) lit("shared header boilerplate") +: uniq
                    else concat(lit("u"), col("id") * 7, lit("x")) +: uniq
        spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws("\n", paras: _*).as("text"))
      }
      def run(df: DataFrame) =
        time(graft.ops.Dedup.dedupParagraphs(df, "doc_id", "text"))
      run(corpus(boiler = false)) // warm codegen on the control shape
      val (tCtl, rCtl) = run(corpus(boiler = false))
      val (tHot, rHot) = run(corpus(boiler = true))
      println(s"""{"probe":"para_skew","docs":$nDocs,""" +
        s""""control_sec":$tCtl,"control_docs_out":$rCtl,""" +
        s""""hotkey_sec":$tHot,"hotkey_docs_out":$rHot,""" +
        s""""slowdown":${tHot / tCtl}}""")
    }

    if (enabled("para_skew_join")) {
      // The r8 verdict ask: AQE skew-split vs Skew.saltedJoin measured
      // on the SAME boilerplate-skew corpus the para_skew probe uses —
      // the tag-back equality join (paras ⋈ first on _pd_h) where ONE
      // 128-bit hash carries nDocs occurrences. The structural
      // difference from the round-3 hot-key-join measurement (20M
      // facts ⋈ 5k dim, where salting won 2×): here the build side is
      // CORPUS-SIZED (one row per distinct paragraph), so saltedJoin's
      // full-replication of `other` costs salts × |distinct paras|
      // extra rows — the regime where salting's precondition (small
      // dim) fails and AQE's split-only-the-straggler approach is the
      // right tool. Both are measured rather than asserted.
      val nDocs = sys.env.get("SPARK_GRAFT_PARA_DOCS")
        .map(_.toLong).getOrElse(1000000L)
      def corpus: DataFrame = {
        val uniq = (0 until 3).map(j =>
          concat(lit("u"), col("id") * 3 + j, lit(" w"),
            pmod(hash(col("id") * 3 + j), lit(1000))))
        val paras = lit("shared header boilerplate") +: uniq
        spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws("\n", paras: _*).as("text"))
      }
      val paras = graft.ops.Dedup.paragraphTable(corpus, "doc_id", "text")
        .localCheckpoint(true)
      val first = graft.ops.Dedup.firstParagraphOccurrence(paras)
        .localCheckpoint(true)
      def withConf[A](kvs: (String, String)*)(body: => A): A = {
        val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
        kvs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body finally prior.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      // broadcast disabled: at probe scale `first` (~3M rows) can slip
      // under a generous driver and broadcast away the very skew being
      // measured; at 100 TB it never could.
      def noBcast[A](body: => A): A =
        withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
      def tagJoin = paras.join(first, Seq("_pd_h"))
      time(noBcast(tagJoin)) // warm
      val (tDefault, nJ) = time(noBcast(tagJoin))
      val (tForced, _) = time(noBcast(withConf(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")(tagJoin)))
      val (tSalted, nS) = time(noBcast(graft.ops.Skew.saltedJoin(
        paras, first, "_pd_h", "_pd_id", salts = 8)))
      require(nS == nJ, s"salted join changed the result: $nS vs $nJ")
      println(s"""{"probe":"para_skew_join","docs":$nDocs,""" +
        s""""joined_rows":$nJ,"aqe_default_sec":$tDefault,""" +
        s""""aqe_forced_sec":$tForced,"salted8_sec":$tSalted}""")
    }

    if (enabled("weighted_sample")) {
      // Sample.weightedSample at corpus scale. The shape claim: the w
      // 52-bit draws are ONE map-side array expression (no per-copy
      // rows) and the winners come from ONE bounded-state top-k agg
      // (exchange ≤ parts·k pairs) — against the formulation a user
      // would write first: explode the w copies, groupBy-max the nR
      // per-doc priorities (a full-width shuffle of one row per doc),
      // then the same top-k. Same verdicts, one extra corpus-sized
      // exchange — the number that matters at 100 TB.
      val nR = sys.env.get("SPARK_GRAFT_WS_ROWS")
        .map(_.toLong).getOrElse(20000000L)
      val kW = 1000
      val rows = spark.range(nR).select(col("id"),
        (lit(1) + pmod(col("id"), lit(4))).cast("int").as("w"))
      def topk(prio: DataFrame) = prio
        .agg(graft.functions.TopK.topKBy(
          col("_ws_p").cast("double"), col("id"), kW).as("kept"))
        .select(explode(col("kept")))
      def drawExpr(j: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit("p|"), col("id").cast("string"),
          lit("|"), j.cast("string")).cast("binary")), 1, 13), 16, 10)
          .cast("long")
      time(graft.ops.Sample.weightedSample( // warm
        rows.limit(1000000), col("id"), col("w"), kW, seed = "p"))
      val (tMap, _) = time(graft.ops.Sample.weightedSample(
        rows, col("id"), col("w"), kW, seed = "p"))
      val exploded = rows
        .select(col("id"), explode(sequence(lit(1), col("w"))).as("j"))
        .select(col("id"), drawExpr(col("j")).as("d"))
        .groupBy("id").agg(max(col("d")).as("_ws_p"))
      val (tExplode, _) = time(topk(exploded))
      println(s"""{"probe":"weighted_sample","rows":$nR,"k":$kW,""" +
        s""""map_side_sec":$tMap,"explode_groupby_sec":$tExplode,""" +
        s""""rows_per_sec":${(nR / tMap).toLong}}""")
    }

    if (enabled("quantile_sketch")) {
      // Exact percentile vs the bottom-k sample sketch at 50M rows ×
      // 100 groups: exact `percentile` collects EVERY group value into
      // agg state (500k doubles per group here — at 100 TB, the whole
      // group), the sketch holds ≤ 2k longs per group whatever the
      // group size. Also reports the sketch's worst-group relative
      // p50 deviation — the accuracy actually bought for the state cut.
      val nRows = sys.env.get("SPARK_GRAFT_QSKETCH_ROWS")
        .map(_.toLong).getOrElse(50000000L)
      val kQ = 256
      val rows = spark.range(nRows).select(
        pmod(col("id"), lit(100)).as("g"),
        col("id").as("rid"),
        (pmod(hash(col("id")), lit(1000000)) / lit(1000.0)).as("v"))
      val (tEx, _) = time(rows.groupBy("g").agg(
        percentile(col("v"), lit(0.5)).as("p50"),
        percentile(col("v"), lit(0.95)).as("p95")))
      val sk = rows.select(col("g"),
          graft.functions.Sketches.md5Hash60("p|", col("rid").cast("string")).as("h"),
          col("v"))
        .groupBy("g")
        .agg(graft.functions.Sketches.bottomKSample(col("h"), col("v"), kQ).as("kept"))
        .withColumn("vs", graft.functions.Sketches.sampleValues(col("kept")))
        .select(col("g"),
          graft.functions.Sketches.sampleQuantile(col("vs"), 0.5).as("p50s"),
          graft.functions.Sketches.sampleQuantile(col("vs"), 0.95).as("p95s"))
      val (tSk, _) = time(sk)
      val dev = rows.groupBy("g").agg(percentile(col("v"), lit(0.5)).as("p50"))
        .join(sk, Seq("g"))
        .select(max(abs(col("p50s") - col("p50")) / col("p50")).as("d"))
        .collect()(0).getDouble(0)
      println(s"""{"probe":"quantile_sketch","rows":$nRows,"groups":100,""" +
        s""""k":$kQ,"exact_sec":$tEx,"sketch_sec":$tSk,""" +
        s""""max_rel_p50_dev":$dev}""")
    }

    if (enabled("topk_grouped")) {
      // grouped top-5 at 50M rows × 1000 groups: the row_number window
      // (shuffles + sorts EVERY row into its group) vs TopKByAggregator
      // (map-side partial keeps ≤ k pairs per partition×group; the
      // exchange carries ~parts·groups·k rows). Identical output —
      // SketchSpec pins the equality; this point records the cost gap.
      import org.apache.spark.sql.expressions.Window
      val nRows = sys.env.get("SPARK_GRAFT_TOPK_ROWS")
        .map(_.toLong).getOrElse(50000000L)
      val rows = spark.range(nRows).select(
        pmod(col("id"), lit(1000)).as("g"),
        col("id").as("rid"),
        (pmod(hash(col("id")), lit(1000000)) / lit(1000.0)).as("v"))
      val w = Window.partitionBy(col("g"))
        .orderBy(col("v").desc, col("rid").asc)
      val (tGen, _) = time(rows) // the shared row-generation floor
      val (tW, nW) = time(rows.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5))
      val (tA, nA) = time(rows.groupBy("g")
        .agg(graft.functions.TopK.topKBy(col("v"), col("rid"), 5).as("kept"))
        .select(col("g"), posexplode(col("kept")).as(Seq("pos", "p"))))
      val opW = tW - tGen
      val opA = tA - tGen
      println(s"""{"probe":"topk_grouped","rows":$nRows,"groups":1000,""" +
        s""""gen_floor_sec":$tGen,"window_sec":$tW,"window_rows":$nW,""" +
        s""""agg_sec":$tA,"agg_rows":$nA,""" +
        s""""op_window_sec":$opW,"op_agg_sec":$opA,""" +
        s""""op_speedup":${opW / opA}}""")
    }
    if (enabled("margin_lookup")) {
      // The three ways to score a frozen B-bucket linear model over
      // hashed features, at stream-serving time:
      //   map-literal  element_at(map, key)  — LINEAR scan of the
      //     literal per lookup (the measured 10× Unigram lesson;
      //     why hashedLogisticMargin is documented small-B-only),
      //   array-literal element_at(arr, b+1) — O(1) positional access
      //     (the q_stream_dsir design),
      //   broadcast-join + keyed agg        — the batch serving face.
      // Timed as agg(sum(z)) over the OUTPUT (count() would let
      // Catalyst prune the scoring work entirely — the round-9 trap).
      import graft.ops.{Classify, Dsir}
      val nDocs = sys.env.get("SPARK_GRAFT_MARGIN_DOCS")
        .map(_.toLong).getOrElse(200000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(40)),
          i => concat(lit("w"),
            pmod(hash(col("id") * 131 + i), lit(100000)))))
          .as("text"))
        .localCheckpoint() // freeze generation out of the timings
      def wArrOf(b: Int): Array[Long] =
        Array.tabulate(b)(i => ((i * 2654435761L) % 1024) - 512)
      def viaMap(b: Int): DataFrame = {
        val wm = typedLit(wArrOf(b).toIndexedSeq.zipWithIndex
          .map { case (w, i) => i.toLong -> w }.toMap)
        docs.select(aggregate(
          transform(Dsir.featureArr(col("text")),
            f => element_at(wm, Classify.bucketOf(f, b, seed = "d"))),
          lit(0L), (acc, x) => acc + x).as("z"))
      }
      def viaArr(b: Int): DataFrame =
        docs.select(Dsir.importanceMargin(col("text"), wArrOf(b), b).as("z"))
      def viaJoin(b: Int): DataFrame = {
        import spark.implicits._
        val wdf = wArrOf(b).toIndexedSeq.zipWithIndex
          .map { case (w, i) => (i.toLong, w) }.toDF("b", "w")
        Dsir.importance(docs, "doc_id", "text", wdf, b)
      }
      def timeSum(df: => DataFrame): (Double, Long) = {
        val t0 = System.nanoTime()
        val s = df.agg(sum(col("z"))).head().getLong(0)
        ((System.nanoTime() - t0) / 1e9, s)
      }
      timeSum(viaArr(64)) // warm codegen once
      val (tM64, sM64) = timeSum(viaMap(64))
      val (tM4k, sM4k) = timeSum(viaMap(4096))
      val (tA64, sA64) = timeSum(viaArr(64))
      val (tA4k, sA4k) = timeSum(viaArr(4096))
      val (tJ4k, sJ4k) = timeSum(viaJoin(4096))
      require(sM64 == sA64 && sM4k == sA4k && sA4k == sJ4k,
        s"scoring disagreement: $sM64/$sA64 $sM4k/$sA4k/$sJ4k")
      println(s"""{"probe":"margin_lookup","docs":$nDocs,"toks_per_doc":40,""" +
        s""""map_b64_sec":$tM64,"map_b4096_sec":$tM4k,""" +
        s""""arr_b64_sec":$tA64,"arr_b4096_sec":$tA4k,""" +
        s""""join_b4096_sec":$tJ4k,""" +
        s""""map_blowup_64_to_4096":${tM4k / tM64},""" +
        s""""arr_blowup_64_to_4096":${tA4k / tA64}}""")
    }

    if (enabled("backoff_lm")) {
      // Stupid-backoff trigram scoring at volume: 1M docs × 40 tokens
      // (40M training tokens), vocabulary with natural-language skew
      // (half of all occurrences drawn from a 100-word head, half from
      // a 100k-word tail) — the 'the'-skew lands on the c2/c3 join
      // probe side, where the build side is pre-aggregated one row
      // per n-gram (the operator's skew-safety claim, here measured).
      // Timed over the output sum, not count().
      import graft.ops.NgramLm
      val nDocs = sys.env.get("SPARK_GRAFT_LM_DOCS")
        .map(_.toLong).getOrElse(1000000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(40)), i => {
          val h = hash(col("id") * 131 + i)
          concat(lit("w"), when(pmod(h, lit(2)) === 0,
            pmod(hash(h), lit(100))).otherwise(pmod(hash(h), lit(100000))))
        })).as("text"))
        .localCheckpoint()
      val t0 = System.nanoTime()
      val nTri = NgramLm.trigramCounts(docs, "doc_id", "text")
        .agg(sum(col("cnt"))).head().getLong(0)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val mass = NgramLm.scoreBackoff(docs, "doc_id", "text")
        .agg(sum(col("sb_mass")), count(lit(1))).head()
      val tScore = (System.nanoTime() - t1) / 1e9
      val toks = nDocs * 40
      println(s"""{"probe":"backoff_lm","docs":$nDocs,"tokens":$toks,""" +
        s""""trigram_count_sec":$tTrain,"trigram_occurrences":$nTri,""" +
        s""""train_and_score_sec":$tScore,"scored_docs":${mass.getLong(1)},""" +
        s""""score_tokens_per_sec":${toks / tScore}}""")
    }

    if (enabled("footer_audit")) {
      // At-rest crowding audit cost: parquet-footer row counts
      // (layoutRowStats — driver listing + one footer fetch per file)
      // vs the corpus-scan alternative (groupBy(label).count over the
      // layout) on a 1M×32d trained IVF layout with multi-file
      // partitions. The audit's cost scales with FILE COUNT; the
      // scan's with corpus bytes — the gap is what makes a per-layout
      // periodic audit free at 100 TB.
      val dims = 32
      val nClusters = 64
      val n = 1000000L
      def mkVecs(lo: Long, hi: Long): DataFrame =
        spark.range(lo, hi).select(col("id").as("vec_id"),
          transform(sequence(lit(1), lit(dims)), i => {
            val c = pmod(col("id"), lit(nClusters))
            val center = (pmod(hash(c * dims + i), lit(1000)) / 500.0) - 1.0
            val noise =
              ((pmod(hash(col("id") * dims + i), lit(1000)) / 500.0) - 1.0) * 0.2
            (center + noise).cast("float")
          }).as("embedding"))
      val root = java.nio.file.Files
        .createTempDirectory("footer_audit").toString
      graft.io.AnnLayout.trainIvf(mkVecs(0L, n / 2), root, nClusters,
        iters = 2)
      (0 until 4).foreach { b =>
        graft.io.AnnLayout.appendTrained(
          mkVecs(n / 2 + b * n / 8, n / 2 + (b + 1) * n / 8), root)
      }
      val t0 = System.nanoTime()
      val stats = graft.io.AnnLayout.layoutRowStats(spark, root)
      val tFooter = (System.nanoTime() - t0) / 1e9
      val files = stats.map(_._2).sum
      val rowsF = stats.map(_._4).sum
      val t1 = System.nanoTime()
      val rowsS = spark.read.parquet(s"$root/corpus")
        .groupBy("label").count().agg(sum("count")).head().getLong(0)
      val tScan = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val audit = graft.io.AnnLayout.auditTrained(spark, root)
      val tAudit = (System.nanoTime() - t2) / 1e9
      require(rowsF == rowsS, s"footer rows $rowsF != scan rows $rowsS")
      println(s"""{"probe":"footer_audit","vectors":$n,"files":$files,""" +
        s""""cells":${stats.length},"footer_stats_sec":$tFooter,""" +
        s""""scan_count_sec":$tScan,"audit_sec":$tAudit,""" +
        s""""top_cell_share":${audit.topCellShare}}""")
    }

    if (enabled("bm25_index")) {
      // Inverted-index selectivity at volume: 500k docs × 20 tokens,
      // log-uniform (Zipf-like) term ids over a 50k vocab; 5 queries
      // of 8 mid-frequency terms each. Measured: end-to-end bm25TopK
      // wall, the candidate fraction the term-equality join admits
      // (vs the |Q|·|C| a dense scorer would touch), and the same
      // query with one corpus-wide stopword added — the skew case
      // (a stopword admits ~every doc; BM25's negative iq then ranks
      // it away, but the JOIN still pays for it — the measured
      // argument for stopword pre-pruning at 100 TB).
      import graft.ops.Retrieval
      val nd = 500000L
      val toksPerDoc = 20
      val docsP = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until toksPerDoc).map(i =>
          concat(lit("t"), floor(pow(lit(50000.0),
            pmod(hash(col("id") * toksPerDoc + i), lit(1000000)) / 1000000.0))
            .cast("long").cast("string"))): _*).as("text"))
        .localCheckpoint()
      // mid-frequency terms: ids around 1000..1040
      val qdf = spark.range(5).select(col("id").as("query_id"),
        concat_ws(" ", (0 until 8).map(i =>
          concat(lit("t"), (lit(1000) + col("id") * 8 + i).cast("string"))): _*)
          .as("text")).localCheckpoint()
      val tB0 = System.nanoTime()
      val idx0 = Retrieval.buildIndex(docsP)
      val idx = Retrieval.Bm25Index(idx0.postings.localCheckpoint(),
        idx0.df.localCheckpoint(), idx0.dl.localCheckpoint(),
        idx0.nDocs, idx0.avgdl)
      val tBuild = (System.nanoTime() - tB0) / 1e9
      val tQ0 = System.nanoTime()
      val topkFrozen = Retrieval.bm25Query(idx, qdf, k = 10).count()
      val tFrozen = (System.nanoTime() - tQ0) / 1e9
      val t0 = System.nanoTime()
      val topk = Retrieval.bm25TopK(docsP, qdf, k = 10).count()
      val tQ = (System.nanoTime() - t0) / 1e9
      // candidate fraction: pairs admitted by the term join
      val toks = docsP.select(col("doc_id"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").count()
      val qt = qdf.select(col("query_id"),
        explode(array_distinct(graft.ops.TextOps.tokens(col("text")))).as("term"))
      val candPairs = toks.join(broadcast(qt), Seq("term"))
        .select("query_id", "doc_id").distinct().count()
      // the stopword case: append t1 (the most frequent term) to a query
      val qStop = spark.range(1).select(lit(9L).as("query_id"),
        lit((0 until 8).map(i => s"t${1000 + i}").mkString(" ") + " t1").as("text"))
      val t1 = System.nanoTime()
      val topkStop = Retrieval.bm25Query(idx, qStop, k = 10).count()
      val tStop = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val topkPruned = Retrieval.bm25Query(idx, qStop, k = 10,
        maxDfPpm = 100000L).count()
      val tPruned = (System.nanoTime() - t2) / 1e9
      // MaxScore: exact pruning, no df ceiling to tune — equality
      // with the naive operator is spec-pinned; here the wall + the
      // candidate-doc reduction on the stopword query
      val ubT = Retrieval.termUpperBounds(idx).localCheckpoint()
      val t3 = System.nanoTime()
      val msRows = Retrieval.bm25QueryMaxScore(idx, qStop, k = 10,
        ub = ubT).count()
      val tMs = (System.nanoTime() - t3) / 1e9
      def candDocs(q: DataFrame): Long = toks.join(broadcast(
          q.select(col("query_id"),
            explode(array_distinct(graft.ops.TextOps.tokens(col("text"))))
              .as("term"))), Seq("term"))
        .select("doc_id").distinct().count()
      val naiveCand = candDocs(qStop)
      // the structural win: candidate docs once the stopword stops
      // driving the space (essential terms = the 8 mid-freq ones)
      val essCand = candDocs(spark.range(1).select(lit(9L).as("query_id"),
        lit((0 until 8).map(i => s"t${1000 + i}").mkString(" ")).as("text")))
      val t4 = System.nanoTime()
      val msClean = Retrieval.bm25QueryMaxScore(idx, qdf, k = 10,
        ub = ubT).count()
      val tMsClean = (System.nanoTime() - t4) / 1e9
      println(s"""{"probe":"bm25_index","docs":$nd,"tokens_per_doc":$toksPerDoc,""" +
        s""""index_build_sec":$tBuild,"query_frozen_5q_sec":$tFrozen,""" +
        s""""rows_frozen":$topkFrozen,""" +
        s""""bm25_onehot_5q_sec":$tQ,"rows":$topk,""" +
        s""""cand_pairs":$candPairs,"dense_pairs":${5 * nd},""" +
        s""""cand_fraction":${candPairs.toDouble / (5 * nd)},""" +
        s""""bm25_stopword_sec":$tStop,"rows_stop":$topkStop,""" +
        s""""bm25_stopword_pruned_sec":$tPruned,"rows_pruned":$topkPruned,""" +
        s""""maxscore_stopword_sec":$tMs,"rows_ms":$msRows,""" +
        s""""maxscore_5q_sec":$tMsClean,"rows_ms_clean":$msClean,""" +
        s""""naive_cand_docs_stopword":$naiveCand,""" +
        s""""essential_cand_docs":$essCand}""")
    }

    if (enabled("bin_recall")) {
      // What the 1-bit sketch buys and costs: 200k×64d FULL-ENTROPY
      // vectors (hash-derived — dictionary-encoded synthetics fake
      // both recall and bytes), exact cosine top-10 truth for 50
      // queries vs knnBinary at growing shortlist depth, plus the
      // at-rest parquet bytes of floats vs packed sign words.
      import graft.ops.Similarity
      val n = 200000L
      val dims = 64
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i =>
          ((pmod(hash(col("id") * dims + i), lit(100000)) / 50000.0) - 1.0)
            .cast("float")).as("embedding")).localCheckpoint()
      val queries = vecs.filter(col("vec_id") < 50).localCheckpoint()
      val truth = Similarity.knnBruteForce(queries, vecs, k = 10)
        .select("query_id", "neighbor_id").localCheckpoint()
      val recalls = Seq(50, 200, 800, 3200).map { s =>
        val got = Similarity.knnBinary(queries, vecs, dims, k = 10,
          shortlist = s).select("query_id", "neighbor_id")
        val hits = truth.join(got, Seq("query_id", "neighbor_id")).count()
        s""""recall10_sl$s":${hits.toDouble / (50 * 10)}"""
      }
      val work = java.nio.file.Files.createTempDirectory("bin_rest").toString
      vecs.write.parquet(s"$work/f32")
      Similarity.binSketch(vecs, dims)
        .groupBy("vec_id").pivot("word_idx").sum("word")
        .write.parquet(s"$work/bin")
      def bytesOf(p: String): Long = {
        val d = new java.io.File(p)
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
      }
      val t0 = System.nanoTime()
      val probed = Similarity.knnBinary(queries, vecs, dims, k = 10,
        shortlist = 800).count()
      val tBin = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val brute = Similarity.knnBruteForce(queries, vecs, k = 10).count()
      val tBrute = (System.nanoTime() - t1) / 1e9
      println(s"""{"probe":"bin_recall","vectors":$n,"dims":$dims,""" +
        recalls.mkString(",") + "," +
        s""""f32_bytes":${bytesOf(s"$work/f32")},""" +
        s""""bin_bytes":${bytesOf(s"$work/bin")},""" +
        s""""knn_bin_sl800_sec":$tBin,"knn_brute_sec":$tBrute,""" +
        s""""rows_bin":$probed,"rows_brute":$brute}""")

      // the regime the sketch is FOR: clustered/near-dup corpora —
      // 2000 tight planted clusters (±2% noise around shared
      // centers); true top-10 are same-cluster, sign agreement is
      // near-total within a cluster, so a SHALLOW shortlist suffices
      val kClust = 2000
      val cvecs = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i => {
          val c = pmod(col("id"), lit(kClust))
          val center = (pmod(hash(c * dims + i), lit(100000)) / 50000.0) - 1.0
          val noise =
            ((pmod(hash(col("id") * dims + i), lit(100000)) / 50000.0) - 1.0) * 0.02
          (center + noise).cast("float")
        }).as("embedding")).localCheckpoint()
      val cq = cvecs.filter(col("vec_id") < 50).localCheckpoint()
      val ctruth = Similarity.knnBruteForce(cq, cvecs, k = 10)
        .select("query_id", "neighbor_id").localCheckpoint()
      val crecalls = Seq(50, 200).map { s =>
        val got = Similarity.knnBinary(cq, cvecs, dims, k = 10,
          shortlist = s).select("query_id", "neighbor_id")
        val hits = ctruth.join(got, Seq("query_id", "neighbor_id")).count()
        s""""recall10_sl$s":${hits.toDouble / (50 * 10)}"""
      }
      println(s"""{"probe":"bin_recall_clustered","vectors":$n,""" +
        s""""clusters":$kClust,""" + crecalls.mkString(",") + "}")

      // the ANISOTROPY regime (real embedding models): per-dim
      // offsets push ~75% of dims all-positive — their raw sign bits
      // go CONSTANT and sketch capacity collapses to the remaining
      // dims; cutting at the per-dim quantized mean restores ~50/50
      // bits with one agg pass
      val biased = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i =>
          ((((pmod(hash(col("id") * dims + i), lit(100000)) / 50000.0) - 1.0)
            * 0.25) + (pmod(i * lit(2654435761L), lit(100)) / 125.0))
            .cast("float")).as("embedding")).localCheckpoint()
      val bq = biased.filter(col("vec_id") < 50).localCheckpoint()
      val btruth = Similarity.knnBruteForce(bq, biased, k = 10)
        .select("query_id", "neighbor_id").localCheckpoint()
      val thr = Similarity.binMeans(biased, dims)
      def brecall(tag: String, th: Seq[Double], s: Int): String = {
        val got = Similarity.knnBinary(bq, biased, dims, k = 10,
          shortlist = s, thresholds = th).select("query_id", "neighbor_id")
        val hits = btruth.join(got, Seq("query_id", "neighbor_id")).count()
        s""""${tag}_sl$s":${hits.toDouble / (50 * 10)}"""
      }
      // constant-bit count under the raw cut: a bit is constant iff
      // it is set in the AND of every sketch word (always 1) or clear
      // in the OR (always 0) — exact via the bit_and/bit_or aggs
      val constBits = Similarity.binSketch(biased, dims)
        .groupBy("word_idx")
        .agg(expr("bit_and(word)").as("allAnd"),
          expr("bit_or(word)").as("allOr"))
        .collect().map { r =>
          val andW = r.getLong(1) & 0xFFFFFFFFL
          val orW = r.getLong(2) & 0xFFFFFFFFL
          java.lang.Long.bitCount(andW) +
            (32 - java.lang.Long.bitCount(orW))
        }.sum
      println(s"""{"probe":"bin_recall_biased","vectors":$n,"dims":$dims,""" +
        s""""const_bits_raw":$constBits,""" +
        brecall("raw", Nil, 200) + "," + brecall("raw", Nil, 800) + "," +
        brecall("centered", thr, 200) + "," + brecall("centered", thr, 800) +
        "}")
    }

    if (enabled("kpp_seeding")) {
      // What distance-aware seeding buys: 400k×16d vectors in 32
      // planted clusters, ids ORDERED so the first 32 ids all fall in
      // cluster 0 — the regime where first-k-ids seeding is
      // degenerate by construction (real corpora hit it whenever
      // ingestion order correlates with content: per-source id
      // blocks, crawl order, shard order). Train Lloyd(3) from (a)
      // first-k seeds, (b) kmeansParInit seeds; compare post-train
      // balance (top-cell share — what IVF probe cost follows) and
      // mean quantized L2 inertia (fit), plus the seeding pass cost.
      import graft.ops.Similarity
      val n = 400000L
      val dims = 16
      val kTrue = 32
      val block = n / kTrue
      def vecs: DataFrame = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i => {
          val c = col("id") / block // id-blocked: first ids share a cluster
          val center = (pmod(hash(c * dims + i), lit(1000)) / 500.0) - 1.0
          val noise =
            ((pmod(hash(col("id") * dims + i), lit(1000)) / 500.0) - 1.0) * 0.1
          center + noise
        }).as("embedding")).localCheckpoint()
      val v = vecs
      def inertiaAndBalance(cents: DataFrame): (Double, Double) = {
        val a = Similarity.assignNearestL2(v, cents).localCheckpoint()
        val inert = a.agg(avg("dist2")).head().getDouble(0)
        val counts = a.groupBy("cluster").count()
          .agg(max("count"), sum("count")).head()
        (inert, counts.getLong(0).toDouble / counts.getLong(1))
      }
      val t1 = System.nanoTime()
      val seeds = Similarity.kmeansParInit(v, kTrue, rounds = 3,
        oversample = 2 * kTrue).select("cluster", "cv").localCheckpoint()
      val tSeed = (System.nanoTime() - t1) / 1e9
      // fit-vs-iteration-budget matrix: each Lloyd round is 2 corpus
      // shuffles, so "equal fit at fewer rounds" is the real currency
      val cells = for (it <- Seq(0, 1, 3); seeded <- Seq(false, true)) yield {
        val cents =
          if (it == 0 && !seeded)
            v.orderBy("vec_id").limit(kTrue)
              .select(col("vec_id").as("cluster"), col("embedding").as("cv"))
          else if (it == 0) seeds
          else Similarity.kmeans(v, kTrue, iters = it,
            seeds = if (seeded) seeds else null)
        val (in, bal) = inertiaAndBalance(cents)
        val tag = (if (seeded) "kpp" else "firstk") + s"_it$it"
        s""""${tag}_mean_dist2":$in,"${tag}_top_share":$bal"""
      }
      println(s"""{"probe":"kpp_seeding","vectors":$n,"dims":$dims,""" +
        s""""k":$kTrue,"kpp_seed_sec":$tSeed,""" + cells.mkString(",") + "}")

      // the QUALITATIVE regime: duplicate head rows (boilerplate docs
      // sharing one embedding — ingestion reality). first-k seeds are
      // then k IDENTICAL centroids: every point ties to the min
      // cluster id, the other k−1 clusters stay empty FOREVER (the
      // keep-previous fallback can never split a tie) — no iteration
      // budget recovers. kpp is structurally immune: a candidate at
      // d²=0 of an existing one can never re-enter (coin right side
      // is 0).
      val headVec = v.orderBy("vec_id").select("embedding")
        .head().getSeq[Double](0)
      val dup = v.select(col("vec_id"),
          when(col("vec_id") < kTrue, typedLit(headVec))
            .otherwise(col("embedding")).as("embedding"))
        .localCheckpoint()
      val vv = dup
      def inertiaAndBalance2(cents: DataFrame): (Double, Double) = {
        val a = Similarity.assignNearestL2(vv, cents).localCheckpoint()
        val inert = a.agg(avg("dist2")).head().getDouble(0)
        val counts = a.groupBy("cluster").count()
          .agg(max("count"), sum("count")).head()
        (inert, counts.getLong(0).toDouble / counts.getLong(1))
      }
      val (inFd, balFd) = inertiaAndBalance2(
        Similarity.kmeans(vv, kTrue, iters = 3))
      val (inKd, balKd) = inertiaAndBalance2(
        Similarity.kmeans(vv, kTrue, iters = 3,
          seeds = Similarity.kmeansParInit(vv, kTrue, rounds = 3,
            oversample = 2 * kTrue).select("cluster", "cv")))
      println(s"""{"probe":"kpp_seeding_dup_head","vectors":$n,""" +
        s""""k":$kTrue,"firstk_it3_mean_dist2":$inFd,""" +
        s""""firstk_it3_top_share":$balFd,"kpp_it3_mean_dist2":$inKd,""" +
        s""""kpp_it3_top_share":$balKd}""")
    }

    if (enabled("id_fetch")) {
      // How many bytes does fetching a bounded id set from an at-rest
      // float corpus cost, per delivery mechanism? 1M x 32-dim floats,
      // range-partitioned 8 ways + sorted by id, written with SMALL
      // row groups (1 MiB) so row-group pruning has something to
      // prune at probe scale (at 100 TB every file holds many row
      // groups; at probe scale the default 128 MiB block would put
      // each file in ONE group and mask the effect). Fetch 64
      // scattered ids via: (a) a shuffle join (the knnRerank float-
      // fetch shape), (b) isin — 64 > the In-pushdown threshold of
      // 10, so parquet receives only the [min, max] RANGE of the id
      // set, (c) fetchByIds' Or-of-Eq chain — per-value equality at
      // the scan.
      val dims = 32
      val nRows = 4000000L
      val vecs = spark.range(nRows).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dims)), i =>
          ((pmod(hash(col("id") * dims + i), lit(2000000)) / 1000000.0) - 1.0)
            .cast("float")).as("embedding"))
      val rest = java.nio.file.Files
        .createTempDirectory("id_fetch").toString + "/corpus"
      vecs.repartitionByRange(8, col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.option("parquet.block.size", 1024 * 1024).parquet(rest)
      val ids = (0 until 64).map(i => (i.toLong * 2654435761L) % nRows)
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val byteListener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead); ()
        }
      }
      spark.sparkContext.addSparkListener(byteListener)
      // the fetch must MATERIALIZE the vectors (a bare count() would
      // let column pruning drop `embedding` and make every mechanism
      // look cheap) — aggregate a component so the value column is read
      def consume(df: DataFrame): Long =
        df.withColumn("x", element_at(col("embedding"), 1))
          .agg(count(lit(1)), sum("x")).head().getLong(0)
      // warm/cold split: a fresh 64-term Or pays Catalyst + Janino
      // once per NEW plan; a serving loop reuses the compiled plan, a
      // per-trigger foreachBatch does not — report both
      def measured(f: => Long): (Long, Long, Double, Double) = {
        Thread.sleep(300); bytes.set(0)
        val t0 = System.nanoTime()
        val rows = f
        val cold = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val rows2 = f
        val warm = (System.nanoTime() - t1) / 1e9
        require(rows2 == rows)
        Thread.sleep(1500); (bytes.get(), rows, cold, warm)
      }
      val idDf = spark.createDataFrame(ids.map(Tuple1(_)))
        .toDF("vec_id")
      val ids8 = ids.take(8)
      val (bJoin, rJoin, cJoin, wJoin) = measured {
        consume(spark.read.parquet(rest).join(idDf, Seq("vec_id")))
      }
      val (bIsin, rIsin, cIsin, wIsin) = measured {
        consume(spark.read.parquet(rest)
          .filter(col("vec_id").isin(ids: _*)))
      }
      val (bFetch, rFetch, cFetch, wFetch) = measured {
        consume(graft.io.AnnLayout.fetchByIds(spark, rest, ids))
      }
      val (bIsin8, _, cIsin8, wIsin8) = measured {
        consume(spark.read.parquet(rest)
          .filter(col("vec_id").isin(ids8: _*)))
      }
      val (bOr8, _, cOr8, wOr8) = measured {
        consume(graft.io.AnnLayout.fetchByIds(spark, rest, ids8))
      }
      val (bOr16, _, cOr16, wOr16) = measured {
        consume(graft.io.AnnLayout.fetchByIds(spark, rest, ids.take(16)))
      }
      val (bOr32, _, cOr32, wOr32) = measured {
        consume(graft.io.AnnLayout.fetchByIds(spark, rest, ids.take(32)))
      }
      val (bOne, rOne, cOne, wOne) = measured {
        consume(graft.io.AnnLayout.fetchByIds(spark, rest, Seq(ids.head)))
      }
      spark.sparkContext.removeSparkListener(byteListener)
      require(rJoin == rIsin && rIsin == rFetch && rOne == 1,
        s"row mismatch: join=$rJoin isin=$rIsin fetch=$rFetch one=$rOne")
      println(s"""{"probe":"id_fetch","rows":$rFetch,""" +
        s""""join_full":{"bytes":$bJoin,"cold":$cJoin,"warm":$wJoin},""" +
        s""""isin64_range":{"bytes":$bIsin,"cold":$cIsin,"warm":$wIsin},""" +
        s""""or64_chain":{"bytes":$bFetch,"cold":$cFetch,"warm":$wFetch},""" +
        s""""isin8_oreq":{"bytes":$bIsin8,"cold":$cIsin8,"warm":$wIsin8},""" +
        s""""or8_chain":{"bytes":$bOr8,"cold":$cOr8,"warm":$wOr8},""" +
        s""""or16_chain":{"bytes":$bOr16,"cold":$cOr16,"warm":$wOr16},""" +
        s""""or32_chain":{"bytes":$bOr32,"cold":$cOr32,"warm":$wOr32},""" +
        s""""single_eq":{"bytes":$bOne,"cold":$cOne,"warm":$wOne}}""")
    }

    if (enabled("cow_merge")) {
      // Is merge cost actually PARTITION-PROPORTIONAL? 4M rows across
      // 32 hash partitions (~125k rows each); apply a 1000-change
      // batch confined to 1, 8, and 32 partitions and time the merge.
      // If the copy-on-write claim holds, wall time tracks partitions
      // touched, not table size.
      val nRows = 4000000L
      val parts = 32
      // each table is ~0.5 GB on disk: deleted when its block ends
      def withFreshTable[A](body: String => A): A = {
        val dir = java.nio.file.Files.createTempDirectory("cow_scale")
        try {
          val t = dir.toString + "/t"
          val df = spark.range(nRows).select(col("id").as("doc_id"),
            pmod(hash(col("id")), lit(parts)).cast("int").as("p"),
            sha2(col("id").cast("string"), 256).as("payload"))
          graft.io.Bucketing.writePartitioned(df, t, Seq("p"),
            Seq("doc_id"))
          body(t)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      }
      def run(k: Int): (Double, Long) = withFreshTable { t =>
        // ids whose hash partition falls in [0, k): the batch touches
        // exactly k of the 32 partitions
        val ch = spark.range(20000).select(col("id").as("doc_id"))
          .withColumn("p",
            pmod(hash(col("doc_id")), lit(parts)).cast("int"))
          .filter(col("p") < k).limit(1000)
          .withColumn("op", lit("delete"))
        ch.count() // materialize the plan outside the timed region
        val t0 = System.nanoTime()
        val st = graft.io.CowTable.merge(spark, t, ch, "doc_id", "p")
        ((System.nanoTime() - t0) / 1e9, st.deleted)
      }
      run(2) // warm the merge's codegen/JIT paths once, unmeasured
      val (s1, d1) = run(1)
      val (s8, d8) = run(8)
      val (s32, d32) = run(32)
      println(s"""{"probe":"cow_merge","rows":$nRows,"parts":$parts,""" +
        s""""sec_touch1":$s1,"deleted1":$d1,""" +
        s""""sec_touch8":$s8,"deleted8":$d8,""" +
        s""""sec_touch32":$s32,"deleted32":$d32}""")

      // MOR vs COW: the same 1000-delete batch as a delete-only
      // changelog append (no partition rewritten) vs the 32-partition
      // merge above, and the read tax the log charges until compaction
      def readSec(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val basePre = withFreshTable { t =>
        val ch = spark.range(20000).select(col("id").as("doc_id"))
          .withColumn("p",
            pmod(hash(col("doc_id")), lit(parts)).cast("int"))
          .limit(1000).select(col("p"), col("doc_id"),
            lit("delete").as("op"))
        ch.count() // plan warm
        val basePre = readSec {
          spark.read.option("basePath", t).parquet(t)
            .agg(count(lit(1)), sum(length(col("payload")))).head()
            .getLong(0)
        }
        val tDel0 = System.nanoTime()
        graft.io.CowTable.appendChanges(spark, t, ch, "doc_id", "p")
        val morDelete = (System.nanoTime() - tDel0) / 1e9
        def morReadSec(): Double = readSec {
          graft.io.CowTable.readMor(spark, t, "doc_id", "p")
            .agg(count(lit(1)), sum(length(col("payload")))).head()
            .getLong(0)
        }
        morReadSec() // warm the anti-join codegen
        val morRead = morReadSec()
        val tC0 = System.nanoTime()
        graft.io.CowTable.compactChangelog(spark, t, "doc_id", "p")
        val compactSec = (System.nanoTime() - tC0) / 1e9
        val basePost = readSec {
          graft.io.CowTable.readMor(spark, t, "doc_id", "p")
            .agg(count(lit(1)), sum(length(col("payload")))).head()
            .getLong(0)
        }
        println(s"""{"probe":"cow_tombstone","rows":$nRows,""" +
          s""""sec_mor_delete":$morDelete,"sec_cow_delete_32parts":$s32,""" +
          s""""sec_read_clean":$basePre,"sec_read_tombstoned":$morRead,""" +
          s""""sec_compact":$compactSec,"sec_read_compacted":$basePost}""")
        basePre
      }

      // changelog MOR read tax as the log grows: how does readMor
      // scale with outstanding batches before compaction? 1, 8, 32
      // appended 1000-change batches (mixed upsert/delete) against
      // the same 4M-row table.
      def morTax(batches: Int): (Double, Double) = withFreshTable { tm =>
        for (b <- 0 until batches) {
          val ch = spark.range(20000)
            .select((col("id") + lit(b * 100000L)).as("doc_id"))
            .withColumn("p",
              pmod(hash(col("doc_id")), lit(parts)).cast("int"))
            .limit(1000)
            .withColumn("payload",
              sha2(col("doc_id").cast("string"), 256))
            .withColumn("op",
              when(col("doc_id") % 2 === 0, "upsert")
                .otherwise("delete"))
            .select("doc_id", "p", "payload", "op")
          graft.io.CowTable.appendChanges(spark, tm, ch, "doc_id", "p")
        }
        def readOnce(): Double = readSec {
          graft.io.CowTable.readMor(spark, tm, "doc_id", "p")
            .agg(count(lit(1)), sum(length(col("payload")))).head()
            .getLong(0)
        }
        readOnce() // warm
        val r = readOnce()
        val t0 = System.nanoTime()
        graft.io.CowTable.compactChangelog(spark, tm, "doc_id", "p")
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (r1, c1m) = morTax(1)
      val (r8, c8m) = morTax(8)
      val (r32, c32m) = morTax(32)
      println(s"""{"probe":"cow_changelog","rows":$nRows,""" +
        s""""sec_readmor_1batch":$r1,"sec_compact_1":$c1m,""" +
        s""""sec_readmor_8batches":$r8,"sec_compact_8":$c8m,""" +
        s""""sec_readmor_32batches":$r32,"sec_compact_32":$c32m,""" +
        s""""sec_read_clean":$basePre}""")
    }

    spark.stop()
  }
}
