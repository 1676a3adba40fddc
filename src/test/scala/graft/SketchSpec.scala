package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Sketches

/** KmvAggregator must return exactly the k smallest DISTINCT values —
  * identical to the sort-based formulation — regardless of how the
  * input is partitioned (merge is associative + commutative, which is
  * what lets Spark partial-aggregate it map-side).
  */
class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val k = 8
  // duplicates on purpose: distinctness is part of the contract
  private val data = (1 to 500).map(i => (s"g${i % 3}", ((i * 2654435761L) % 997) + 3))

  private def sortBased = data.toDF("g", "h").distinct()
    .groupBy("g").agg(slice(sort_array(collect_list(col("h"))), 1, k).as("kept"))
    .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap

  test("kmvMins equals the sort-based k smallest distinct values") {
    val got = data.toDF("g", "h")
      .groupBy("g").agg(Sketches.kmvMins(col("h"), k).as("kept"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got == sortBased)
  }

  test("result is invariant to input partitioning (mergeable partials)") {
    val expected = sortBased
    for (parts <- Seq(1, 7, 32)) {
      val got = data.toDF("g", "h").repartition(parts)
        .groupBy("g").agg(Sketches.kmvMins(col("h"), k).as("kept"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(got == expected, s"diverged at $parts partitions")
    }
  }

  test("merging two datasets' sketches equals sketching their union (composability)") {
    val a = data.take(250).toDF("g", "h")
    val b = data.drop(250).toDF("g", "h")
    val sa = a.groupBy("g").agg(Sketches.kmvMins(col("h"), k).as("ka"))
    val sb = b.groupBy("g").agg(Sketches.kmvMins(col("h"), k).as("kb"))
    val merged = sa.join(sb, Seq("g"))
      .select(col("g"), Sketches.kmvMerge(col("ka"), col("kb"), k).as("kept"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val direct = data.toDF("g", "h")
      .groupBy("g").agg(Sketches.kmvMins(col("h"), k).as("kept"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged == direct)
  }

  test("estimate is exact below k and within KMV error bounds above") {
    // KMV assumes UNIFORM hashes over the domain — md5-derive them,
    // exactly like q_kmv_distinct (a linear congruence without wrap
    // isn't uniform and the estimator rightfully rejects it)
    val df = spark.range(1, 5001).select(lit("g").as("g"),
      conv(substring(md5(col("id").cast("string").cast("binary")), 1, 14), 16, 10)
        .cast("long").as("h"))
    val bigK = 256
    val est = df.groupBy("g").agg(
        Sketches.kmvEstimate(Sketches.kmvMins(col("h"), bigK), bigK,
          graft.ops.Dedup.MinhashMod.toDouble).as("est"))
      .collect().head.getDouble(1)
    // KMV relative error ~ 1/sqrt(k-1) ≈ 6.3%; allow 4 sigma
    assert(math.abs(est - 5000) / 5000 < 0.25, s"estimate $est too far from 5000")
    val small = (1L to 5L).map(i => ("g", i * 1000L)).toDF("g", "h")
    val exact = small.groupBy("g").agg(
        Sketches.kmvEstimate(Sketches.kmvMins(col("h"), k), k, 1e18).as("est"))
      .collect().head.getDouble(1)
    assert(exact == 5.0)
  }

  test("HLL estimate stays within 5% of the exact distinct count per group (q_approx_sketch vs q_distinct)") {
    // q_approx_sketch has no DuckDB oracle (HLL internals are
    // engine-specific) — this pins its ESTIMATES against q_distinct's
    // exact values at sf0.01, well inside the configured 2% rsd
    val dir = "/root/testdata/sf0.01"
    val approx = SparkEntry.queries("q_approx_sketch")(spark, dir)
      .select("event_type", "approx_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("q_distinct")(spark, dir)
      .select("event_type", "n_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, ex) <- exact) {
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05,
        s"group $k: approx $ap vs exact $ex drifts past 5%")
    }
  }

  test("approx p50 stays within 2% of the exact median per group (q_approx_sketch vs exact percentile)") {
    // the quantile half of q_approx_sketch's rows-only contract: the
    // percentile_approx estimate (accuracy 1000) pinned against the
    // exact interpolated median at sf0.01
    val dir = "/root/testdata/sf0.01"
    val approx = SparkEntry.queries("q_approx_sketch")(spark, dir)
      .select("event_type", "approx_p50").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = graft.io.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.percentile(
        org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.lit(0.5)).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, ex) <- exact)
      assert(math.abs(approx(k) - ex) / ex <= 0.02,
        s"group $k: approx ${approx(k)} vs exact $ex drifts past 2%")
  }

  test("KMV source-overlap estimate tracks the exact Jaccard matrix (q_source_overlap_kmv vs q_source_overlap)") {
    // the sketch query is oracle-HASH-checked (deterministic md5 KMV);
    // this pins that the ESTIMATES it produces are close to the truth:
    // k = 256 ⇒ stderr ≈ 1/√k ≈ 0.0625, measured max |err| ≈ 0.03 at
    // sf0.001/sf0.01 — gate at 0.07
    val dir = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("q_source_overlap_kmv")(spark, dir)
      .select("sa", "sb", "j_est").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // exact matrix only emits pairs with a nonzero intersection
    val exact = SparkEntry.queries("q_source_overlap")(spark, dir)
      .select("sa", "sb", "jaccard").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(exact.keySet.subsetOf(est.keySet),
      "sketch matrix is missing pairs the exact matrix found")
    val errs = est.map { case (pair, e) => math.abs(e - exact.getOrElse(pair, 0.0)) }
    assert(errs.max <= 0.07, s"max |j_est - jaccard| ${errs.max} exceeds 0.07")
  }

  test("CMS estimate is a guaranteed overestimate with bounded error for every key") {
    // at sf0.001 the top-50 cut covers ALL 15 distinct keys, so this
    // checks the whole-domain contract: exact ≤ est ≤ exact + e/w·N
    // (the classic CMS bound with ε = e/512, N = total increments)
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_heavy_hitters")(spark, dir)
      .select("n_exact", "est_cms", "over_count").collect()
    val n = graft.io.Tables.events(spark, dir).count()
    val bound = math.E / 512.0 * n
    assert(rows.length == 15, "top-50 cut no longer covers every sf0.001 key")
    for (r <- rows) {
      assert(r.getLong(2) >= 0, s"CMS UNDERestimated: $r")
      assert(r.getLong(2) <= bound, s"overcount ${r.getLong(2)} exceeds e/w·N = $bound")
      assert(r.getLong(1) - r.getLong(0) == r.getLong(2), s"over_count inconsistent: $r")
    }
  }

  test("kmvMerge fold over any partitioning and order equals the global k smallest (q_kmv_rollup identity)") {
    // the rollup query's correctness rests on this algebra: per-part
    // k-min sketches folded in ANY order reproduce the global k-min —
    // randomized partitionings, duplicate-heavy domains, parts smaller
    // than k, singleton parts
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 10) {
      val values = Seq.fill(rnd.nextInt(200) + 1)(rnd.nextInt(60).toLong + 1)
      val global = values.distinct.sorted.take(k)
      val nParts = rnd.nextInt(6) + 1
      val parts = rnd.shuffle(values.groupBy(_ => rnd.nextInt(nParts)).values.toSeq)
      val sketches = parts.map(p => p.distinct.sorted.take(k))
      val merged = sketches.toDF("kept").agg(
          aggregate(collect_list(col("kept")), array().cast("array<bigint>"),
            (acc, x) => Sketches.kmvMerge(acc, x, k)).as("m"))
        .collect().head.getSeq[Long](0)
      assert(merged == global, s"trial $trial: $merged != $global")
    }
  }

  test("CMS point query of a never-observed watchlist key returns est_cms = 0, not a dropped row") {
    // the estimate join is LEFT with empty buckets counting 0 — an
    // inner join would drop fully-absent keys and over-estimate keys
    // whose smallest bucket is empty
    import graft.functions.Cms
    val built = Seq.fill(50)("seen").toDF("key")
    val cms = Cms.build(built, col("key"), 4, 512)
    val watch = Seq(("seen", 1), ("never-seen", 2)).toDF("key", "tag")
    val out = Cms.estimate(watch, cms, col("key"), 4, 512)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("seen") == 50L)
    assert(out("never-seen") == 0L, "absent key must estimate 0")
  }

  test("KMV overlap matrix keeps sources whose docs are all too short to shingle (j_est 0)") {
    val docs = Seq(
      (1L, "srcA", "alpha beta gamma delta"),
      (2L, "srcB", "alpha beta gamma delta"),
      (3L, "srcC", "hi")) // < 3 tokens: no shingles at all
      .toDF("doc_id", "source", "text")
    val m = graft.ops.Overlap.kmvSketch(docs, "source", "text", 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(m.keySet == Set(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")),
      "every source pair must appear, shingle-less sources included")
    assert(m(("srcA", "srcB")) == 1.0)
    assert(m(("srcA", "srcC")) == 0.0 && m(("srcB", "srcC")) == 0.0)
  }

  test("CMS sketches of two shards add cell-wise into the whole-corpus sketch") {
    // the composability claim behind per-day/per-shard CMS summaries:
    // counts are additive, so sketch(A) + sketch(B) = sketch(A ∪ B)
    // exactly (not approximately) — checked cell-for-cell
    import graft.functions.Cms
    val depth = 4; val width = 64
    val all = (1 to 400).map(i => s"k${i % 37}").toDF("key")
    val a = (1 to 200).map(i => s"k${i % 37}").toDF("key")
    val b = (201 to 400).map(i => s"k${i % 37}").toDF("key")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cells(Cms.build(all, col("key"), depth, width))
    val summed = cells(
      Cms.build(a, col("key"), depth, width)
        .unionAll(Cms.build(b, col("key"), depth, width))
        .groupBy("i", "b").agg(sum("cnt").as("cnt")))
    assert(summed == whole)
  }

  test("fewer than k distinct values returns them all, sorted") {
    val small = Seq(("a", 5L), ("a", 1L), ("a", 5L), ("a", 9L)).toDF("g", "h")
    val got = small.groupBy("g").agg(Sketches.kmvMins(col("h"), k).as("kept"))
      .collect().head.getSeq[Long](1)
    assert(got == Seq(1L, 5L, 9L))
  }

  test("bottom-k value sample: equals sort-based reference, " +
      "partitioning-invariant, merge identity, exact below k") {
    import graft.functions.Sketches
    val rows = (1 to 400).map { i =>
      (s"g${i % 2}", (i * 2654435761L) % 100003L, ((i * 31) % 500) / 7.0)
    }
    def sketchOf(df: org.apache.spark.sql.DataFrame, kk: Int) =
      df.groupBy("g")
        .agg(Sketches.bottomKSample(col("h"), col("v"), kk).as("kept"))
        .collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getDouble(1))))
        .toMap
    val df = rows.toDF("g", "h", "v")
    // sort-based reference: k smallest distinct (h, v) pairs
    val ref = rows.distinct.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).distinct.sorted.take(16)
    }
    assert(sketchOf(df.repartition(7), 16) == ref, "vs sort-based reference")
    assert(sketchOf(df.repartition(1), 16) == sketchOf(df.repartition(13), 16),
      "partitioning-invariant")
    // merge identity: per-shard sketches folded == single-pass sketch
    val merged = df.withColumn("shard", pmod(col("h"), lit(5)))
      .groupBy("g", "shard")
      .agg(Sketches.bottomKSample(col("h"), col("v"), 16).as("kept"))
      .groupBy("g")
      .agg(aggregate(collect_list(col("kept")),
        array().cast("array<struct<_1:bigint,_2:double>>"),
        (acc, x) => Sketches.sampleMerge(acc, x, 16)).as("kept"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getDouble(1))))
      .toMap
    assert(merged == ref, "merge identity")
    // below k the sample IS the group (exact)
    val all = sketchOf(df, 100000)
    assert(all("g0").size == rows.distinct.count(_._1 == "g0"))
    // nearest-rank quantile picks a sampled value at the right rank
    val q = df.groupBy("g")
      .agg(Sketches.bottomKSample(col("h"), col("v"), 100000).as("kept"))
      .select(col("g"),
        Sketches.sampleQuantile(Sketches.sampleValues(col("kept")), 0.5).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val vs0 = rows.distinct.filter(_._1 == "g0").map(_._3).sorted
    assert(q("g0") == vs0(math.max(1, math.ceil(0.5 * vs0.size).toInt) - 1))
  }

  test("quantile sketch on HEAVY-TAILED data: p50/p95/p99 rank error within the k=256 sample bound (zipf/pareto + lognormal)") {
    import graft.functions.Sketches
    val k = 256 // the gate k (q_quantile_sample / q_quantile_rollup / q_stream_quantile)
    val n = 20000
    val rnd = new scala.util.Random(0xabcde1L)
    // Pareto(α=1.2): the zipf-class power-law tail (p99/p50 ≈ 45×);
    // lognormal(σ=3): ~9 decades of spread. Both deterministic.
    val corpora = Seq(
      "pareto" -> (1 to n).map(_ => 1.0 / math.pow(1.0 - rnd.nextDouble(), 1.0 / 1.2)),
      "lognormal" -> (1 to n).map(_ => math.exp(3.0 * rnd.nextGaussian())))
    val quantiles = Seq(0.5, 0.95, 0.99)
    val measured = for ((name, vs) <- corpora; q <- quantiles) yield {
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val est = df
        .select(Sketches.md5Hash60("qb|", col("id").cast("string")).as("h"), col("v"))
        .agg(Sketches.bottomKSample(col("h"), col("v"), k).as("kept"))
        .select(Sketches.sampleQuantile(Sketches.sampleValues(col("kept")), q))
        .collect().head.getDouble(0)
      // RANK error is the distribution-free metric: a uniform row
      // sample's nearest-rank estimate has rank within ~sqrt(q(1-q)/k)·n
      // of q·n whp, REGARDLESS of how skewed the values are (value
      // error on a power-law tail is unbounded by design — rank error
      // is what the sketch contracts). 4σ + 1/k discretization slack.
      val rankErr = math.abs(vs.count(_ <= est).toDouble / n - q)
      val bound = 4.0 * math.sqrt(q * (1 - q) / k) + 1.0 / k
      assert(rankErr <= bound,
        f"$name p${(q * 100).toInt}: rank error $rankErr%.4f > bound $bound%.4f " +
          "— the uniform sample is tail-blind at this k; a KLL-style " +
          "compactor variant is needed")
      (name, q, rankErr, bound)
    }
    // surface the measured curve for PERF.md
    info(measured.map { case (nm, q, e, b) =>
      f"$nm p${(q * 100).toInt}: rank_err=$e%.4f bound=$b%.4f" }.mkString("; "))
  }

  test("grouped top-k: equals the window formulation, partitioning-invariant") {
    import graft.functions.TopK
    val rows = (1 to 300).map { i =>
      (s"g${i % 3}", i.toLong, ((i * 37) % 50).toDouble) // heavy v ties
    }
    val df = rows.toDF("g", "id", "v")
    def agged(parts: Int) = df.repartition(parts).groupBy("g")
      .agg(TopK.topKBy(col("v"), col("id"), 7).as("kept"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getDouble(0), p.getLong(1))))
      .toMap
    // reference: (v DESC, id ASC) take 7 — the row_number window form
    val ref = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._3, r._2))
        .sortBy { case (v, id) => (-v, id) }.take(7)
    }
    assert(agged(1) == ref, "vs window-formulation reference")
    assert(agged(11) == ref, "partitioning-invariant")
  }

  test("dd2 sketch: ≤5% relative error on heavy tails INCLUDING p999, mergeable by count addition") {
    import graft.functions.DdSketch
    val n = 20000
    val rnd = new scala.util.Random(0xdd2L)
    val corpora = Seq(
      "pareto" -> (1 to n).map(_ => 1.0 / math.pow(1.0 - rnd.nextDouble(), 1.0 / 1.2)),
      "lognormal" -> (1 to n).map(_ => math.exp(3.0 * rnd.nextGaussian())))
    // p999 is the point: the k=256 uniform sample's rank error
    // (~4√(q(1-q)/k) ≈ 0.8%) CANNOT separate p999 from p992 — on a
    // power-law tail that is an unbounded VALUE error. The exact-count
    // bucket walk has no rank error at all; only the ≤0.5/d2 bucket-
    // midpoint rounding remains, at every quantile.
    val qs = Seq(0.5, 0.95, 0.99, 0.999)
    for ((name, vs) <- corpora) {
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val buckets = DdSketch.dd2Buckets(df, col("v"))
      val est = DdSketch.dd2Quantiles(buckets, qs).collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(est.map(_._3).distinct == Seq(n.toLong), "exact total count")
      val sorted = vs.sorted
      for ((q, e, _) <- est) {
        val exact = sorted(math.max(1, math.ceil(q * n).toInt) - 1)
        val rel = math.abs(e / exact - 1.0)
        assert(rel <= 0.05,
          f"$name p$q%.3f: relative error $rel%.4f > the 5%% bucket bound")
      }
      // merge = count addition: halves union-summed == direct build
      val a = DdSketch.dd2Buckets(df.filter(col("id") % 2 === 0), col("v"))
      val b = DdSketch.dd2Buckets(df.filter(col("id") % 2 =!= 0), col("v"))
      val merged = a.unionByName(b).groupBy("e10", "d2")
        .agg(sum(col("c")).as("c")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val direct = buckets.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      assert(merged == direct, s"$name: merged bucket table != direct")
      // bounded state: bucket count ≤ 90 per touched decade
      val decades = direct.map(_._1).size
      assert(direct.size <= 90 * decades)
    }
  }

  test("dd2 domain enforcement: NaN / ±Inf / 0 / negatives excluded under SPARK NaN ordering") {
    import graft.functions.DdSketch
    // Spark orders NaN ABOVE every numeric (NaN > 0 is TRUE, NaN =!= Inf
    // is TRUE) — the exact semantics that let a NaN row slip a naive
    // domain filter, land in the (null,null) bucket, and inflate n.
    // Reachable from any sketched double column (a zero-norm vector's
    // cosine is NaN). Only the five clean rows may count.
    val clean = Seq(1.0, 2.0, 4.0, 8.0, 16.0)
    val dirty = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -3.0)
    val df = (clean ++ dirty).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val buckets = DdSketch.dd2Buckets(df, col("v")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(buckets.map(_._3).sum == clean.size.toLong,
      s"n must count ONLY finite positives, got ${buckets.toSeq}")
    // (a (null,null) bucket would have thrown in getInt above)
    // quantiles over the cleaned bucket table stay sane (p50 of the
    // five clean values ~4 within bucket rounding)
    val est = DdSketch.dd2Quantiles(
      DdSketch.dd2Buckets(df, col("v")), Seq(0.5)).collect()
    assert(est.head.getLong(2) == clean.size.toLong)
    assert(math.abs(est.head.getDouble(1) / 4.0 - 1.0) <= 0.05)
    // grouped face honors the same domain
    val grouped = DdSketch.dd2BucketsBy(
      df.withColumn("g", lit("a")), Seq("g"), col("v"))
      .agg(sum("c")).collect().head.getLong(0)
    assert(grouped == clean.size.toLong)
  }
}
