package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Sample, TextOps}

/** Edge semantics of the pipeline-assembly operators (paragraph
  * dedup, budget selection, shard shuffle, representative selection,
  * hashed scoring) — the conventions the oracle queries rely on.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming first-occurrence index equals batch index, reassembly " +
      "identical (q_stream_para_dedup equivalence, multi-batch arrival)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "alpha\nbeta\nalpha"),
      (2L, "gamma\nbeta"),
      (3L, "alpha\nbeta"),
      (4L, "delta\ngamma\nepsilon"))
    val docs = rows.toDF("doc_id", "text")
    val batch = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    // stream the same docs in two micro-batches, REVERSED arrival
    // order — min(struct(id, idx)) must land on the same index anyway
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val streamDocs = in.toDF().toDF("doc_id", "text")
    val q = Dedup.firstParagraphOccurrence(
        Dedup.paragraphTable(streamDocs, "doc_id", "text"))
      .writeStream.queryName("para_first_eq").outputMode("complete")
      .format("memory").start()
    in.addData(rows.drop(2): _*); q.processAllAvailable()
    in.addData(rows.take(2): _*); q.processAllAvailable()
    q.stop()
    val streamed = Dedup.reassembleParagraphs(
        Dedup.paragraphTable(docs, "doc_id", "text"),
        spark.table("para_first_eq"), "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
  }

  test("paragraph dedup keeps first occurrence in (id, idx) order, " +
      "reassembles in document order, empties full duplicates") {
    val docs = Seq(
      (1L, "alpha\nbeta\nalpha"),   // self-dup: 3rd para repeats 1st
      (2L, "gamma\nbeta"),          // beta already taken by doc 1
      (3L, "alpha\nbeta")           // everything already seen
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "alpha\nbeta"),
      (2L, 2L, 1L, "gamma"),
      (3L, 2L, 0L, "")))
  }

  test("paragraph dedup drops empty paragraphs and empty documents") {
    val docs = Seq((1L, "a\n\nb"), (2L, "")).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 1: the "" between a and b is not a paragraph; doc 2: no row
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("paragraph dedup rejects reserved _pd_* columns") {
    val bad = Seq((1L, "x", "y")).toDF("doc_id", "text", "_pd_h")
    val e = intercept[IllegalArgumentException](
      Dedup.dedupParagraphs(bad, "doc_id", "text"))
    assert(e.getMessage.contains("_pd_"))
  }

  test("selectToBudget keeps the greedy prefix inclusive of the row " +
      "that lands exactly on the budget, drops the overshooting row") {
    val df = Seq(
      ("s", 1L, 400L), ("s", 2L, 400L), ("s", 3L, 1L),  // 400+400 = budget
      ("t", 4L, 801L)                                   // first row overshoots
    ).toDF("source", "doc_id", "w")
    val out = Sample.selectToBudget(df, Seq(col("source")),
        Seq(col("doc_id").asc), col("w"), budget = 800L)
      .select("doc_id", "cum_weight").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 3 arrives after the budget is spent: 801 > 800 → dropped;
    // group t keeps nothing (its best row alone exceeds the budget)
    assert(out.toSeq == Seq((1L, 400L), (2L, 800L)))
  }

  test("selectToBudget refuses an existing cum column") {
    val df = Seq(("s", 1L, 1L)).toDF("source", "cum_weight", "w")
    val e = intercept[IllegalArgumentException](
      Sample.selectToBudget(df, Seq(col("source")), Seq(col("w")),
        col("w"), 10L))
    assert(e.getMessage.contains("cum_weight"))
  }

  test("shuffleShards: shards in range, dense 0-based positions, " +
      "deterministic across evaluations, seed changes the layout") {
    val df = (1L to 200L).toDF("doc_id")
    val a = Sample.shuffleShards(df, col("doc_id"), "e0", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.forall { case (_, s, _) => s >= 0 && s < 8 })
    // per shard: positions are exactly 0..k−1
    a.groupBy(_._2).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    val b = Sample.shuffleShards(df, col("doc_id"), "e0", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    val c = Sample.shuffleShards(df, col("doc_id"), "e1", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq != c.sortBy(_._1).toSeq)
  }

  test("clusterRepresentatives keeps the best row per cluster under " +
      "the caller's order; singletons are their own kept cluster") {
    val docs = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L), // one cluster; 2 and 3 tie on chars
      (9L, 5L)                         // singleton
    ).toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "rep_id")
    val out = Dedup.clusterRepresentatives(docs, clusters, "doc_id",
        Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id", "cluster_id", "cluster_size", "kept")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, false),
      (2L, 1L, 3L, true),   // 50 chars, lower id than doc 3
      (3L, 1L, 3L, false),
      (9L, 9L, 1L, true)))
  }

  test("q_para_dedup's gate is non-vacuous on the shipped corpus: " +
      "paragraphs are removed and duplicate docs are emptied") {
    val out = graft.queries.PipelineQ.qParaDedup
      .run(spark, "/root/testdata/sf0.001")
      .agg(sum("n_paras").as("p"), sum("n_kept").as("k"),
        sum(when(col("n_kept") === 0, 1).otherwise(0)).as("emptied"))
      .collect()(0)
    assert(out.getLong(1) < out.getLong(0), "no paragraph was removed")
    assert(out.getLong(2) > 0, "no duplicate document was emptied")
  }

  test("q_boilerplate_site is non-vacuous at sf0.01: some lines removed, " +
      "some kept, and removal is site-scoped") {
    // sf0.01 is the driver's oracle SF; the threshold (minDocs = 3
    // distinct docs per host, with every page carrying its host's
    // chrome line) must actually fire there or the face pins
    // nothing. Both directions checked: boilerplate exists AND not
    // everything is boilerplate.
    val out = graft.queries.CrawlQ.qBoilerplateSite
      .run(spark, "/root/testdata/sf0.01")
      .agg(sum("n_lines").as("l"), sum("n_kept").as("k"))
      .collect()(0)
    assert(out.getLong(1) < out.getLong(0),
      "threshold never fired — no line was site-boilerplate at sf0.01")
    assert(out.getLong(1) > 0, "every line was boilerplate")
    // site-scoping: a line repeated across MANY docs overall but at
    // most minDocs-1 times within any single host must survive —
    // construct one synthetically
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      (i.toLong, s"h${i % 8}", if (i % 8 < 4) "common line" else s"unique $i")
    }.toDF("doc_id", "host", "text")
    // "common line" appears in 20 docs overall but only 5 per host
    val res = graft.ops.Dedup.removeSiteBoilerplate(docs, "doc_id",
      "text", "host", minDocs = 8)
    assert(res.agg(sum("n_kept")).collect()(0).getLong(0) == 40,
      "cross-site repetition was wrongly treated as boilerplate")
  }

  test("removeSiteBoilerplate rejects reserved _sb_* columns and minDocs < 2") {
    import spark.implicits._
    val docs = Seq((1L, "h", "a b")).toDF("doc_id", "host", "text")
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.removeSiteBoilerplate(
        docs.withColumn("_sb_x", lit(1)), "doc_id", "text", "host", 2)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.removeSiteBoilerplate(docs, "doc_id", "text",
        "host", 1)
    }
  }

  test("q_budget_select's budget binds in every source at sf0.001") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .groupBy("source").count()
    val kept = graft.queries.PipelineQ.qBudgetSelect
      .run(spark, "/root/testdata/sf0.001")
      .groupBy("source").count().withColumnRenamed("count", "kept")
    val joined = docs.join(kept, Seq("source"), "left")
      .select(col("source"), col("count"), coalesce(col("kept"), lit(0L)).as("kept"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getLong(2) < r.getLong(1),
      s"budget did not bind for ${r.getString(0)}"))
  }

  test("upsampleEpochs: integer factors repeat exactly, fractional " +
      "coin matches stratifiedHash survivors, zero factor drops") {
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val out = Sample.upsampleEpochs(df, col("doc_id"), col("source"),
        factors = Map("a" -> 2.0, "b" -> 0.5), seed = "s0")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // source a, factor 2.0: every row exactly twice, epochs 0 and 1
    val aRows = out.filter(_._2 == "a")
    assert(aRows.groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == Seq(0L, 1L)))
    assert(aRows.map(_._1).distinct.length == 200)
    // source b, factor 0.5: survivors are EXACTLY stratifiedHash's at
    // the same (seed, rate) — one epoch-0 copy each
    val bKept = out.filter(_._2 == "b").map(_._1).sorted.toSeq
    val strat = Sample.stratifiedHash(df.filter(col("source") === "b"),
        col("doc_id"), col("source"), Map("b" -> 0.5), 1.0, "s0")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(bKept == strat)
    assert(out.filter(_._2 == "b").forall(_._3 == 0L))
    // factor 0 deletes the source entirely
    val none = Sample.upsampleEpochs(df, col("doc_id"), col("source"),
      factors = Map("a" -> 0.0, "b" -> 0.0), seed = "s0")
    assert(none.count() == 0L)
  }

  test("upsampleEpochs: fractional part lands near its expectation " +
      "and the default factor covers unlisted sources") {
    val df = (1L to 2000L).map(i => (i, "x")).toDF("doc_id", "source")
    val out = Sample.upsampleEpochs(df, col("doc_id"), col("source"),
      factors = Map("other" -> 9.0), defaultFactor = 2.5, seed = "e1")
    val n = out.count()
    // expectation 2000·2.5 = 5000; md5 coin is uniform so ±5% is safe
    assert(n > 4750 && n < 5250, s"got $n copies for 2000 rows at 2.5")
    assert(out.agg(min("epoch"), max("epoch")).collect()(0)
      .getLong(1) == 2L) // some row reached the fractional third epoch
  }

  test("upsampleEpochs refuses reserved output columns") {
    val bad = Seq((1L, "a", 0L)).toDF("doc_id", "source", "epoch")
    val e = intercept[IllegalArgumentException](
      Sample.upsampleEpochs(bad, col("doc_id"), col("source"),
        Map.empty, seed = "s"))
    assert(e.getMessage.contains("epoch"))
  }

  test("splitAssign: total assignment, stable under corpus growth, " +
      "proportions near fractions, residual goes to the last bucket") {
    val big = (1L to 2000L).toDF("doc_id")
    val out = Sample.splitAssign(big, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "sp0")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out.size == 2000) // every row labeled
    val counts = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1600) < 100)
    assert(math.abs(counts.getOrElse("val", 0) - 200) < 60)
    assert(math.abs(counts.getOrElse("test", 0) - 200) < 60)
    // growth invariance: the first 500 docs keep their buckets
    val small = Sample.splitAssign((1L to 500L).toDF("doc_id"),
        col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        seed = "sp0")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(small.forall { case (k, v) => out(k) == v })
    // fractions summing under 1: the last bucket absorbs the rest
    val absorb = Sample.splitAssign(big, col("doc_id"),
        Seq("a" -> 0.5, "b" -> 0.0), seed = "sp0")
      .groupBy("split").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(absorb("a") + absorb("b") == 2000L && absorb("b") > 900L)
  }

  test("splitAssign validates fractions and reserved column") {
    val df = Seq(1L).toDF("doc_id")
    intercept[IllegalArgumentException](
      Sample.splitAssign(df, col("doc_id"), Seq("a" -> 0.9, "b" -> 0.2), "s"))
    intercept[IllegalArgumentException](
      Sample.splitAssign(df, col("doc_id"), Seq.empty, "s"))
    val bad = Seq((1L, "x")).toDF("doc_id", "split")
    intercept[IllegalArgumentException](
      Sample.splitAssign(bad, col("doc_id"), Seq("a" -> 1.0), "s"))
  }

  test("hashedLinearScore is an exact integer sum: order-insensitive " +
      "per multiset, zero on empty, bounded per token") {
    val df = Seq("a b c", "c b a", "").toDF("text")
    val out = df.select(
      TextOps.hashedLinearScore(TextOps.tokens(col("text"))).as("s"),
      size(TextOps.tokens(col("text"))).as("n")).collect()
    assert(out(0).getLong(0) == out(1).getLong(0))
    assert(out(2).getLong(0) == 0L)
    assert(math.abs(out(0).getLong(0)) <= 3 * 1000L)
  }

  private def hash52(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"${b & 0xff}%02x").mkString.substring(0, 13), 16)
  }

  test("weightedSample equals a driver-side Efraimidis–Spirakis reference " +
      "and overrepresents heavy weights") {
    import spark.implicits._
    // 2000 docs, 10% carry weight 8, the rest weight 1
    val rows = (0L until 2000L).map(i => (i, if (i % 10 == 0) 8 else 1))
    val df = rows.toDF("id", "w")
    val k = 200
    val got = Sample.weightedSample(df, col("id"), col("w"), k, seed = "t0")
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // reference: priority = max of w independent 52-bit draws, top-k by
    // (priority DESC, id ASC) — the ES verdict under the max-of-uniforms
    // reformulation (max of w uniforms ~ u^(1/w), CDF t^w)
    val ref = rows.map { case (id, w) =>
        (id, (1 to w).map(j => hash52(s"t0|$id|$j")).max)
      }.sortBy { case (id, p) => (-p, id) }.take(k)
      .zipWithIndex.map { case ((id, p), i) => (i + 1L, id, p) }
    assert(got == ref)
    // distribution: weight-8 docs are 10% of the corpus but should take
    // far more than 10% of the sample (expectation ≈ 8/17 ≈ 47%)
    val heavy = got.count { case (_, id, _) => id % 10 == 0 }
    assert(heavy > 60 && heavy < 140,
      s"weight-8 docs took $heavy/$k sample slots — outside any plausible band")
  }

  test("weightedSample raises on out-of-range weights instead of sampling wrong") {
    import spark.implicits._
    val df = Seq((1L, 1), (2L, 0)).toDF("id", "w")
    val e = intercept[Exception] {
      Sample.weightedSample(df, col("id"), col("w"), 1, seed = "t0").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("weightedSample"))
  }

  test("sketchTerciles: exact-quantile replica at k >= n, tie-at-cut falls to the lower band") {
    import graft.ops.Curriculum
    import graft.functions.Sketches
    // 60 docs, many REPEATED margins (ties are the interesting case)
    val zs = (0 until 60).map(i => (i.toLong, ((i * 7) % 12).toLong))
    val df = zs.toDF("doc_id", "z")
    val (tLo, tHi) = Curriculum.sketchTerciles(df, "doc_id", "z", k = 256)
    // k >= n: the sample is the whole corpus; cuts are the EXACT
    // nearest-rank elements of the ascending value multiset
    val sorted = zs.map(_._2.toDouble).sorted
    val n = sorted.size
    assert(tLo == sorted((n + 2) / 3 - 1), "t_lo must be the ceil(n/3)-th ascending value")
    assert(tHi == sorted((2 * n + 2) / 3 - 1), "t_hi must be the ceil(2n/3)-th ascending value")
    // banding: strict > on both cuts, so every doc AT a cut value
    // lands in the lower-quality band — deterministic without an id
    // tiebreak, and identical between batch column and plain Scala
    val got = df.withColumn("band",
        Curriculum.bandByThresholds(col("z"), tLo, tHi))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for ((id, z) <- zs) {
      val want = if (z.toDouble > tHi) 1L else if (z.toDouble > tLo) 2L else 3L
      assert(got(id) == want, s"doc $id z=$z: band ${got(id)} != $want")
    }
    assert(got.values.toSet == Set(1L, 2L, 3L), "all three bands populated")
    // sub-sampled regime (k < n): cuts are still SOME sampled values,
    // and the sample is the deterministic bottom-k — rerunning gives
    // the identical thresholds (no randomness anywhere)
    val big = (0 until 2000).map(i => (i.toLong, (i % 997).toLong)).toDF("doc_id", "z")
    val a = Curriculum.sketchTerciles(big, "doc_id", "z", k = 64)
    val b = Curriculum.sketchTerciles(big.repartition(7), "doc_id", "z", k = 64)
    assert(a == b, "sketch thresholds must be partitioning-invariant")
    assert(a._1 <= a._2)
  }

  test("exact-ntile curriculum face (demoted, test-only) cross-validates the sketch twin") {
    // Round 13: q_quality_curriculum left the catalog — its
    // partition-less ntile window is a single-task global sort no
    // 100 TB plan should contain. The exact-rank semantics live on
    // HERE as the cross-check of q_quality_curriculum_sk.
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.documents(spark, dir)
    val w = graft.queries.PipelineQ.frozenClsWeights(spark, dir)
    val scored = graft.ops.Classify.scoreHashedLogistic(
      docs, "doc_id", "text", w, w.length)
    val exact = scored.withColumn("band",
        ntile(3).over(Window.orderBy(col("z").desc, col("doc_id")))
          .cast("long"))
      .select("doc_id", "z", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = exact.length
    assert(n > 0)
    // (a) the exact face's own invariant: tercile populations
    val pops = exact.groupBy(_._3).view.mapValues(_.length).toMap
    assert(pops.keySet == Set(1L, 2L, 3L))
    assert(pops.values.max - pops.values.min <= 1,
      s"ntile terciles must differ by <=1 doc: $pops")
    // (b) agreement with the frozen sketch thresholds: at sf0.001 the
    // bottom-k sample (k=256) covers the corpus, so the thresholds
    // are exact order statistics and bands can disagree only at
    // boundary docs (nearest-rank rounding + z ties crossing a
    // tercile edge)
    val (tLo, tHi) = graft.queries.PipelineQ.frozenTerciles(spark, dir)
    val disagree = exact.count { case (_, z, band) =>
      val sk = if (z.toDouble > tHi) 1L else if (z.toDouble > tLo) 2L else 3L
      sk != band
    }
    assert(disagree.toDouble / n <= 0.1,
      s"sketch vs exact bands disagree on $disagree/$n docs")
    // (c) the demoted face itself still runs end-to-end (coin + gate)
    val kept = graft.queries.PipelineQ.curriculumNtileFace(spark, dir)
    assert(kept.collect().nonEmpty)
  }
}
