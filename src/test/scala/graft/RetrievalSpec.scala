package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Retrieval

/** Pins for exact-integer BM25 retrieval: an independent plain-Scala
  * replica of the whole quantized scoring chain, the inverted-index
  * selectivity property (no shared term ⇒ never a candidate), and
  * partitioning invariance.
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def replica(docs: Seq[(Long, String)], queries: Seq[(Long, String)],
      k: Int, scaleBits: Int, excludeSelf: Boolean): Seq[(Long, Long, Long, Long)] = {
    def toks(t: String): Seq[String] =
      t.trim.split(" ").filter(_.nonEmpty).toSeq
    def qlog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val tf = docs.map { case (id, t) =>
      id -> toks(t).groupBy(identity).map { case (w, g) => w -> g.length.toLong } }.toMap
    val dl = docs.map { case (id, t) => id -> toks(t).length.toLong }.toMap
    val dfT = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val n = docs.length.toLong
    val a = Math.floorDiv(dl.values.sum, n)
    val s = 1L << scaleBits
    queries.flatMap { case (qid, qtext) =>
      val terms = toks(qtext).distinct
      val cands = docs.map(_._1)
        .filter(d => !(excludeSelf && d == qid))
        .map { d =>
          val score = terms.collect {
            case t if tf(d).contains(t) =>
              val tfv = tf(d)(t)
              val df = dfT(t)
              val iq = qlog2(2 * (n - df) + 1) - qlog2(2 * df + 1)
              // floor-div FIRST (positive operands), then the iq multiply
              iq * ((22L * a * s * tfv) / (10L * a * tfv + 3L * a + 9L * dl(d)))
          }.sum
          (d, score)
        }
        .filter { case (d, _) => terms.exists(t => tf(d).contains(t)) }
      cands.sortBy { case (d, sc) => (-sc, d) }.take(k).zipWithIndex
        .map { case ((d, sc), i) => (qid, i.toLong + 1, d, sc) }
    }
  }

  // corpus with planted term structure: shared rares, common stopword
  private val docs: Seq[(Long, String)] = Seq(
    (0L, "alpha beta gamma the the"),
    (1L, "alpha beta the"),
    (2L, "gamma delta epsilon the"),
    (3L, "zeta eta theta the the the"),
    (4L, "alpha alpha alpha beta the"),
    (5L, "delta epsilon zeta"),
    (6L, "iota kappa lambda"),
    (7L, "beta gamma delta the"))

  test("bm25TopK == plain-Scala replica, and is partitioning-invariant") {
    val queries = Seq((0L, "alpha beta gamma the the"), (2L, "gamma delta epsilon the"))
    val want = replica(docs, queries, k = 4, scaleBits = 20, excludeSelf = true)
    def got(dd: org.apache.spark.sql.DataFrame) =
      Retrieval.bm25Query(Retrieval.buildIndex(dd),
          queries.toDF("query_id", "text"), k = 4, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val df = docs.toDF("doc_id", "text")
    assert(got(df) == want.sortBy(t => (t._1, t._2)))
    assert(got(df.repartition(5)) == want.sortBy(t => (t._1, t._2)))
  }

  test("inverted-index selectivity: docs sharing no query term are never candidates") {
    val res = Retrieval.bm25Query(Retrieval.buildIndex(docs.toDF("doc_id", "text")),
        Seq((100L, "iota kappa")).toDF("query_id", "text"), k = 8)
      .collect().map(_.getLong(2)).toSet
    assert(res == Set(6L), s"only doc 6 contains iota/kappa, got $res")
  }

  test("mergeIndex(build(even), build(odd)) == build(all), query-for-query") {
    val df = docs.toDF("doc_id", "text")
    val queries = Seq((0L, "alpha beta gamma the"), (5L, "delta zeta")).toDF("query_id", "text")
    val whole = Retrieval.bm25Query(Retrieval.buildIndex(df), queries,
        k = 8, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val ia = Retrieval.buildIndex(df.filter($"doc_id" % 2 === 0))
    val ib = Retrieval.buildIndex(df.filter($"doc_id" % 2 === 1))
    val merged = Retrieval.mergeIndex(ia, Retrieval.totalLen(ia),
      ib, Retrieval.totalLen(ib))
    val got = Retrieval.bm25Query(merged, queries, k = 8, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(got.toSeq == whole.toSeq)
    assert(merged.nDocs == docs.length)
  }

  test("removeFromIndex(build(all), dels) == build(all minus dels), table for table") {
    val df = docs.toDF("doc_id", "text")
    val queries = Seq((0L, "alpha beta gamma the"), (5L, "delta zeta")).toDF("query_id", "text")
    val delIds = df.filter($"doc_id" % 3 === 1).select("doc_id")
    val whole = Retrieval.buildIndex(df)
    val (after, afterLen) = Retrieval.removeFromIndex(whole, delIds,
      Retrieval.totalLen(whole))
    val want = Retrieval.buildIndex(df.filter($"doc_id" % 3 =!= 1))
    // artifact tables equal as sets, scalars equal
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    assert(rows(after.postings) == rows(want.postings))
    assert(rows(after.df) == rows(want.df))
    assert(rows(after.dl) == rows(want.dl))
    assert(after.nDocs == want.nDocs && after.avgdl == want.avgdl)
    assert(afterLen == Retrieval.totalLen(want))
    // ranking equal query for query
    def ans(i: Retrieval.Bm25Index) =
      Retrieval.bm25Query(i, queries, k = 8, excludeSelf = true)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    assert(ans(after) == ans(want) && ans(after).nonEmpty)
    // absent ids are no-ops; emptying the corpus is refused
    val (noop, _) = Retrieval.removeFromIndex(after,
      Seq(99999L).toDF("doc_id"), afterLen)
    assert(noop.nDocs == after.nDocs)
    intercept[IllegalArgumentException] {
      Retrieval.removeFromIndex(whole, df.select("doc_id"),
        Retrieval.totalLen(whole))
    }
    // the documented post-takedown rule, positive path: REBUILT
    // upper bounds keep the MaxScore plan exactly equal to the
    // naive one on the shrunken index
    val ub2 = Retrieval.termUpperBounds(after)
    val pruned = Retrieval.bm25QueryMaxScore(after, queries, k = 8,
        excludeSelf = true, ub = ub2)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(pruned == ans(after))
  }

  test("maxDfPpm prunes corpus-wide terms before the postings join") {
    // 'the' is in 6 of 8 docs (750000 ppm); a 500000 ppm ceiling
    // drops it from the query, so a the+iota query degenerates to
    // the iota-only candidate set
    val idx = Retrieval.buildIndex(docs.toDF("doc_id", "text"))
    val res = Retrieval.bm25Query(idx,
        Seq((100L, "iota the")).toDF("query_id", "text"), k = 8,
        maxDfPpm = 500000L)
      .collect().map(_.getLong(2)).toSet
    assert(res == Set(6L), s"pruned query should only see doc 6, got $res")
  }

  test("bm25QueryMaxScore == bm25Query on a Zipf corpus with real pruning headroom") {
    // 200 docs over a reciprocal-frequency vocab: term tN appears in
    // ~200/N docs, so rare terms carry positive idf and θ > 0 — the
    // regime where non-essential pruning actually engages (unlike the
    // all-negative-idf planted corpus below, where MaxScore must
    // provably degenerate to the naive plan — also asserted)
    val zipf = (0 until 200).map { d =>
      val terms = (0 until 12).map { j =>
        val r = ((d * 12 + j) * 2654435761L % 1000) / 1000.0
        s"t${math.max(1, math.pow(40, r).toLong)}"
      }
      (d.toLong, terms.mkString(" "))
    }
    val df = zipf.toDF("doc_id", "text")
    val idx = Retrieval.buildIndex(df)
    val queries = Seq(
      (0L, zipf(0)._2),                     // doc-as-query
      (1L, "t39 t38 t1 t2"),                // rare + stopwords
      (2L, "t1 t2 t3")                      // stopwords only
    ).toDF("query_id", "text")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    for (k <- Seq(3, 10); ex <- Seq(false, true)) {
      val naive = canon(Retrieval.bm25Query(idx, queries, k, excludeSelf = ex))
      val ms = canon(Retrieval.bm25QueryMaxScore(idx, queries, k, excludeSelf = ex))
      assert(ms == naive, s"k=$k excludeSelf=$ex")
    }
    // and on the all-negative-idf planted corpus
    val idx2 = Retrieval.buildIndex(docs.toDF("doc_id", "text"))
    val q2 = Seq((0L, "alpha beta gamma the"), (100L, "iota the")).toDF("query_id", "text")
    assert(canon(Retrieval.bm25QueryMaxScore(idx2, q2, 4)) ==
      canon(Retrieval.bm25Query(idx2, q2, 4)))
    // a persisted ub artifact is bound to its scale: passing one built
    // at a DIFFERENT scaleBits must refuse (it would silently drop
    // top-k rows), the matching one must reproduce the exact result
    val ubOk = Retrieval.termUpperBounds(idx, scaleBits = 20)
    assert(canon(Retrieval.bm25QueryMaxScore(idx, queries, 3, ub = ubOk)) ==
      canon(Retrieval.bm25Query(idx, queries, 3)))
    val ubWrong = Retrieval.termUpperBounds(idx, scaleBits = 16)
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25QueryMaxScore(idx, queries, 3, ub = ubWrong)
    }
    assert(e.getMessage.contains("scaleBits=16"), e.getMessage)
    // a pre-stamp artifact (no ub_scale_bits column) is refused too
    val e2 = intercept[IllegalArgumentException] {
      Retrieval.bm25QueryMaxScore(idx, queries, 3,
        ub = ubOk.drop("ub_scale_bits"))
    }
    assert(e2.getMessage.contains("ub_scale_bits"), e2.getMessage)
  }

  test("rrfFuse == hand-computed fusion; docs on both lists beat single-list docs") {
    // list A ranks docs 10,11,12; list B ranks 12,10,13
    val a = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L))
      .toDF("query_id", "rank", "doc_id")
    val b = Seq((1L, 1L, 12L), (1L, 2L, 10L), (1L, 3L, 13L))
      .toDF("query_id", "rank", "doc_id")
    val s = 1L << 20
    def c(r: Long) = s / (60 + r)
    val want = Map(
      10L -> (c(1) + c(2)), 11L -> c(2), 12L -> (c(3) + c(1)), 13L -> c(3))
    val got = Retrieval.rrfFuse(Seq(a, b), k = 4)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(got == want)
    // both-list docs (10, 12) outrank every single-list doc
    val ranks = Retrieval.rrfFuse(Seq(a, b), k = 4)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(Set(ranks(10L), ranks(12L)) == Set(1L, 2L), s"ranks: $ranks")
  }

  test("phraseQuery: anchor-merge semantics — overlap, repeats, order, and the integer score") {
    import org.apache.spark.sql.functions.col
    // corpus built to pin every matching rule:
    //  d1 "a a a"      — "a a" occurs at anchors 1 and 2 (overlap)
    //  d2 "a b a b a"  — "a b a" at 1 and 3 (repeated term in phrase)
    //  d3 "b a"        — contains both tokens of "a b" but reversed
    //  d4 "x a b y"    — "a b" once, mid-document
    val docs = Seq((1L, "a a a"), (2L, "a b a b a"), (3L, "b a"),
      (4L, "x a b y")).toDF("doc_id", "text")
    val pidx = Retrieval.buildPositionalIndex(docs)
    def ranked(phrase: String): Seq[(Long, Long, Long)] =
      Retrieval.phraseQuery(pidx,
          Seq((9L, phrase)).toDF("query_id", "text"), k = 10)
        .orderBy("rank")
        .select(col("rank"), col("doc_id"), col("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    // "a b": d2 twice (anchors 1, 3), d4 once; d3 NEVER (order), d1
    // never (no b). tf drives the saturation so d2 outranks d4.
    assert(ranked("a b") == Seq((1L, 2L, 2L), (2L, 4L, 1L)))
    // overlapping occurrences count: "a a" in "a a a" = anchors 1, 2
    assert(ranked("a a") == Seq((1L, 1L, 2L)))
    // repeated phrase term: "a b a" at anchors 1 and 3 of d2 only
    assert(ranked("a b a") == Seq((1L, 2L, 2L)))
    // absent phrase: empty result, never a false positive
    assert(ranked("b b") == Seq.empty)
    // integer score replica for the "a b" query: n=4, phrase df=2,
    // a = floorDiv(3+5+2+4, 4) = 3, s = 2^20
    def qlog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    def score(tf: Long, dl: Long): Long = {
      val iq = qlog2(2 * (4 - 2) + 1) - qlog2(2 * 2 + 1)
      iq * ((22L * 3 * (1L << 20) * tf) / (10L * 3 * tf + 3L * 3 + 9L * dl))
    }
    val got = Retrieval.phraseQuery(pidx,
        Seq((9L, "a b")).toDF("query_id", "text"), k = 10)
      .orderBy("rank").select(col("doc_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, score(2, 5)), (4L, score(1, 4))))
  }

  test("proxQuery: minimal-interval semantics — left/right minimality, overlap, order, window, and the integer score") {
    import org.apache.spark.sql.functions.col
    // corpus built to pin every counting rule of the minimal-interval
    // semantic (see Retrieval.proxQuery's scaladoc):
    //  d1 "x x y"       — [1,3] covers but is NOT minimal ([2,3] is):
    //                     the anchor-1 x reoccurs inside its cover
    //  d2 "x y x"       — genuinely overlapping minimal intervals
    //                     [1,2] and [2,3]: both count
    //  d3 "y x"         — reversed order still matches (unordered)
    //  d4 "x a a a y"   — span-5 cover: in/out by window size
    val docs = Seq((1L, "x x y"), (2L, "x y x"), (3L, "y x"),
      (4L, "x a a a y")).toDF("doc_id", "text")
    val pidx = Retrieval.buildPositionalIndex(docs)
    def tfs(q: String, w: Int): Map[Long, Long] =
      Retrieval.proxQuery(pidx,
          Seq((9L, q)).toDF("query_id", "text"), w = w, k = 10)
        .select(col("doc_id"), col("tf"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // w=3: d1 counts ONE ([2,3] only — left-minimality kills anchor 1),
    // d2 counts TWO ([1,2], [2,3]), d3 ONE (order-free), d4 none (span 5)
    assert(tfs("x y", 3) == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    // window below the tightest span: m=2 can never fit in w=1
    assert(tfs("x y", 1) == Map.empty[Long, Long])
    // window exactly the d4 span admits it
    assert(tfs("x y", 5) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    // repeated query tokens collapse to the distinct term set
    assert(tfs("x x y", 3) == tfs("x y", 3))
    // m=1: every occurrence is its own minimal interval, any w
    assert(tfs("x", 1) == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    // integer score replica for ("x y", w=3): n=4, df=3 (d1,d2,d3),
    // a = floorDiv(3+3+2+5, 4) = 3, s = 2^20 — same virtual-term
    // chain as phraseQuery, tf from the minimal-interval count
    def qlog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    def score(tf: Long, dl: Long): Long = {
      val iq = qlog2(2 * (4 - 3) + 1) - qlog2(2 * 3 + 1)
      iq * ((22L * 3 * (1L << 20) * tf) / (10L * 3 * tf + 3L * 3 + 9L * dl))
    }
    val got = Retrieval.proxQuery(pidx,
        Seq((9L, "x y")).toDF("query_id", "text"), w = 3, k = 10)
      .orderBy("rank").select(col("doc_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = Seq((2L, score(2, 3)), (1L, score(1, 3)),
      (3L, score(1, 2))).sortBy { case (d, s) => (-s, d) }
    assert(got == expect)
  }

  test("rare terms outrank the corpus-wide stopword") {
    // query = one rare + the stopword 'the' (in 6 of 8 docs, iq<0):
    // doc 6 (iota, no 'the') must beat every the-only doc
    val res = Retrieval.bm25Query(Retrieval.buildIndex(docs.toDF("doc_id", "text")),
        Seq((100L, "iota the")).toDF("query_id", "text"), k = 8)
      .orderBy("rank")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(res.head._1 == 6L, s"expected doc 6 first, got ${res.toSeq}")
    assert(res.head._2 > 0 && res.tail.forall(_._2 <= 0),
      s"stopword-only matches should score <= 0: ${res.toSeq}")
  }

  test("q_hard_negatives' cosine cut is non-vacuous at the oracle SF: " +
      "some candidates filtered as likely false negatives, some survive") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.01"
    val docs = graft.io.Tables.documents(spark, dir)
    val emb = graft.io.Tables.embeddings(spark, dir)
    val idx = Retrieval.buildIndex(docs)
    val cands = Retrieval.bm25Query(idx,
        docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")),
        k = 20, excludeSelf = true)
      .join(emb.select(col("vec_id").as("doc_id"),
        Similarity.asDouble(col("embedding")).as("dv")), "doc_id")
      .join(emb.select(col("vec_id").as("query_id"),
        Similarity.asDouble(col("embedding")).as("qv")), "query_id")
      .withColumn("c", Similarity.cosine(col("qv"), col("dv")))
    val n = cands.count()
    val dropped = cands.filter(col("c") >= 0.05).count()
    assert(dropped > 0, "tau never fired — the false-negative filter pins nothing")
    assert(dropped < n, "tau dropped every candidate")
  }
}
