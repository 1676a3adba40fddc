package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.NgramLm

/** Stupid-backoff trigram LM: pinned against an independent
  * plain-Scala replica (the GraphSpec/TrainingSpec discipline — the
  * DuckDB oracle checks cross-engine replay; this checks the MATH).
  */
class LmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plain-Scala stupid backoff, written directly from the paper
    * formulation — no Spark, no shared code with the operator.
    */
  private def replica(docs: Seq[(Long, String)], scaleBits: Int)
      : Map[Long, (Long, Long)] = {
    val s = 1L << scaleBits
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split(" ").filter(_.nonEmpty).toSeq }
    val c1 = scala.collection.mutable.Map[String, Long]()
    val c2 = scala.collection.mutable.Map[(String, String), Long]()
    val c3 = scala.collection.mutable.Map[(String, String, String), Long]()
    var n = 0L
    for ((_, ts) <- toks; i <- ts.indices) {
      n += 1
      c1(ts(i)) = c1.getOrElse(ts(i), 0L) + 1
      if (i >= 1) {
        val k = (ts(i - 1), ts(i))
        c2(k) = c2.getOrElse(k, 0L) + 1
      }
      if (i >= 2) {
        val k = (ts(i - 2), ts(i - 1), ts(i))
        c3(k) = c3.getOrElse(k, 0L) + 1
      }
    }
    toks.filter(_._2.nonEmpty).map { case (id, ts) =>
      val mass = ts.indices.map { i =>
        val b3 = if (i >= 2) c3.get((ts(i - 2), ts(i - 1), ts(i)))
          .map(c => s * c / c2((ts(i - 2), ts(i - 1)))) else None
        val b2 = if (i >= 1) c2.get((ts(i - 1), ts(i)))
          .map(c => s * c / c1(ts(i - 1))) else None
        val b1 = c1.get(ts(i)).map(c => s * c / n)
        if (i >= 2)
          b3.orElse(b2.map(_ / 4)).orElse(b1.map(_ / 16)).getOrElse(0L)
        else if (i == 1) b2.orElse(b1.map(_ / 4)).getOrElse(0L)
        else b1.getOrElse(0L)
      }.sum
      id -> (ts.length.toLong, mass)
    }.toMap
  }

  /** The face path: ratio tables trained on `train`, per-position
    * contributions of `docs`, rolled up per doc — (doc_id, n_tokens,
    * sb_mass, sb_score); docs with no tokens are absent.
    */
  private def score(docs: org.apache.spark.sql.DataFrame,
      train: org.apache.spark.sql.DataFrame = null) = {
    val (h3, h2, h1) = NgramLm.backoffTables(
      Option(train).getOrElse(docs), "doc_id", "text")
    NgramLm.rollupScore(
      NgramLm.positionContribs(docs, "doc_id", "text", h3, h2, h1), "doc_id")
  }

  private val corpus = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the hat"),
    (3L, "the dog sat on the mat"),
    (4L, "a completely different sentence appears here"),
    (5L, "the cat sat on the mat again and again"),
    (6L, ""))

  test("scoreBackoff == plain-Scala replica on every doc (self-scored)") {
    val docs = corpus.toDF("doc_id", "text")
    val got = score(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = replica(corpus, NgramLm.DefaultScaleBits)
    assert(got == want)
    // the empty doc is absent (lmScore convention), others present
    assert(!got.contains(6L) && got.size == 5)
  }

  test("held-out fluency contrast: reference-attested text far outscores " +
      "novel text (self-scoring can't separate — singleton trigrams " +
      "score c/c_ctx = 1, which is WHY CCNet trains on a reference corpus)") {
    val ref = corpus.filter(c => Set(1L, 2L, 3L, 5L)(c._1))
      .toDF("doc_id", "text")
    val target = Seq(
      (10L, "the cat sat on the mat"),
      (11L, "completely different sentence appears here today"))
      .toDF("doc_id", "text")
    val sc = score(target, train = ref)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(sc(10L) > sc(11L) * 5,
      s"reference-fluent doc should far outscore the novel doc: $sc")
  }

  test("held-out scoring: model trained on one corpus scores another, " +
      "unseen tokens contribute 0") {
    val train = corpus.take(5).toDF("doc_id", "text")
    val target = Seq((10L, "the cat sat"), (11L, "zz yy xx"))
      .toDF("doc_id", "text")
    val got = score(target, train = train)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(10L) > 0L)
    assert(got(11L) == 0L, "fully-unseen tokens must score exactly 0")
  }

  test("trigram count table matches the replica's c3") {
    val docs = corpus.toDF("doc_id", "text")
    val got = NgramLm.trigramCounts(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))
        -> r.getLong(3)).toMap
    // independent recount
    val c3 = scala.collection.mutable.Map[(String, String, String), Long]()
    for ((_, t) <- corpus; ts = t.split(" ").filter(_.nonEmpty)
         ; i <- 2 until ts.length) {
      val k = (ts(i - 2), ts(i - 1), ts(i))
      c3(k) = c3.getOrElse(k, 0L) + 1
    }
    assert(got == c3.toMap)
  }

  test("unigram table broadcasts; bigram/trigram probes are hash joins " +
      "(no sort on the corpus-sized probe side needed for correctness)") {
    val docs = corpus.toDF("doc_id", "text")
    val plan = score(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"unigram table should broadcast:\n$plan")
  }

  test("persisted-model round trip: backoffTables -> parquet -> " +
      "positionContribs + rollupScore == scoreBackoff (the q_stream_lm " +
      "serving decomposition loses nothing)") {
    val docs = corpus.toDF("doc_id", "text")
    val work = java.nio.file.Files.createTempDirectory("lm_rt").toString
    val (h3, h2, h1) = NgramLm.backoffTables(docs, "doc_id", "text")
    h3.write.parquet(s"$work/h3")
    h2.write.parquet(s"$work/h2")
    h1.write.parquet(s"$work/h1")
    val viaModel = NgramLm.rollupScore(
      NgramLm.positionContribs(docs, "doc_id", "text",
        spark.read.parquet(s"$work/h3"),
        spark.read.parquet(s"$work/h2"),
        spark.read.parquet(s"$work/h1")), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = score(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaModel == direct && viaModel.nonEmpty)
  }

  test("mergeCounts: shard-and-sum == count-the-union, scored identically " +
      "(the q_lm_merge incremental-training contract), on an ASYMMETRIC " +
      "3-way split including an empty shard") {
    val docs = corpus.toDF("doc_id", "text")
    // uneven shards: one doc / the rest / empty — merge must be exact
    // regardless of shard shape, and an empty shard must be a no-op
    val s1 = NgramLm.countTables(
      docs.filter(col("doc_id") === 1), "doc_id", "text")
    val s2 = NgramLm.countTables(
      docs.filter(col("doc_id") =!= 1), "doc_id", "text")
    val s3 = NgramLm.countTables(docs.limit(0), "doc_id", "text")
    val merged = NgramLm.mergeCounts(NgramLm.mergeCounts(s1, s2), s3)
    val direct = NgramLm.countTables(docs, "doc_id", "text")
    assert(merged.n == direct.n)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.toSeq.init.mkString("|") -> r.getLong(r.length - 1)).toMap
    assert(asMap(merged.c1) == asMap(direct.c1))
    assert(asMap(merged.c2) == asMap(direct.c2))
    assert(asMap(merged.c3) == asMap(direct.c3))
    // end to end: publish the merged counts, score, compare to direct
    val (h3, h2, h1) = NgramLm.ratioTables(merged)
    val viaMerge = NgramLm.rollupScore(
      NgramLm.positionContribs(docs, "doc_id", "text", h3, h2, h1), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val whole = score(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaMerge == whole && viaMerge.nonEmpty)
  }
}
