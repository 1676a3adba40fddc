package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Higher-order n-gram language-model scoring — the CCNet-style
  * fluency filter ([[TextOps.lmScore]] is the unigram cut-down) at
  * trigram order with STUPID BACKOFF (Brants et al., EMNLP'07: "Large
  * Language Models in Machine Translation" — score, don't normalize;
  * back off with a constant penalty), the model large-scale pipelines
  * actually train because it needs nothing but count tables.
  *
  * Why not true Kneser-Ney perplexity: discounted probabilities need
  * float log-sums whose last-ulp rounding differs across engines —
  * the same reason lmScore quantizes. Here EVERY step is exact long
  * arithmetic, so the whole pipeline (train counts → score corpus)
  * replays hash-exact in the DuckDB oracle:
  *
  *  - counts: one groupBy per order (1/2/3) over the position table —
  *    three partial-agged shuffles, each output one row per distinct
  *    n-gram;
  *  - per-position contribution at the HIGHEST matched order, as a
  *    fixed-point ratio floor(S·c(ngram) / c(context)) with
  *    S = 2^scaleBits (c ≤ context count always, so the ratio is ≤ S);
  *  - backoff penalty α = 1/4 PER LEVEL SKIPPED, applied as exact
  *    integer division by 4 (dyadic — the [[Bars.ewma]] α recipe), so
  *    a position that falls to the bigram scores base2 div 4 and to
  *    the unigram base1 div 16. The best REACHABLE order at position
  *    p is min(p+1, 3): the first token of a doc backs off nothing
  *    for matching only its unigram;
  *  - doc score: sb_mass = Σ contributions (exact long, associative,
  *    partition-order-invariant), sb_score = mass/n_tokens cast to
  *    double only at the end.
  *
  * Scale shape: the position table is map-side (posexplode + two
  * element_at lookups against the materialized token array — no
  * re-inlined tokenize, the [[TextOps.shingles]] lesson). Each scoring
  * join probes a PRE-AGGREGATED count table — one row per distinct
  * n-gram, so 'the'-skew never amplifies (the skewed key exists once
  * on the build side); the unigram table broadcasts, the bigram/
  * trigram tables are shuffle hash joins that AQE handles. Headroom
  * contract (the [[GraphOps.pageRank]] discipline): S·c must stay
  * under 2^63 — at the default scaleBits = 20 that is 8.8e12 training
  * tokens (~35 TB of text); shard the training corpus or lower
  * scaleBits beyond that.
  *
  * Reference lineage: the reference has no text scoring at all — this
  * extends its validate-gate family (internal/app/services/ingestion/
  * service.go:73 validateRecord) to the learned-fluency gate an LLM
  * corpus pipeline needs.
  */
object NgramLm {

  /** Fixed-point scale exponent: contributions live in [0, 2^bits]. */
  val DefaultScaleBits = 20

  /** Position table: one row per token occurrence with its 0-based
    * position and up to two preceding tokens (null when the position
    * has no such context). Map-side only.
    */
  def positions(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("_ts"))
      .select(col(idCol), col("_ts"),
        posexplode(col("_ts")).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos"), col("tok"),
        when(col("pos") >= 1, element_at(col("_ts"), col("pos"))).as("w1"),
        when(col("pos") >= 2, element_at(col("_ts"), col("pos") - 1)).as("w2"))

  /** Trigram count table (w2, w1, tok, cnt) — the trained artifact a
    * pipeline persists (orders 1 and 2 are its marginals only in the
    * sliding-window sense; they are counted directly in scoring).
    */
  def trigramCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    positions(docs, idCol, textCol).filter(col("pos") >= 2)
      .groupBy("w2", "w1", "tok").agg(count(lit(1)).as("cnt"))

  /** The MERGEABLE training artifact: raw count tables per order plus
    * the total token count — unlike the pre-divided ratio tables,
    * counts are ADDITIVE, so a model maintained incrementally (new
    * corpus shards arriving over time, or shard-parallel training
    * across clusters) persists THESE and derives the ratio tables at
    * publish time ([[ratioTables]]). [[mergeCounts]] is the exact
    * union: counting the concatenated corpus and summing per-shard
    * counts are the same integers, so the incremental path loses
    * nothing vs a from-scratch retrain (q_lm_merge pins this against
    * q_lm_backoff's oracle verbatim).
    */
  final case class CountTables(c3: DataFrame, c2: DataFrame,
      c1: DataFrame, n: Long)

  /** Count a training corpus into the mergeable artifact. */
  def countTables(train: DataFrame, idCol: String,
      textCol: String): CountTables = {
    // localCheckpoint (the Unigram.wordTable convention): eager, cuts
    // lineage, shared by the three count scans + the total; blocks are
    // freed by the ContextCleaner when the plan is GC'd.
    val tr = positions(train, idCol, textCol).localCheckpoint()
    CountTables(
      tr.filter(col("pos") >= 2)
        .groupBy("w2", "w1", "tok").agg(count(lit(1)).as("cnt3")),
      tr.filter(col("pos") >= 1)
        .groupBy("w1", "tok").agg(count(lit(1)).as("cnt2")),
      tr.groupBy("tok").agg(count(lit(1)).as("cnt1")),
      // total training tokens: one bounded scalar (model-sized collect)
      tr.count())
  }

  /** Exact additive merge of two count artifacts — a full-outer sum
    * per order (one shuffle per table, build sides pre-aggregated one
    * row per n-gram) plus a long add for the totals.
    */
  def mergeCounts(a: CountTables, b: CountTables): CountTables = {
    def add(l: DataFrame, r: DataFrame, keys: Seq[String],
        cnt: String): DataFrame =
      l.withColumnRenamed(cnt, "_l")
        .join(r.withColumnRenamed(cnt, "_r"), keys, "full_outer")
        .select(keys.map(col) :+
          (coalesce(col("_l"), lit(0L)) + coalesce(col("_r"), lit(0L)))
            .as(cnt): _*)
    CountTables(
      add(a.c3, b.c3, Seq("w2", "w1", "tok"), "cnt3"),
      add(a.c2, b.c2, Seq("w1", "tok"), "cnt2"),
      add(a.c1, b.c1, Seq("tok"), "cnt1"),
      a.n + b.n)
  }

  /** Publish step: the three pre-divided ratio tables of a trained
    * model — base_o = floor(S · c(ngram) / c(context)) per attested
    * n-gram of order 3/2/1, derived from a count artifact (columns
    * (w2,w1,tok,b3) / (w1,tok,b2) / (tok,b1)). The division is the
    * one non-additive step, so it runs once per published model, not
    * per merge. Joining the context denominator HERE keeps every
    * later corpus-sized scoring pass to pure lookups; each table is
    * one row per distinct n-gram, so the skewed token exists once on
    * the build side.
    */
  def ratioTables(counts: CountTables,
      scaleBits: Int = DefaultScaleBits)
      : (DataFrame, DataFrame, DataFrame) = {
    val s = 1L << scaleBits
    val CountTables(c3, c2, c1, n) = counts
    require(n > 0, "ratioTables needs a non-empty training corpus")
    val h3 = c3.join(
        c2.select(col("w1").as("w2"), col("tok").as("w1"),
          col("cnt2").as("den")),
        Seq("w2", "w1"))
      .select(col("w2"), col("w1"), col("tok"),
        expr(s"($s * cnt3) div den").as("b3"))
    val h2 = c2.join(
        c1.select(col("tok").as("w1"), col("cnt1").as("den")), Seq("w1"))
      .select(col("w1"), col("tok"), expr(s"($s * cnt2) div den").as("b2"))
    val h1 = c1.select(col("tok"), expr(s"($s * cnt1) div $n").as("b1"))
    (h3, h2, h1)
  }

  /** Train-and-publish in one step: count `train`, derive the ratio
    * tables. The incremental path is countTables → mergeCounts* →
    * ratioTables.
    */
  def backoffTables(train: DataFrame, idCol: String, textCol: String,
      scaleBits: Int = DefaultScaleBits)
      : (DataFrame, DataFrame, DataFrame) =
    ratioTables(countTables(train, idCol, textCol), scaleBits)

  /** Per-position contributions of `docs` against a FROZEN model —
    * (idCol, pos, contrib), one row per token occurrence. Every step
    * is STATELESS (posexplode projection + three left joins against
    * batch-side tables), which is exactly what lets this run on a
    * STREAMING `docs` as stream-static joins with no state store —
    * the q_stream_lm serving face. The unigram table broadcasts; the
    * bigram/trigram probes are shuffle hash joins on a batch plan and
    * per-micro-batch stream-static joins on a stream.
    */
  def positionContribs(docs: DataFrame, idCol: String, textCol: String,
      h3: DataFrame, h2: DataFrame, h1: DataFrame): DataFrame = {
    val contrib =
      when(col("pos") >= 2, coalesce(col("b3"), expr("b2 div 4"),
        expr("b1 div 16"), lit(0L)))
      .when(col("pos") === 1, coalesce(col("b2"), expr("b1 div 4"), lit(0L)))
      .otherwise(coalesce(col("b1"), lit(0L)))
    positions(docs, idCol, textCol)
      .join(h3, Seq("w2", "w1", "tok"), "left")
      .join(h2, Seq("w1", "tok"), "left")
      .join(broadcast(h1), Seq("tok"), "left")
      .select(col(idCol), col("pos"), contrib.as("contrib"))
  }

  /** Roll per-position contributions up to the per-doc score —
    * (idCol, n_tokens, sb_mass, sb_score). Factored out so the
    * streaming face can apply the identical rollup to its sink.
    */
  def rollupScore(contribs: DataFrame, idCol: String): DataFrame =
    contribs.groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("contrib").as("sb_mass"))
      .withColumn("sb_score",
        col("sb_mass").cast("double") / col("n_tokens").cast("double"))
}
