package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Inverted-index text retrieval — BM25 top-k in the engine's
  * exact-integer discipline (Robertson & Zaragoza 2009 for the
  * scoring shape; cf. the reference's keyed lookups, which stop at
  * point access — ranked retrieval is an extension face).
  *
  * Why a training-data engine needs it: dataset curation retrieves —
  * eval-set decontamination by QUERY (not just n-gram overlap),
  * targeted-domain mining ("find docs like these seeds"), and
  * retrieval-augmented dedup review all reduce to "top-k docs for a
  * term set" over corpus-scale text.
  *
  * Determinism contract (the qlog2/dyadic discipline of
  * [[Dsir]]/[[NgramLm]]): every score is an exact long, so ranking
  * replays hash-identically in any engine —
  *
  *  - idf is QUANTIZED: iq(t) = floor(log2(2(N−df)+1)) −
  *    floor(log2(2df+1)), computed as length(bin(x))−1 — the integer
  *    rendering of BM25's ln((N−df+0.5)/(df+0.5)) (absorbing the +0.5
  *    smoothing into the 2x+1 odd shift; negative for df > ~N/2,
  *    exactly like the float original);
  *  - the tf saturation k1=1.2, b=0.75 is EXACT RATIONAL with a
  *    quantized average doc length: with a = floorDiv(L, N) (the only
  *    corpus-scale statistic, two scalars collected),
  *    tf_part = tf·(k1+1) / (tf + k1(1−b) + k1·b·dl/a)
  *            = 22·tf·a / (10·tf·a + 3·a + 9·dl)   — integers —
  *    scaled by 2^scaleBits and floor-divided (positive operands, so
  *    Spark `div` == DuckDB `//`);
  *  - term score = iq · tf_part_scaled; doc score = Σ over the
  *    query's distinct terms; top-k by (score DESC, doc_id ASC).
  *
  * Overflow headroom: the scaled numerator is 22·tf·a·2^scaleBits —
  * per-DOC quantities only (nothing grows with corpus size), bounded
  * by 2^63 while tf·a < 2^(58−scaleBits); at the default 20 bits that
  * is tf·avgdl < 2.7e11, far above any real corpus (a pathological
  * million-token doc in a million-token-average corpus would need
  * tf·a ≈ 1e12 — raise nothing, shrink scaleBits).
  *
  * Scale shape: postings/df/dl are one tokenize pass + map-side
  * partial aggs; N and L are a 1-row collect; the query term set
  * broadcasts and the candidate set is the INVERTED-INDEX equality
  * join — only docs sharing ≥1 query term are scored (the point of
  * the index; no |Q|·|C| cross join anywhere); the final top-k is a
  * window over the already-sparse candidate table.
  */
object Retrieval {

  /** floor(log2 x) for x ≥ 1 as exact integer ops (the
    * [[Dsir]] qlog2 recipe — length(bin(x)) − 1).
    */
  private def qlog2(c: org.apache.spark.sql.Column) =
    (length(bin(c)) - 1).cast("long")

  /** The persistable inverted-index artifact (the
    * [[NgramLm.backoffTables]] decomposition applied to retrieval):
    * postings (doc_id, term, tf), per-term df, per-doc dl — three
    * plain tables a production layout writes ONCE (partitioned/
    * bucketed by term for the postings) — plus the two corpus
    * scalars. Build cost is one tokenize pass + map-side partial
    * aggs, amortized over every query; [[bm25Query]] serves any
    * number of query sets against the frozen artifact.
    */
  final case class Bm25Index(postings: DataFrame, df: DataFrame,
      dl: DataFrame, nDocs: Long, avgdl: Long)

  /** Tokenize `docs` once and derive the index tables + scalars. */
  def buildIndex(docs: DataFrame, docIdCol: String = "doc_id",
      textCol: String = "text"): Bm25Index = {
    val toks = docs.select(col(docIdCol).cast("long").as("doc_id"),
      TextOps.tokens(col(textCol)).as("ts"))
    val posting = toks
      .select(col("doc_id"), explode(col("ts")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = posting.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = toks.select(col("doc_id"), size(col("ts")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), sum("dl").as("l")).head()
    val nDocs = st.getLong(0)
    require(nDocs > 0, "buildIndex needs a non-empty corpus " +
      "(sum(dl) is null on empty input)")
    Bm25Index(posting, dfT, dl, nDocs,
      Math.floorDiv(st.getLong(1), nDocs))
  }

  /** BM25 top-`k` docs per query against a frozen [[Bm25Index]].
    * `queries`: (queryIdCol, textCol) — each query's DISTINCT tokens
    * form its term set. Returns (query_id, rank, doc_id, score) with
    * rank 1..k by (score DESC, doc_id ASC). `excludeSelf` drops the
    * candidate whose doc_id equals the query_id (for doc-as-query
    * related-document retrieval).
    */
  def bm25Query(idx: Bm25Index, queries: DataFrame, k: Int,
      queryIdCol: String = "query_id", textCol: String = "text",
      scaleBits: Int = 20, excludeSelf: Boolean = false,
      maxDfPpm: Long = 1000000L): DataFrame = {
    val scored = bm25Scores(idx, queries, queryIdCol, textCol,
      scaleBits, excludeSelf, maxDfPpm)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** The full (query_id, doc_id, score) candidate table behind
    * [[bm25Query]] — sparse by construction (only docs sharing ≥1
    * query term appear). Use directly when the consumer is a
    * THRESHOLD rather than a top-k: decontamination flags every doc
    * whose score clears a cut, however many per query.
    */
  def bm25Scores(idx: Bm25Index, queries: DataFrame,
      queryIdCol: String = "query_id", textCol: String = "text",
      scaleBits: Int = 20, excludeSelf: Boolean = false,
      maxDfPpm: Long = 1000000L): DataFrame = {
    require(scaleBits > 0 && scaleBits < 40, "scaleBits must leave headroom")
    require(maxDfPpm > 0 && maxDfPpm <= 1000000L,
      "maxDfPpm is parts-per-million of nDocs")
    val qt0 = queries.select(col(queryIdCol).cast("long").as("query_id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("term"))
    // STOPWORD PRE-PRUNE (measured in Probe bm25_index): a term in
    // ~every doc makes the postings join admit ~every doc — the
    // scoring ranks it away (negative quantized idf), but the join
    // already paid. Drop query terms whose df exceeds the ceiling
    // BEFORE the postings join; the df side of this semi-filter is
    // the model-sized per-term table, joined against the (tiny)
    // query term set. Default ceiling 1e6 ppm = keep everything.
    val qt = if (maxDfPpm >= 1000000L) qt0
      else qt0.join(idx.df.filter(
          col("df") * lit(1000000L) <= lit(maxDfPpm * idx.nDocs)),
        Seq("term"), "left_semi")
    val cand0 = idx.postings.join(broadcast(qt), Seq("term"))
      .join(idx.df, Seq("term")).join(idx.dl, Seq("doc_id"))
    val cand = if (excludeSelf)
      cand0.filter(col("doc_id") =!= col("query_id")) else cand0
    val iq = qlog2(lit(2L) * (lit(idx.nDocs) - col("df")) + lit(1L)) -
      qlog2(lit(2L) * col("df") + lit(1L))
    val s = 1L << scaleBits
    val termScore = cand
      .withColumn("num", lit(22L * idx.avgdl * s) * col("tf"))
      .withColumn("den", lit(10L * idx.avgdl) * col("tf") +
        lit(3L * idx.avgdl) + lit(9L) * col("dl"))
      .withColumn("ts", iq * expr("num div den"))
    termScore.groupBy("query_id", "doc_id")
      .agg(sum(col("ts")).as("score"))
  }

  /** The POSITIONAL index tier — [[Bm25Index]]'s postings extended
    * with each term's sorted 1-based position list, the artifact
    * phrase/proximity retrieval needs (Robertson & Zaragoza 2009 §4;
    * every production engine's next index tier after term postings).
    * Build cost is the same single tokenize pass (posexplode instead
    * of explode); at rest the postings bucket by doc id exactly like
    * the flat tier (the ForgetStore layout), positions riding along
    * as an array column.
    */
  final case class PositionalIndex(postings: DataFrame, dl: DataFrame,
      nDocs: Long, avgdl: Long)

  /** The per-shard POSITIONAL fragments — postings (doc_id, term, tf,
    * pos: sorted 1-based positions) and dl — with no corpus scalars
    * and NO driver action: what a log-structured incremental index
    * appends per trigger (the q_stream_phrase_index face, the
    * site-boilerplate index's log-merge discipline applied to
    * positions). Fragments from disjoint-doc shards merge by PLAIN
    * UNION: positions are doc-local, and under the one-batch-per-
    * document contract (a file stream never splits a row) each doc's
    * whole position list lands in exactly one fragment.
    */
  def positionalFragments(docs: DataFrame, docIdCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val toks = docs.select(col(docIdCol).cast("long").as("doc_id"),
      TextOps.tokens(col(textCol)).as("ts"))
    val posting = toks
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("p0", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p0") + 1)).as("pos"))
    (posting,
      toks.select(col("doc_id"), size(col("ts")).cast("long").as("dl")))
  }

  /** Tokenize once, derive positional postings
    * (doc_id, term, tf, pos: sorted 1-based positions) + dl + scalars.
    */
  def buildPositionalIndex(docs: DataFrame, docIdCol: String = "doc_id",
      textCol: String = "text"): PositionalIndex = {
    val (posting, dl) = positionalFragments(docs, docIdCol, textCol)
    val st = dl.agg(count(lit(1)).as("n"), sum("dl").as("l")).head()
    val nDocs = st.getLong(0)
    require(nDocs > 0, "buildPositionalIndex needs a non-empty corpus")
    PositionalIndex(posting, dl, nDocs, Math.floorDiv(st.getLong(1), nDocs))
  }

  /** EXACT PHRASE retrieval over a [[PositionalIndex]] — top-`k`
    * docs containing each query's tokens as a CONSECUTIVE run, ranked
    * by the engine's integer BM25 with the phrase as one virtual
    * term: tf = the phrase's occurrence count in the doc, df = how
    * many docs contain the phrase at all (a per-query statistic —
    * rare phrases score high exactly like rare terms), same quantized
    * idf and exact-rational saturation as [[bm25Scores]], so ranking
    * replays hash-identically cross-engine.
    *
    * The match is the classic position-list merge in relational
    * form: phrase token j (1-based) hitting doc position p proposes
    * anchor a = p − j + 1 ("the phrase could start at a"); an anchor
    * proposed by ALL m distinct offsets IS an occurrence (overlapping
    * occurrences and repeated phrase tokens fall out naturally —
    * "a a" in "a a a" matches anchors 1 and 2). Anchors below 1 are
    * impossible by construction (offset 1 requires p = a ≥ 1).
    *
    * Scale shape: the query side (offsets × terms) broadcasts; the
    * postings join is inverted-index equality on term, so candidate
    * volume is the phrase terms' posting lists, never |C|; the anchor
    * aggregate is per (query, doc, anchor) — map-side partial over
    * the same exchange the scoring needs. A very common phrase term
    * admits its posting list like any stopword query term — prune at
    * the caller with the [[bm25Scores]] maxDfPpm discipline if the
    * phrase vocabulary warrants it.
    */
  def phraseQuery(pidx: PositionalIndex, phrases: DataFrame, k: Int,
      queryIdCol: String = "query_id", textCol: String = "text",
      scaleBits: Int = 20): DataFrame = {
    require(scaleBits > 0 && scaleBits < 40, "scaleBits must leave headroom")
    // (query_id, off, term), off 1-based — order and duplicates kept:
    // a phrase is a SEQUENCE, not a term set
    val qt = phrases.select(col(queryIdCol).cast("long").as("query_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("o0", "term")))
      .select(col("query_id"), (col("o0") + 1).as("off"), col("term"))
    val mlen = qt.groupBy("query_id")
      .agg(countDistinct(col("off")).as("m"))
    val hits = pidx.postings.join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("off"),
        explode(col("pos")).as("p"))
      .select(col("query_id"), col("doc_id"), col("off"),
        (col("p") - col("off") + 1).as("anchor"))
    val occ = hits.groupBy("query_id", "doc_id", "anchor")
      .agg(countDistinct(col("off")).as("hit_offs"))
      .join(broadcast(mlen), Seq("query_id"))
      .filter(col("hit_offs") === col("m"))
    val tfp = occ.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("tf"))
    // phrase df per query — candidate-table-sized aggregate, never a
    // corpus pass
    val dfp = tfp.groupBy("query_id").agg(count(lit(1)).as("dfq"))
    val s = 1L << scaleBits
    val iq = qlog2(lit(2L) * (lit(pidx.nDocs) - col("dfq")) + lit(1L)) -
      qlog2(lit(2L) * col("dfq") + lit(1L))
    val scored = tfp.join(broadcast(dfp), Seq("query_id"))
      .join(pidx.dl, Seq("doc_id"))
      .withColumn("num", lit(22L * pidx.avgdl * s) * col("tf"))
      .withColumn("den", lit(10L * pidx.avgdl) * col("tf") +
        lit(3L * pidx.avgdl) + lit(9L) * col("dl"))
      .withColumn("score", iq * expr("num div den"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "tf", "score")
  }

  /** PROXIMITY retrieval over a [[PositionalIndex]] — top-`k` docs
    * containing all of a query's DISTINCT terms within a `window` of
    * `w` consecutive token positions, in ANY order, ranked by the
    * engine's integer BM25 with the proximity match as one virtual
    * term (tf = occurrence count, df = docs with ≥1 occurrence, per
    * query — the [[phraseQuery]] scoring discipline one constraint
    * looser).
    *
    * The EXACT-COUNT semantic (pinned before coding, per the round-16
    * verdict: windows overlap, so "how many occurrences" needs a
    * definition): tf = the number of MINIMAL INTERVALS of span ≤ w —
    * intervals [a, b] containing every distinct query term such that
    * no proper subinterval does (Clarke & Cormack's minimal-interval
    * semantics, the standard crisp answer; "count every covering
    * window start" would count each match once per sliding offset).
    * Minimal intervals nest-free ⇒ both endpoints hold query terms,
    * and the count is computed relationally from two facts:
    *
    *  - b(a) = max over terms t of (first occurrence of t at or after
    *    a) is the tightest right end of a cover starting at a, and
    *    [a, b(a)] cannot shrink on the right (the term attaining the
    *    max first occurs there);
    *  - [a, b(a)] cannot shrink on the LEFT iff the anchor's own term
    *    does not reoccur in (a, b(a)] — position a holds exactly one
    *    token, so every other term's occurrences in the interval are
    *    already ≥ a+1.
    *
    * So: count anchors a (positions of query terms) whose window
    * [a, a+w−1] contains all m terms and whose term does not reoccur
    * in (a, b(a)]. RetrievalSpec pins the counter-example shapes:
    * "x x y" counts ONE (anchor 1's x reoccurs inside its cover),
    * "x y x" counts TWO (genuinely overlapping minimal intervals),
    * repeated query tokens collapse to the distinct term set, w below
    * the tightest span counts zero.
    *
    * Scale shape: the query side broadcasts; candidates come from the
    * inverted-index equality join on term (posting lists, never |C|);
    * the anchor-window pairing is a self-join of the matched
    * positions on (query, doc) banded by the window predicate —
    * per-doc cost is O(occurrences · occurrences-within-w), the
    * classic positional-intersection bound, map-side partial-agged on
    * the same exchange the scoring needs. A stopword-frequency query
    * term admits its posting list exactly as in [[bm25Scores]] —
    * prune with its maxDfPpm discipline at the caller if warranted.
    */
  def proxQuery(pidx: PositionalIndex, queries: DataFrame, w: Int,
      k: Int, queryIdCol: String = "query_id", textCol: String = "text",
      scaleBits: Int = 20): DataFrame = {
    require(w >= 1, s"window must be >= 1 token, got $w")
    require(scaleBits > 0 && scaleBits < 40, "scaleBits must leave headroom")
    // (query_id, term) DISTINCT — proximity is a term-SET constraint
    val qt = queries.select(col(queryIdCol).cast("long").as("query_id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("term"))
    val mlen = qt.groupBy("query_id")
      .agg(count(lit(1)).as("m"))
    // matched positions: one row per (query, doc, term, position)
    val hits = pidx.postings.join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("term"),
        explode(col("pos")).as("p"))
    // anchor × window-mate pairing, banded by the window predicate
    val anch = hits.select(col("query_id"), col("doc_id"),
      col("term").as("ta"), col("p").as("a"))
    val mate = hits.select(col("query_id"), col("doc_id"),
      col("term"), col("p"))
    val win = anch.join(mate, Seq("query_id", "doc_id"))
      .filter(col("p") >= col("a") && col("p") < col("a") + w)
    // per (anchor, term): first occurrence in the window; the
    // anchor's own term additionally tracks its first REOCCURRENCE
    val perTerm = win.groupBy("query_id", "doc_id", "a", "ta", "term")
      .agg(min(col("p")).as("minp"),
        min(when(col("term") === col("ta") && col("p") > col("a"),
          col("p"))).as("taNext"))
    // per anchor: cover iff all m terms present; minimal-left iff the
    // anchor's term does not reoccur within the cover [a, b]
    val occ = perTerm.groupBy("query_id", "doc_id", "a")
      .agg(count(lit(1)).as("nt"), max(col("minp")).as("b"),
        min(col("taNext")).as("taNext"))
      .join(broadcast(mlen), Seq("query_id"))
      .filter(col("nt") === col("m") &&
        (col("taNext").isNull || col("taNext") > col("b")))
    val tfp = occ.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("tf"))
    val dfp = tfp.groupBy("query_id").agg(count(lit(1)).as("dfq"))
    val s = 1L << scaleBits
    val iq = qlog2(lit(2L) * (lit(pidx.nDocs) - col("dfq")) + lit(1L)) -
      qlog2(lit(2L) * col("dfq") + lit(1L))
    val scored = tfp.join(broadcast(dfp), Seq("query_id"))
      .join(pidx.dl, Seq("doc_id"))
      .withColumn("num", lit(22L * pidx.avgdl * s) * col("tf"))
      .withColumn("den", lit(10L * pidx.avgdl) * col("tf") +
        lit(3L * pidx.avgdl) + lit(9L) * col("dl"))
      .withColumn("score", iq * expr("num div den"))
    val wnd = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(wnd).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "tf", "score")
  }

  /** EXACT index merge — the incremental-maintenance path a growing
    * corpus needs (the [[NgramLm.mergeCounts]] shard-and-sum
    * discipline applied to retrieval): index each shard
    * independently, then merge the ARTIFACTS, never re-tokenize.
    * Shards must have disjoint doc ids (a doc lives in exactly one
    * shard), so postings/dl merge by UNION and df by full-outer SUM;
    * N and L add. The merged index is value-identical to one built
    * on the union corpus — merge(build(A), build(B)) == build(A∪B) —
    * because every statistic here is a sum over docs. (avgdl is
    * re-derived from the merged totals, so keep totalLen when
    * persisting: the case class stores the floor-divided avgdl plus
    * what reconstruction needs.)
    */
  def mergeIndex(a: Bm25Index, aLen: Long, b: Bm25Index,
      bLen: Long): Bm25Index = {
    val postings = a.postings.unionByName(b.postings)
    val dfT = a.df.withColumnRenamed("df", "dfa")
      .join(b.df.withColumnRenamed("df", "dfb"), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("dfa"), lit(0L)) + coalesce(col("dfb"), lit(0L)))
          .as("df"))
    val dl = a.dl.unionByName(b.dl)
    val n = a.nDocs + b.nDocs
    Bm25Index(postings, dfT, dl, n,
      Math.floorDiv(aLen + bLen, math.max(n, 1L)))
  }

  /** Total token count of an index's corpus (Σ dl) — the second
    * scalar [[mergeIndex]] needs; persist it next to nDocs.
    */
  def totalLen(idx: Bm25Index): Long =
    idx.dl.agg(sum("dl")).head().getLong(0)

  /** EXACT index TAKEDOWN — the inverse of [[mergeIndex]]: remove a
    * bounded doc-id set from a frozen index WITHOUT re-tokenizing the
    * surviving corpus. A takedown that reaches the corpus
    * ([[graft.io.CowTable]]) but not the derived artifacts leaves the
    * removed text retrievable through them; this closes the lexical
    * index. Every statistic is a per-doc sum, so removal is exact
    * subtraction: postings/dl anti-join the id set (broadcast — a
    * takedown batch is bounded by contract), df decrements by the
    * removed docs' per-term presence and terms at zero leave the
    * table, N and ΣL subtract. Ids absent from the index are no-ops.
    * RetrievalSpec pins remove(build(C), D) == build(C \ D) table for
    * table and query for query.
    *
    * Returns the new index plus its total length (the scalar the
    * next merge/remove needs). A persisted [[termUpperBounds]] table
    * must be REBUILT afterwards — removal changes N/df/avgdl, and a
    * term whose df fell can legitimately score HIGHER than its old
    * bound (the stale-ub failure mode the ub_scale_bits stamp cannot
    * catch, because the scale did not change).
    */
  def removeFromIndex(idx: Bm25Index, removeIds: DataFrame,
      totalLenBefore: Long, docIdCol: String = "doc_id")
      : (Bm25Index, Long) = {
    val rid = removeIds
      .select(col(docIdCol).cast("long").as("doc_id")).distinct()
    val gone = idx.dl.join(broadcast(rid), Seq("doc_id"))
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("l"))
      .head()
    val nGone = gone.getLong(0)
    val n = idx.nDocs - nGone
    require(n > 0, "takedown would empty the corpus — an empty index " +
      "has no avgdl; drop the artifact instead")
    val postings = idx.postings
      .join(broadcast(rid), Seq("doc_id"), "left_anti")
    val dfDec = idx.postings.join(broadcast(rid), Seq("doc_id"))
      .groupBy("term").agg(count(lit(1)).as("_gone"))
    val dfT = idx.df.join(dfDec, Seq("term"), "left_outer")
      .select(col("term"),
        (col("df") - coalesce(col("_gone"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val dl = idx.dl.join(broadcast(rid), Seq("doc_id"), "left_anti")
    val newLen = totalLenBefore - gone.getLong(1)
    (Bm25Index(postings, dfT, dl, n, Math.floorDiv(newLen, n)), newLen)
  }

  /** Per-term score UPPER BOUNDS — max over a term's postings of its
    * exact per-(doc, term) contribution (iq · scaled tf saturation,
    * the same integers [[bm25Scores]] sums). The MaxScore planning
    * statistic: a doc can never score above the sum of its matched
    * terms' bounds. Model-sized (one row per term), computed in one
    * postings pass at build time — persist it next to df at scale.
    */
  def termUpperBounds(idx: Bm25Index, scaleBits: Int = 20): DataFrame = {
    val s = 1L << scaleBits
    val iq = qlog2(lit(2L) * (lit(idx.nDocs) - col("df")) + lit(1L)) -
      qlog2(lit(2L) * col("df") + lit(1L))
    idx.postings.join(idx.df, Seq("term")).join(idx.dl, Seq("doc_id"))
      .withColumn("num", lit(22L * idx.avgdl * s) * col("tf"))
      .withColumn("den", lit(10L * idx.avgdl) * col("tf") +
        lit(3L * idx.avgdl) + lit(9L) * col("dl"))
      .withColumn("ts", iq * expr("num div den"))
      .groupBy("term").agg(max("ts").as("ub"))
      // the bound is only meaningful against scores computed at the
      // SAME fixed-point scale: stamp it into the artifact so a
      // persisted ub table can never silently invalidate the
      // MaxScore == exact-BM25 equality (bm25QueryMaxScore requires
      // the stamp to match its own scaleBits)
      .withColumn("ub_scale_bits", lit(scaleBits.toLong))
  }

  /** MAXSCORE-pruned BM25 top-k (Turtle & Flood'95 brought to the
    * batch engine) — EXACTLY equal output to [[bm25Query]] (pinned in
    * RetrievalSpec; the catalog face replays on q_bm25's own oracle),
    * but common low-impact terms stop driving the candidate space:
    *
    *  1. θ: exactly score the docs matching each query's RAREST term
    *    (min df, term tie-break) and take the kth best — a valid
    *    LOWER bound on the final kth score (any subset's kth best
    *    is). Fewer than k docs ⇒ no pruning for that query.
    *  2. Essential terms: sort the query's terms by (max(ub,0) ASC,
    *    term); the maximal prefix whose cumulative Σ max(ub,0) < θ is
    *    NON-essential — a doc matching only those can't reach θ
    *    (negative-ub terms can never lift a doc, so they clamp to 0
    *    in the sum and always prune first). The rest are essential.
    *  3. Candidates = docs matching ≥1 essential term (∪ the already
    *    scored phase-1 docs); each is scored EXACTLY over ALL its
    *    matched query terms via a doc_id-keyed postings probe — the
    *    non-essential (common) postings lists are never enumerated,
    *    only point-probed for candidate docs.
    *
    * Why it's safe with the tie-break: a pruned doc's score is
    * STRICTLY below θ ≤ final kth score, so it cannot even tie into
    * the top-k. On corpora where every idf is negative (θ < 0, the
    * small synthetic tables) the non-essential set is provably empty
    * and the operator degenerates to the naive plan — correct,
    * unpruned; the pruning payoff is measured on the Zipf probe
    * corpus (Probe bm25_index maxscore rows). The per-query planning
    * set (terms × [df, ub]) is collected driver-side — bounded by the
    * query set, which is broadcast-sized by contract.
    */
  def bm25QueryMaxScore(idx: Bm25Index, queries: DataFrame, k: Int,
      queryIdCol: String = "query_id", textCol: String = "text",
      scaleBits: Int = 20, excludeSelf: Boolean = false,
      maxDfPpm: Long = 1000000L, ub: DataFrame = null): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val s = 1L << scaleBits
    // ub is an INDEX-TIME artifact (one postings pass) — persist it
    // next to df and pass it in; recomputing per query call would pay
    // that pass every time (the measured fixed cost, PERF.md).
    // A passed artifact must carry the ub_scale_bits stamp matching
    // THIS call's scaleBits: a mismatched artifact would silently
    // break the pinned MaxScore == bm25Query equality (missing top-k
    // rows, no error) — refuse loudly instead.
    val ubT = Option(ub).map { u =>
      require(u.columns.contains("ub_scale_bits"),
        "ub artifact lacks the ub_scale_bits stamp - rebuild it with " +
          "termUpperBounds or pass ub = null to recompute")
      val stamps = u.select("ub_scale_bits").distinct()
        .as[Long].collect().toSeq
      require(stamps == Seq(scaleBits.toLong),
        s"ub artifact built at scaleBits=${stamps.mkString(",")} but " +
          s"this query scores at scaleBits=$scaleBits - rebuild the " +
          "artifact or pass the matching parameter")
      u
    }.getOrElse(termUpperBounds(idx, scaleBits))
    val qt0 = queries.select(col(queryIdCol).cast("long").as("query_id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("term"))
    val qt = if (maxDfPpm >= 1000000L) qt0
      else qt0.join(idx.df.filter(
          col("df") * lit(1000000L) <= lit(maxDfPpm * idx.nDocs)),
        Seq("term"), "left_semi")
    // planning stats: (query_id, term, df, ub) — query-sized collect
    val plan = qt.join(idx.df, Seq("term"))
      .join(ubT, Seq("term"))
      .select("query_id", "term", "df", "ub")
      .as[(Long, String, Long, Long)].collect()
    val byQ = plan.groupBy(_._1)
    // phase 1: exact scores of rarest-term docs → θ per query
    val seed = byQ.map { case (q, ts) =>
      val (_, term, _, _) = ts.minBy { case (_, t, df, _) => (df, t) }
      (q, term)
    }.toSeq.toDF("query_id", "term")
    val p1Docs = idx.postings.join(broadcast(seed), Seq("term"))
      .select("query_id", "doc_id").distinct()
    val p1Scores = scoreDocs(idx, qt, p1Docs, s, excludeSelf)
    val wTh = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val thetas = p1Scores.withColumn("r", row_number().over(wTh))
      .filter(col("r") === k).select("query_id", "score")
      .as[(Long, Long)].collect().toMap
    // essential terms per query (driver, query-sized)
    val essential = byQ.toSeq.flatMap { case (q, ts) =>
      thetas.get(q) match {
        case None => ts.toSeq.map { case (_, t, _, _) => (q, t) } // no pruning
        case Some(theta) =>
          val sorted = ts.sortBy { case (_, t, _, ub) => (math.max(ub, 0L), t) }
          var cum = 0L
          val nonEss = sorted.takeWhile { case (_, _, _, ub) =>
            cum += math.max(ub, 0L); cum < theta }
          val nonSet = nonEss.map(_._2).toSet
          ts.toSeq.collect { case (_, t, _, _) if !nonSet.contains(t) => (q, t) }
      }
    }.toDF("query_id", "term")
    // candidates: essential-term matches ∪ phase-1 docs, scored exactly
    val cand = idx.postings.join(broadcast(essential), Seq("term"))
      .select("query_id", "doc_id")
      .unionByName(p1Docs.select("query_id", "doc_id")).distinct()
    val scored = scoreDocs(idx, qt, cand, s, excludeSelf)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** Exact BM25 scores for a given (query_id, doc_id) candidate set:
    * doc_id-keyed probe into the postings (never enumerating any
    * term's full list), filtered to the query's terms, then the same
    * integer term-score sum as [[bm25Scores]].
    */
  private def scoreDocs(idx: Bm25Index, qt: DataFrame, cand: DataFrame,
      s: Long, excludeSelf: Boolean): DataFrame = {
    val c0 = if (excludeSelf)
      cand.filter(col("doc_id") =!= col("query_id")) else cand
    val iq = qlog2(lit(2L) * (lit(idx.nDocs) - col("df")) + lit(1L)) -
      qlog2(lit(2L) * col("df") + lit(1L))
    idx.postings.join(c0, Seq("doc_id"))
      .join(broadcast(qt), Seq("query_id", "term"), "left_semi")
      .join(idx.df, Seq("term")).join(idx.dl, Seq("doc_id"))
      .withColumn("num", lit(22L * idx.avgdl * s) * col("tf"))
      .withColumn("den", lit(10L * idx.avgdl) * col("tf") +
        lit(3L * idx.avgdl) + lit(9L) * col("dl"))
      .withColumn("ts", iq * expr("num div den"))
      .groupBy("query_id", "doc_id").agg(sum(col("ts")).as("score"))
  }

  /** RECIPROCAL-RANK FUSION (Cormack et al., SIGIR'09) — hybrid
    * retrieval's standard combiner, in the exact-integer discipline:
    * each input list contributes floorDiv(2^scaleBits, rrfK + rank)
    * per (query, doc), an exact long, so the fused ranking is
    * engine-portable without touching either retriever's score units
    * (the whole point of RRF: ranks compose where raw BM25 longs and
    * cosine doubles cannot). Inputs are already-ranked lists
    * (query_id, rank, doc_id) — pass [[bm25Query]]'s top-k and a
    * dense kNN's top-k (rename neighbor_id → doc_id) for classic
    * lexical+dense hybrid search. Union is list-count-bounded per
    * (query, doc); the fusion agg is map-side partial; the final
    * top-k windows the already-tiny fused table.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, rrfK: Int = 60,
      scaleBits: Int = 20): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(scaleBits > 0 && scaleBits < 40, "scaleBits must leave headroom")
    val s = 1L << scaleBits
    val contribs = lists.map(_.select(
      col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"),
      expr(s"$s div ($rrfK + rank)").as("c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id").agg(sum("c").as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "rrf")
  }
}
