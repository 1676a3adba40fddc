package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.DirSwap

/** Deduplication family for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All hashing is md5-based (portable,
  * deterministic across engines) — never `hash()`/`xxhash64`, whose
  * values are engine-specific.
  *
  * Scale design: every variant is one or two hash-partitioned
  * shuffles. The pairwise comparisons never materialize the full
  * O(n²) cross join — candidates are generated by equality joins on
  * shingles / band keys, which at 100 TB means the shuffle carries
  * (doc, feature) pairs, and skewed features (shingles appearing in
  * a large fraction of docs) should be frequency-capped upstream
  * (a standard stop-shingle cut) — exposed via `maxShingleFreq`.
  */
object Dedup {

  /** Exact dedup: group identical texts by md5, keep the smallest id
    * as representative. One shuffle on the 128-bit key; at 100 TB use
    * this before any near-dup pass to cut volume cheaply.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup after [[TextOps.canonicalize]] — the Dolma/FineWeb
    * normalize-then-hash stage: case/punctuation/whitespace variants
    * of the same content land in one group. Same single-shuffle shape
    * as [[exact]]; canonicalization is a map-side column expression
    * folded into the pre-shuffle projection.
    */
  def exactCanonical(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(docs.withColumn(textCol, TextOps.canonicalize(col(textCol))),
      idCol, textCol)

  /** Apply step of exact dedup: every document tagged with its
    * group's representative and a keep/drop verdict — the actual
    * output a pipeline writes (the corpus keeps rows with
    * `kept = true`; the drop list keeps the lineage doc→rep). The
    * group table is [[exact]]'s one-shuffle agg; tagging is an
    * equality join back on the 128-bit hash, which AQE broadcasts
    * when the group table is small and sort-merges co-partitioned on
    * the same key otherwise — never a second full re-aggregation.
    */
  def applyKeep(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), md5(col(textCol).cast("binary")).as("text_hash"))
      .join(exact(docs, idCol, textCol), Seq("text_hash"))
      .select(col(idCol), col("rep_id"),
        (col(idCol) === col("rep_id")).as("kept"),
        col("n_dups").as("group_size"))

  /** Per-document duplicated-n-gram coverage: for each doc, the count
    * of trigram-shingle POSITIONS (occurrences, not the distinct set)
    * whose shingle also appears in at least one other document, and
    * the covered fraction — the span-level exact-substring-dup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22) that doc-level near-dup scores miss: a page that
    * embeds one viral paragraph in otherwise-unique text scores low
    * Jaccard but high dup coverage.
    *
    * Scale shape: postings (doc, shingle-hash) explode map-side; doc
    * frequency is a two-level partial agg on the 8-byte hash; the
    * flag-back is an equality join of postings against ONE row per
    * hash (never a pair join — cost is O(positions), not O(Σ df²),
    * so boilerplate shingles cannot blow it up, unlike the candidate
    * joins above); the per-doc rollup is one more keyed agg. Docs
    * with < 3 tokens have no shingles: n_pos = 0 and NULL coverage.
    */
  def dupNgramCoverage(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val posting = docs
      .select(col(idCol),
        explode(TextOps.shingleList(col(textCol), 3)).as("s"))
      .select(col(idCol), xxhash64(col("s")).as("k"))
    val docFreq = posting.distinct()
      .groupBy("k").agg(count(lit(1)).as("_df"))
    val per = posting.join(docFreq, Seq("k"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("_df") > 1, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_pos") > 0,
          col("n_dup").cast("double") / col("n_pos")).as("dup_frac"))
  }

  /** (doc_id, shingle-hash) exploded pairs with an optional
    * stop-shingle frequency cap (shingles occurring in >
    * maxShingleFreq docs are dropped from candidate generation — they
    * only create massive skewed join groups without distinguishing
    * documents). The cap is a window count over the hash key, NOT a
    * groupBy+join: the window runs on the same hash partitioning the
    * candidate self-join needs, so the capped table costs one shuffle
    * total and the self-join reuses the exchange. Capping on the
    * 64-bit hash rather than the string merges counts only on hash
    * collision (~d²/2⁶⁵ — and the string-keyed oracle would surface
    * it).
    */
  private def shingleTable(docs: DataFrame, idCol: String, textCol: String,
      maxShingleFreq: Option[Int]): DataFrame = {
    val t = docs.select(col(idCol).as("doc_id"),
      explode(TextOps.shingleSet(col(textCol))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("k"))
    maxShingleFreq match {
      case None => t
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
        t.withColumn("_f", count(lit(1)).over(w))
          .filter(col("_f") <= cap).drop("_f")
    }
  }

  /** N-gram Jaccard near-dup pairs: candidates share ≥1 trigram
    * shingle; Jaccard = |∩| / |∪| over distinct shingle sets; emit
    * pairs ≥ threshold. Exact (no approximation) — the LSH variant
    * below is the 100 TB path; this one's candidate join is
    * O(Σ_s df(s)²) and relies on the frequency cap for skew.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleFreq: Option[Int] = None): DataFrame = {
    // Joined on a 64-bit hash of the shingle, not the string: the
    // shuffle carries 8-byte keys instead of ~20-byte strings (~40%
    // faster measured, and the win grows with shingle length at
    // scale). Collision odds and detection: see shingleTable.
    val sh = shingleTable(docs, idCol, textCol, maxShingleFreq)
    val sizes = docs.select(col(idCol).as("doc_id"),
      size(TextOps.shingleSet(col(textCol))).as("n"))
    val a = sh.select(col("doc_id").as("i"), col("k"))
    val b = sh.select(col("doc_id").as("j"), col("k"))
    val inter = a.join(b, Seq("k")).filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), Seq("j"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("ni") + col("nj") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("i", "j", "jaccard")
  }

  /** Prefix-filter candidate pairs for an exact Jaccard-threshold
    * self-join (the AllPairs/PPJoin family — Bayardo et al. WWW'07,
    * Xiao et al. WWW'08; public literature, no reference-repo
    * equivalent): order every doc's distinct shingles by ascending
    * global document frequency (ties by shingle string — a total
    * order), and explode only each doc's first
    * `|x| − ceil(t·|x|) + 1` shingles. Any pair with Jaccard ≥ t must
    * share a shingle inside BOTH prefixes (J ≥ t forces overlap
    * ≥ ceil(t·|x|), so a pair missing the prefix would need all its
    * overlap in the suffix — too short), so the equality join over
    * prefixes is a complete candidate set, and it is the RARE
    * shingles that land in prefixes: the O(Σ df²) blow-up of the
    * naive shared-shingle join concentrates in exactly the tokens the
    * prefix excludes. Versus [[ngramJaccardPairs]]'s stop-shingle cap
    * this prunes without changing semantics — no shingle is dropped,
    * the threshold itself shrinks the join. Size filter
    * tn·max(|x|,|y|) ≤ td·min(|x|,|y|) applies the J ≤ min/max bound
    * with integer cross-multiplication (threshold is the rational
    * tNum/tDen, so every pruning decision is exact).
    *
    * Shape: df table is one partial-agged shuffle; prefixes join on
    * the 8-byte shingle hash; candidates are distinct (i, j) pairs.
    * At 100 TB the candidate volume is bounded by Σ over PREFIX
    * shingles of df² — the df-ascending order makes that the smallest
    * possible choice of |x|−ceil(t|x|)+1 shingles per doc.
    */
  def ppjoinCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold $tNum/$tDen must be in (0, 1]")
    // NOT checkpointed (round-17 measurement): cutting the prefix
    // table here measured 2.7 s → 4.9 s on q_dedup_ppjoin — the
    // LogicalRDD's unknown stats demote the candidate join from
    // broadcast to SMJ (AQE re-plans only after paying the extra
    // shuffles), which costs more than the second prefix compute.
    // Contrast editDistanceLshPairs/minhashLshPairs, where the cut
    // side is the narrow band-key table and the trade measures
    // neutral-to-positive.
    val pre = ppjoinPrefixes(docs, idCol, textCol, tNum, tDen)
    val a = pre.select(col("doc_id").as("i"), col("n").as("ni"), col("k"))
    val b = pre.select(col("doc_id").as("j"), col("n").as("nj"), col("k"))
    a.join(b, Seq("k"))
      .filter(col("i") < col("j") &&
        greatest(col("ni"), col("nj")) * tNum <=
          least(col("ni"), col("nj")) * tDen)
      .select("i", "j")
      // candidate verify is CPU-dense and byte-light — pin the
      // exchange width so AQE's byte-driven coalescing cannot run the
      // array-intersection verify on one task (see [[spreadPairs]])
      .transform(spreadPairs)
      .distinct()
  }

  /** Per-doc df-ascending prefix shingles: (doc_id, n = |shingle set|,
    * k = shingle hash) for the first n − ceil(t·n) + 1 shingles under
    * the global (df, shingle) order.
    */
  private def ppjoinPrefixes(docs: DataFrame, idCol: String,
      textCol: String, tNum: Int, tDen: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(TextOps.shingleSet(col(textCol))).as("s"))
    val dfTab = sh.groupBy("s").agg(count(lit(1)).as("_df"))
    // sort_array on struct(df, s) is lexicographic — exactly the
    // (df asc, shingle asc) total order the prefix guarantee needs
    val arr = sh.join(dfTab, Seq("s"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("_df"), col("s")))).as("_a"),
        count(lit(1)).as("n"))
    // prefix length: n − ceil(tn·n/td) + 1; ceil via (x + td − 1) div td
    val p = col("n") - floor((col("n") * tNum + tDen - 1) / tDen) + 1
    arr.select(col("doc_id"), col("n"),
        explode(slice(transform(col("_a"), x => x.getField("s")),
          lit(1), p.cast("int"))).as("s"))
      .select(col("doc_id"), col("n"), xxhash64(col("s")).as("k"))
  }

  /** Exact Jaccard-threshold near-dup pairs via prefix filtering:
    * identical output contract to [[ngramJaccardPairs]] (i < j,
    * jaccard = |∩|/|∪| over distinct trigram shingle sets, pairs with
    * jaccard ≥ tNum/tDen) but the candidate set comes from
    * [[ppjoinCandidatePairs]] instead of the full shared-shingle
    * join, and the threshold test is the integer cross-multiplication
    * inter·(td+tn) ≥ tn·(ni+nj) — no double compare anywhere; the
    * reported jaccard is one int÷int division (correctly rounded,
    * engine-portable). Verification joins each candidate pair back to
    * its two shingle-set arrays and intersects them map-side — cost
    * O(candidates · avg doc size), no second corpus shuffle.
    */
  def ppjoinPairs(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int = 4, tDen: Int = 5): DataFrame = {
    val cand = ppjoinCandidatePairs(docs, idCol, textCol, tNum, tDen)
    // NOT checkpointed (round-17 measurement): the shingle-array table
    // is wide (one array per doc) — materializing it and re-shuffling
    // the arrays cost more than the second map-side compute, and the
    // LogicalRDD's unknown stats also demote the verify joins from
    // broadcast to SMJ until AQE re-plans (q_dedup_ppjoin 2.3 s →
    // 4.3 s with the cut; reverted)
    val arrs = docs.select(col(idCol).as("doc_id"),
      TextOps.shingleSet(col(textCol)).as("_ss"),
      size(TextOps.shingleSet(col(textCol))).as("_n"))
    val verified = cand
      .join(arrs.select(col("doc_id").as("i"), col("_ss").as("_si"),
        col("_n").as("ni")), Seq("i"))
      .join(arrs.select(col("doc_id").as("j"), col("_ss").as("_sj"),
        col("_n").as("nj")), Seq("j"))
      .withColumn("inter", size(array_intersect(col("_si"), col("_sj"))))
      .filter(col("inter") * (tDen + tNum) >= (col("ni") + col("nj")) * tNum)
    verified.select(col("i"), col("j"),
      (col("inter").cast("double") /
        (col("ni") + col("nj") - col("inter"))).as("jaccard"))
  }

  /** Edit-distance verify over a candidate pair table: join (i, j)
    * back to the two texts and keep pairs with levenshtein ≤ k,
    * emitting the distance. Uses Spark's threshold-banded DP
    * (`levenshtein(l, r, k)` — O(k·len) per pair instead of O(len²),
    * returns −1 above k so the filter is one comparison); the oracle
    * side computes the full distance and applies the same ≤ k cut —
    * identical surviving pairs and values, no doubles anywhere.
    * Candidate generation is the caller's choice (see
    * [[editDistanceLshPairs]] for the signature-based 100 TB path).
    */
  def editDistanceVerify(cand: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 0, "edit-distance bound k must be non-negative")
    val t = docs.select(col(idCol), col(textCol))
    cand.select("i", "j")
      .join(t.select(col(idCol).as("i"), col(textCol).as("_edv_ti")), Seq("i"))
      .join(t.select(col(idCol).as("j"), col(textCol).as("_edv_tj")), Seq("j"))
      .withColumn("dist", levenshtein(col("_edv_ti"), col("_edv_tj"), k))
      .filter(col("dist") >= 0)
      .select(col("i"), col("j"), col("dist").cast("long").as("dist"))
  }

  /** Edit-distance near-dup pairs over MinHash-LSH candidates: pairs
    * sharing ≥1 LSH band ([[lshBandKeys]] — the stored-index shape)
    * verified at levenshtein ≤ k. The candidate generator is part of
    * the declared semantics (as in every production fuzzy-dedup
    * pipeline: signature recall is tuned by (bands, rowsPerBand), and
    * the verify step never re-admits a missed pair) — both engines
    * derive the same deterministic candidate set, so results are
    * hash-exact. Scale: band-key equality join for candidates, then
    * O(candidates · k · len) banded-DP verify; the corpus text joins
    * in exactly twice, no all-pairs stage anywhere.
    */
  def editDistanceLshPairs(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, k: Int): DataFrame = {
    // lazy localCheckpoint = the minhashLshPairs single-compute
    // device (round 17): both sides of the band-key self-join read
    // the SAME materialized blocks — the plan shows a broadcast join
    // whose two sides are separate subtrees, so without the cut the
    // tokenize+shingle+minhash pipeline executes TWICE per run
    // (no ReusedExchange fires across a broadcast/probe pair)
    val keys = lshBandKeys(docs, idCol, textCol, bands, rowsPerBand)
      .localCheckpoint(false)
    val cand = keys.select(col("doc_id").as("i"), col("bk"))
      .join(keys.select(col("doc_id").as("j"), col("bk")), Seq("bk"))
      .filter(col("i") < col("j"))
      .select("i", "j")
      .transform(spreadPairs)
      .distinct()
    editDistanceVerify(cand, docs, idCol, textCol, k)
  }

  /** Pin the candidate-pair table's shuffle width to the session's
    * default parallelism before the verify stage (round 18, guide
    * §2.5): the banded-DP / set-intersection verify is CPU-BOUND per
    * row while the pair table is tiny in BYTES, so AQE's byte-driven
    * coalescing (minPartitionSize floor) collapses the verify stage
    * to ONE task — measured 4.6 s single-task on q_dedup_editdist at
    * sf0.1, and the same collapse happens on a cluster whenever
    * candidates · bytes/pair ≪ advisoryPartitionSize while
    * candidates · verify-cost/pair is hours of CPU. An explicit
    * numPartitions repartition is exempt from AQE coalescing; keying
    * by (i, j) — unique per pair — spreads duplicate-cluster hot i's
    * instead of re-concentrating them (§2.5 skew). The following
    * distinct() reuses this exchange (hashpartitioning(i, j) already
    * satisfies the aggregate's distribution), so the plan gains no
    * extra shuffle. Width = defaultParallelism: total cores on a
    * cluster, `local[n]`'s n here — scale-adaptive, never a constant.
    */
  private def spreadPairs(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col("i"), col("j"))

  /** 2^56 — the modulus of the two-hash MinHash family below. 56 bits
    * keeps h1 + j·h2 inside int64 for any j ≤ 127 with no overflow
    * (ANSI mode throws on it) while leaving collision odds negligible.
    */
  val MinhashMod = 72057594037927936L

  /** MinHash signature columns h0..h{n-1} via the standard two-hash
    * family (Indyk; used by every large-scale MinHash system): ONE md5
    * per shingle split into two independent 56-bit halves (hex chars
    * 1-14 and 17-30), h_j = (h1 + j·h2) mod 2^56. Versus n seeded
    * md5(j||shingle) calls this is n× fewer hash computations per
    * shingle — at corpus scale hashing IS the signature cost — and the
    * per-j mins become numeric instead of 32-char strings (smaller
    * partial-agg rows in the shuffle). Portable: the oracle reproduces
    * it with substring + hex-cast + the same modular arithmetic.
    *
    * Computed by the fused native kernel (graftbridge.MinhashSignature,
    * round 6): ONE map-side pass per doc over the shingle array
    * producing all n minima — no explode, no hex-string round trip, no
    * aggregation exchange (the previous explode → groupBy(min×n)
    * formulation paid a shuffle plus per-shingle md5-hex + two radix
    * parses; the kernel reads the digest bytes directly). Bit-identical
    * output — DedupSpec pins fused == unfused on random docs, and the
    * oracle generator is unchanged. Docs with no shingles (< 3 tokens)
    * produce no row (kernel yields NULL, filtered here).
    */
  def withMinhashSignature(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int): DataFrame = {
    require(numHashes <= 128, "two-hash family bounded to j <= 127 (overflow proof)")
    // no-shingles docs are dropped by the CHEAP token-count
    // precondition (≥3 tokens ⇔ ≥1 shingle), not by isNotNull on the
    // kernel output — a null-filter on _sig gets predicate-pushed
    // below the project and re-evaluates the whole kernel per row
    // (verified in the optimized plan; MinhashPlanSpec pins one
    // occurrence). CollapseProject leaves the 8-way element_at above
    // the aliasing project because the alias is non-cheap.
    docs.filter(size(TextOps.tokens(col(textCol))) >= 3)
      .select(col(idCol).as("doc_id"),
        graft.functions.VectorExprs.minhashNative(
          TextOps.shingleSet(col(textCol)), numHashes).as("_sig"))
      .select(col("doc_id") +:
        (0 until numHashes).map(j =>
          element_at(col("_sig"), j + 1).as(s"h$j")): _*)
  }

  /** The pre-round-6 column formulation of [[withMinhashSignature]]
    * (explode → md5-hex → conv → groupBy min×n) — kept as the
    * executable specification the fused kernel is equivalence-tested
    * against (TrainingSpec).
    */
  private[graft] def withMinhashSignatureUnfused(docs: DataFrame, idCol: String,
      textCol: String, numHashes: Int): DataFrame = {
    require(numHashes <= 128, "two-hash family bounded to j <= 127 (overflow proof)")
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(TextOps.shingleSet(col(textCol))).as("s"))
      .withColumn("_m", md5(col("s").cast("binary")))
      .withColumn("_h1", conv(substring(col("_m"), 1, 14), 16, 10).cast("long"))
      .withColumn("_h2", conv(substring(col("_m"), 17, 14), 16, 10).cast("long"))
    val sigs = (0 until numHashes).map { j =>
      min((col("_h1") + lit(j.toLong) * col("_h2")) % lit(MinhashMod)).as(s"h$j")
    }
    sh.groupBy("doc_id").agg(sigs.head, sigs.tail: _*)
  }

  /** MinHash + LSH banding: `bands` bands of `rowsPerBand` signature
    * rows; candidate pairs share ≥1 band key. Emits (i, j,
    * n_shared_bands, est_jaccard) where est_jaccard is the fraction of
    * matching signature components.
    *
    * This is THE scale path for near-dup: the only shuffle keys are
    * (band_idx, band_key); no shingle-level join, no quadratic blowup
    * beyond genuinely colliding docs.
    *
    * Shape: the signature table is computed ONCE (lazy local
    * checkpoint — materialized by the first subtree that reads it,
    * then shared by the other two) and the candidate self-join carries
    * ONLY (doc_id, band_key) — the n signature columns stay out of the
    * exploded shuffle, which at corpus scale is bands× replicated.
    * The surviving pairs (orders of magnitude fewer than candidate
    * rows) re-join the signature table twice — two narrow equality
    * joins on doc id — to derive est_jaccard. The checkpoint blocks
    * are executor-local (non-reliable): a lost executor re-fails the
    * query, acceptable for a single query's lifetime; long-running
    * cluster jobs should persist signatures to a table instead.
    */
  /** One (band, key) struct per band from the h0..h{n-1} signature
    * columns — the struct keeps band index and the joined hash values
    * in a single equality-joinable key.
    */
  private def bandKeyArray(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|",
          (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*).as("key"))
    }: _*)

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val signed = withMinhashSignature(docs, idCol, textCol, numHashes)
      .localCheckpoint(false)
    val exploded = signed.select(col("doc_id"),
      explode(bandKeyArray(bands, rowsPerBand)).as("bk"))
    val cand = exploded.select(col("doc_id").as("i"), col("bk"))
      .join(exploded.select(col("doc_id").as("j"), col("bk")), Seq("bk"))
      .filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_shared_bands"))
    val li = signed.select(col("doc_id").as("i") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"li_h$j")): _*)
    val rj = signed.select(col("doc_id").as("j") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"rj_h$j")): _*)
    val matches = (0 until numHashes)
      .map(j => when(col(s"li_h$j") === col(s"rj_h$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(li, Seq("i")).join(rj, Seq("j"))
      .withColumn("est_jaccard", matches.cast("double") / numHashes)
      .select("i", "j", "n_shared_bands", "est_jaccard")
  }

  /** LSH band-key rows — (doc_id, bk) with one row per band — the
    * postings an LSH INDEX stores. Splitting this out of the pairwise
    * self-join enables the incremental-dedup shape: band keys for a
    * new batch equality-join against the (precomputed, stored) corpus
    * band keys, so ingesting N new docs costs O(N · bands) index rows
    * joined against the index — never a corpus-wide recompute.
    */
  def lshBandKeys(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    withMinhashSignature(docs, idCol, textCol, bands * rowsPerBand)
      .select(col("doc_id"), explode(bandKeyArray(bands, rowsPerBand)).as("bk"))

  /** Connected components by alternating star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * converges in O(log n) rounds on ANY component diameter, where
    * min-label propagation needs O(diameter) rounds — the scale path
    * for long near-dup chains / billion-edge graphs. Each round is two
    * shuffle phases over the edge list:
    *
    *   large-star: every node links its LARGER neighbors to its
    *     neighborhood minimum (incl. itself) — long tails collapse;
    *   small-star: every node links its strictly-smaller neighbors
    *     (and itself) to the minimum of that set — stars flatten.
    *
    * Edges stay canonically (child > parent) throughout and converge
    * to stars rooted at each component's min node. Output: (doc_id,
    * rep_id) with rep_id = min id of the component, one row per node
    * that appears in a pair. Each round's edge list is cut with a
    * `localCheckpoint` (executor-local blocks, no extra I/O), so the
    * plan stays one round deep.
    */
  def connectedComponentsStar(pairs: DataFrame, iCol: String = "i",
      jCol: String = "j", maxIter: Int = 20): DataFrame = {
    val nodes = pairs.select(col(iCol).as("n"))
      .unionByName(pairs.select(col(jCol).as("n"))).distinct().persist()
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy("a").agg(min(col("b")).as("_mn"))
        .select(col("a"), least(col("_mn"), col("a")).as("m"))
      s.filter(col("b") > col("a")).join(m, Seq("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val smaller = s.filter(col("b") < col("a"))
      val m = smaller.groupBy("a").agg(min(col("b")).as("m"))
      smaller.join(m, Seq("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionByName(m.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }
    var cur = pairs
      .select(greatest(col(iCol), col(jCol)).as("a"),
        least(col(iCol), col(jCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(eager = true)
    var iter = 0
    var done = cur.isEmpty
    while (!done && iter < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(eager = false)
      // ONE job per round: both edge lists are distinct, so the sets are
      // equal iff their symmetric difference is empty — a +1/-1 tally
      // whose scan also materializes next's lazy checkpoint
      done = cur.select(col("a"), col("b"), lit(1).as("_s"))
        .unionByName(next.select(col("a"), col("b"), lit(-1).as("_s")))
        .groupBy("a", "b").agg(sum(col("_s")).as("_d"))
        .filter(col("_d") =!= 0).isEmpty
      cur = next
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    val out = nodes.join(cur.select(col("a").as("n"), col("b").as("rep")), Seq("n"), "left")
      .select(col("n").as("doc_id"), coalesce(col("rep"), col("n")).as("rep_id"))
    nodes.unpersist()
    out
  }

  /** Union-find within one partition's edge iterator (path-halving
    * find), emitting the partition's components as a STAR FOREST: one
    * (node, root) edge per distinct node seen. Output size is bounded
    * by the partition's distinct-node count — never its edge count —
    * which is what makes forest contraction a data-REDUCING step.
    */
  private def unionFindStars(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, { parent(x) = x; x })
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent(x) = gp // path halving: point at grandparent as we walk
        x = gp
        p = parent.getOrElse(x, { parent(x) = x; x })
      }
      x
    }
    edges.foreach { case (i, j) =>
      val ri = find(i); val rj = find(j)
      // union by MIN id: roots stay the smallest id in their tree, so
      // the final pass reads component minima straight off the roots
      if (ri < rj) parent(rj) = ri
      else if (rj < ri) parent(ri) = rj
    }
    parent.keysIterator.toArray.iterator.map(n => (n, find(n)))
  }

  /** Connected components by partition-local union-find + spanning-
    * forest contraction (the "filtering" CC of Rastogi et al., "Finding
    * Connected Components in Map-Reduce in Logarithmic Rounds",
    * ICDE'13): each partition union-finds its own edges and emits a
    * star forest (≤ its distinct-node count, regardless of edge
    * count), forests merge up a narrow `coalesce` tree (`fanIn`
    * partitions join at each level), and the last level reads labels
    * off the min-id roots. Every level is a NARROW dependency — the
    * whole labeling is ONE shuffle-free Spark job over the edge input,
    * where the iterative variants pay O(diameter) or O(log n) rounds
    * of shuffle jobs. This is the right path whenever the DISTINCT
    * NODES of the pair graph fit one task's memory (~100M ids at 16
    * bytes each) — always true for post-LSH near-dup pair graphs,
    * which only contain docs that actually collided; for unbounded
    * node counts use [[connectedComponentsStar]], whose state lives in
    * shuffles.
    *
    * Same output contract as [[connectedComponentsStar]]: (doc_id,
    * rep_id) with rep_id = min id of the component, one row per node
    * appearing in a pair. Ids must be integral (cast to long
    * internally).
    */
  def connectedComponentsForest(pairs: DataFrame, iCol: String = "i",
      jCol: String = "j", fanIn: Int = 32): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    var level = pairs
      .select(col(iCol).cast("long").as("i"), col(jCol).cast("long").as("j"))
      .as[(Long, Long)]
      .mapPartitions(unionFindStars)
    // merge star forests up a coalesce tree: each level is narrow (no
    // shuffle), and each task's input is bounded by the sum of its
    // children's distinct-node counts
    while (level.rdd.getNumPartitions > 1)
      level = level
        .coalesce(math.max(1, level.rdd.getNumPartitions / fanIn))
        .mapPartitions(unionFindStars)
    // the last merge level emitted find(n) for every node, so each row
    // already IS (node, min-id component root) — no final pass needed
    level.toDF("doc_id", "rep_id")
  }

  /** `bits`-wide simhash bit-string per doc (doc_id, simhash) — the
    * signature shared by the exact-bucket and Hamming-distance dedup
    * variants.
    *
    * `features` picks what votes: "tokens" (distinct words — cheap,
    * but on a small shared vocabulary every document's bits collapse
    * toward the corpus-majority signature, because word SETS ignore
    * order) or "shingles" (distinct 3-grams — order-sensitive, the
    * feature set Manku et al.'s near-dup detection actually hashes;
    * measured on the test corpus it cuts the largest pigeonhole
    * bucket 12× and the candidate volume 11×). Docs with no features
    * (< 3 tokens for shingles) produce no signature row, same as the
    * minhash convention.
    *
    * Same explode → partial-agg shape as minhash: one fused
    * digest-and-vote expression per distinct feature
    * ([[org.apache.spark.sql.graftbridge.SimhashPackedVotes]] — md5 +
    * bit reads + 21-bit-lane packing in one codegen kernel, replacing
    * the md5-hex → substring → conv → per-bit shift/and column
    * pipeline), votes summed map-side as ⌈bits/3⌉ packed longs. Bit k
    * of the signature is 1 iff the majority of features set it
    * (2·ones_k > n, identically the old ±1-sum > 0). Lane sums are
    * carry-free below 2^21 features per doc — enforced here because a
    * doc CAN theoretically exceed it, in which case votes would be
    * silently wrong, and a count is one extra agg column.
    */
  def simhashSignature(docs: DataFrame, idCol: String, textCol: String,
      bits: Int, features: String = "tokens"): DataFrame = {
    require(bits >= 1 && bits <= 32, s"bits must be in [1, 32] (md5 nibbles), got $bits")
    val feats = features match {
      case "tokens" => array_distinct(TextOps.tokens(col(textCol)))
      case "shingles" => TextOps.shingleSet(col(textCol))
      case other => throw new IllegalArgumentException(
        s"features must be tokens|shingles, got $other")
    }
    val nPacked = (bits + 2) / 3
    val tok = docs.select(col(idCol).as("doc_id"), explode(feats).as("t"))
      .withColumn("pv", graft.functions.TextExprs.simhashPackedVotes(col("t"), bits))
    val aggs = (0 until nPacked).map(i => sum(col("pv").getItem(i)).as(s"_s$i")) :+
      count(lit(1)).as("_n")
    val laneMask = (1L << 21) - 1
    val bitCols = (0 until bits).map { k =>
      val ones = shiftright(col(s"_s${k / 3}"), (k % 3) * 21).bitwiseAND(lit(laneMask))
      when(ones * 2 > col("_n"), lit("1")).otherwise(lit("0"))
    }
    // lane-overflow guard: one comparison per DOC row (not per feature);
    // a doc beyond 2^21 distinct features would otherwise corrupt votes
    // silently
    val sig = when(col("_n") < lit(1L << 21), concat(bitCols: _*))
      .otherwise(raise_error(lit(
        "simhashSignature: > 2^21 features in one doc overflows the 21-bit vote lanes"))
        .cast("string"))
    tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash dedup: identical simhash ⇒ near-dup bucket. Returns
    * (doc_id, simhash, rep_id, bucket_size).
    */
  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    val sig = simhashSignature(docs, idCol, textCol, bits)
    val buckets = sig.groupBy("simhash")
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("bucket_size"))
    sig.join(buckets, "simhash").select("doc_id", "simhash", "rep_id", "bucket_size")
  }

  /** Block boundaries (1-based start, length) splitting `bits`
    * positions into `nBlocks` near-equal spans — shared with the
    * oracle generator so both engines block identically.
    */
  def blockBounds(bits: Int, nBlocks: Int): Seq[(Int, Int)] = {
    val base = bits / nBlocks
    val rem = bits % nBlocks
    val lens = (0 until nBlocks).map(b => if (b < rem) base + 1 else base)
    lens.scanLeft(1)(_ + _).zip(lens)
  }

  /** Near-dup pairs within Hamming distance ≤ maxDist over the simhash,
    * via PIGEONHOLE BLOCKING (Manku et al., WWW'07): split the
    * signature into maxDist+1 blocks — any pair within the distance
    * must agree EXACTLY on at least one block — generate candidates by
    * equality join per block, then verify the exact distance. At scale
    * this is the difference between an all-pairs Hamming scan and a
    * hash join whose key selectivity is tunable by block width; the
    * exact-bucket variant (simhashBuckets) is the degenerate
    * maxDist = 0 case. Defaults to shingle features — see
    * [[simhashSignature]] for why token sets collapse the blocking.
    */
  def simhashHammingPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int, maxDist: Int, features: String = "shingles"): DataFrame = {
    val nb = maxDist + 1
    // > 63 would overflow the per-doc long decode; >= bits/blocks would
    // make some block keys the empty string — every doc collides there
    // and candidate generation degenerates into a cross join
    require(bits <= 63, s"bits must be <= 63 (long decode), got $bits")
    require(nb <= bits, s"maxDist+1 ($nb) block(s) need at least that many bits ($bits)")
    val bounds = blockBounds(bits, nb)
    val sig = simhashSignature(docs, idCol, textCol, bits, features)
    val blockKeys = bounds.zipWithIndex.map { case ((start, len), b) =>
      concat_ws(":", lit(b), substring(col("simhash"), start, len))
    }
    // distance via xor+popcount on a per-doc long (bits ≤ 63) decoded
    // ONCE below the join — the join then carries an 8-byte value and
    // each candidate pair costs one xor + one popcount instead of
    // `bits` substring comparisons
    val exploded = sig
      .withColumn("sv", conv(col("simhash"), 2, 10).cast("long"))
      .select(col("doc_id"), col("sv"), explode(array(blockKeys: _*)).as("bk"))
      .localCheckpoint(false) // both self-join sides read one compute
    val l = exploded.select(col("doc_id").as("i"), col("sv").as("svi"), col("bk"))
    val r = exploded.select(col("doc_id").as("j"), col("sv").as("svj"), col("bk"))
    l.join(r, Seq("bk")).filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        bit_count(col("svi").bitwiseXOR(col("svj"))).cast("long").as("hamming"))
      .distinct() // pairs sharing >1 block collide once; hamming is f(i,j)
      .filter(col("hamming") <= maxDist)
  }

  /** Paragraph-level exact dedup — the Dolma "dedupe_paragraphs"
    * stage: split each document on `sep`, drop every paragraph whose
    * text already occurred EARLIER in the corpus (first occurrence in
    * (id, position) order wins, including within one document), and
    * reassemble what survives in original order. This is the
    * span-granularity complement to [[exact]]: boilerplate that
    * repeats across otherwise-unique pages (headers, license blocks,
    * navigation) is removed without dropping the documents that carry
    * it; an exact-duplicate document keeps nothing and comes back as
    * an empty string.
    *
    * Output: one row per document with at least one non-empty
    * paragraph — `(id, n_paras, n_kept, clean_text)`; documents that
    * were already empty drop out (the same verdict an empty doc gets
    * from any cleaning stage).
    *
    * Scale shape: paragraphs explode map-side; the first-occurrence
    * table is ONE hash-partitioned agg on the 128-bit paragraph hash
    * (`min(struct(id, idx))` — never a window over all occurrences);
    * tagging is an equality join back on that hash, co-partitioned
    * with the agg so AQE plans it without a second exchange when the
    * group table is large and broadcasts it when small; reassembly is
    * one keyed agg on the document id whose per-group state is
    * bounded by the document's own size (the same bound as holding
    * the document in a row). Nothing is O(pairs).
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val paras = paragraphTable(docs, idCol, textCol, sep)
    reassembleParagraphs(paras, firstParagraphOccurrence(paras), idCol, sep)
  }

  /** Stage 1 of [[dedupParagraphs]]: the exploded paragraph table
    * `(_pd_id, _pd_idx, _pd_para, _pd_h)` — map-side only (split +
    * posexplode + md5), so it applies unchanged to a STREAMING
    * DataFrame (q_stream_para_dedup feeds it from a file stream).
    */
  def paragraphTable(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val reserved = docs.columns.filter(_.startsWith("_pd_"))
    require(reserved.isEmpty,
      s"dedupParagraphs reserves _pd_* column names; found ${reserved.mkString(",")}")
    docs
      .select(col(idCol).as("_pd_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_pd_idx", "_pd_para")))
      .filter(col("_pd_para") =!= "")
      .withColumn("_pd_h", md5(col("_pd_para").cast("binary")))
  }

  /** Stage 2: the first-occurrence index `(_pd_h, _pd_first)` — ONE
    * hash agg, `min(struct(id, idx))` per 128-bit paragraph hash.
    * A declarative min, so it runs as-is as a STREAMING aggregation:
    * the index accumulates across micro-batches through the agg's
    * merge path and equals the batch-built index exactly (min is
    * arrival-order-invariant). This is the state a live corpus-intake
    * pipeline keeps; [[reassembleParagraphs]] is the batch-side apply.
    */
  def firstParagraphOccurrence(paras: DataFrame): DataFrame =
    paras.groupBy("_pd_h")
      .agg(min(struct(col("_pd_id"), col("_pd_idx"))).as("_pd_first"))

  /** The SCALE-SHAPED streaming face of [[firstParagraphOccurrence]]:
    * the same `min(struct)` aggregation run in UPDATE output mode with
    * a `foreachBatch` log-structured upsert, so each trigger emits
    * ONLY the paragraph hashes touched in that micro-batch — bounded
    * by the batch's own key count — instead of complete-mode's
    * re-emission of the ENTIRE accumulated index every trigger (which
    * grows with the corpus and, through a memory sink, lands on the
    * driver: the one driver-bound growth path round 8 shipped).
    *
    * The upsert log: emitted (hash → min-so-far) rows APPEND to
    * `indexDir` as parquet; [[readFirstOccurrenceIndex]] compacts on
    * read with one more `min` per hash. That is exact by monotonicity
    * — every append for a hash is the running min at its trigger, so
    * min-over-appends = the final min = the batch-built index, with no
    * dependence on arrival order. (In a deployment with a table format
    * the append+compact pair becomes a MERGE/upsert; plain parquet
    * append is the no-external-deps equivalent with the same bounded
    * per-trigger I/O.) Aggregation state lives in the executor-side
    * state store — O(distinct paragraphs), checkpointed, never on the
    * driver — which is the K3 keep-seen-state semantic
    * (cache_service.go:37-61) applied to paragraph hashes.
    *
    * `onBatch(batchId, rowCount)` (driver-side, optional) lets tests
    * pin the bounded-emission claim per trigger.
    *
    * Without compaction the append log grows with TOTAL UPDATES, not
    * index size, and every read pays a min over all appends ever —
    * the one unbounded-growth path a long-running intake stream would
    * have. Compaction ([[compactFirstOccurrenceIndex]], run
    * synchronously inside foreachBatch, so it is serialized with the
    * appends — the single-writer contract holds by construction)
    * keeps on-disk state O(distinct keys) + the appends since the
    * last compaction: the Redis in-place-SET semantic
    * (cache_service.go:45) realized for index state, exactly as
    * Pipeline.upsertLatest/rebuildLatest do for the latest-tick
    * table, through the same [[graft.io.DirSwap]] protocol.
    *
    * `compactWhenFilesOver > 0` is the THRESHOLD policy — the way
    * production log-structured stores actually trigger compaction:
    * after each append, compact only when the log's parquet file
    * count exceeds the threshold (one cheap driver-side directory
    * listing per trigger — no data read). Under a bursty trigger
    * cadence this does bounded work proportional to accumulated
    * garbage rather than wall-clock; 0 never compacts. FLOOR: the
    * threshold is checked AFTER each trigger's append, and one
    * trigger appends up to `spark.sql.shuffle.partitions` files — a
    * threshold at or below that (or below the compacted state's own
    * `compactFiles`) fires EVERY trigger, i.e. a quiet full-log
    * rewrite per trigger, the exact O(index)-per-trigger cost the
    * policy exists to avoid.
    * `compactWhenFilesOver > compactFiles` is require()d; sizing it
    * to a few triggers' worth of shuffle-partition files is the
    * caller's contract (the catalog faces use shufflePartitions·4).
    */
  def firstOccurrenceStreamIndex(paras: DataFrame, indexDir: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onBatch: (Long, Long) => Unit = null,
      compactFiles: Int = 8,
      compactWhenFilesOver: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactWhenFilesOver <= 0 || compactWhenFilesOver > compactFiles,
      s"compactWhenFilesOver=$compactWhenFilesOver must exceed " +
        s"compactFiles=$compactFiles: the compacted state alone would " +
        "re-trip the threshold, forcing a full-log rewrite every trigger")
    firstParagraphOccurrence(paras)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a compaction may have crashed mid-swap while the stream was
        // down; repair BEFORE this append recreates the directory — an
        // append-first recreation would make the repair see a live
        // target and strand the backed-up index (silent truncation).
        // One exists-check per trigger.
        DirSwap.repair(batch.sparkSession, DirSwap.Dirs.sibling(indexDir))
        if (onBatch == null) batch.write.mode("append").parquet(indexDir)
        else {
          val b = batch.persist()
          b.write.mode("append").parquet(indexDir)
          onBatch(batchId, b.count())
          b.unpersist()
          ()
        }
        if (compactWhenFilesOver > 0 &&
            indexLogFileCount(batch.sparkSession, indexDir) > compactWhenFilesOver)
          compactFirstOccurrenceIndex(batch.sparkSession, indexDir,
            compactFiles)
      }
      .trigger(trigger)
      .start()
  }

  /** Parquet data-file count of the index log — the threshold
    * policy's trigger metric. One driver-side directory listing, no
    * data read.
    */
  private def indexLogFileCount(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Int = {
    import org.apache.hadoop.fs.Path
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Compaction read of a [[firstOccurrenceStreamIndex]] log: one
    * `min` per hash over the appended updates reproduces the exact
    * batch-built index (see the monotonicity argument there). Feeds
    * [[reassembleParagraphs]] as the batch-side apply.
    */
  def readFirstOccurrenceIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    DirSwap.read(spark, DirSwap.Dirs.sibling(indexDir))
      .groupBy("_pd_h").agg(min(col("_pd_first")).as("_pd_first"))

  /** MATERIALIZED compaction of a [[firstOccurrenceStreamIndex]]
    * append log: rewrite the log to its compacted form — ONE min row
    * per `_pd_h`, in `numFiles` files — and swap it into place with
    * [[graft.io.DirSwap.swap]]. Read-equivalence is the same
    * monotonicity argument as [[readFirstOccurrenceIndex]]: every
    * appended row for a hash is a running min, so min-per-hash is
    * idempotent — compact(compact(L) ∪ M) == compact(L ∪ M) — and a
    * read through readFirstOccurrenceIndex returns the identical
    * index before and after (StreamingSpec pins it mid-stream).
    * Post-state on disk is O(distinct keys), not O(total updates).
    * Single writer assumed: callers are either the stream's own
    * foreachBatch cadence (serialized with appends) or an offline
    * maintenance pass while the stream is down.
    */
  def compactFirstOccurrenceIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, numFiles: Int = 8): Unit = {
    // a previous compaction may have crashed mid-swap — repair
    // before reading
    val dirs = DirSwap.Dirs.sibling(indexDir)
    DirSwap.repair(spark, dirs)
    readFirstOccurrenceIndex(spark, indexDir)
      .repartition(numFiles)
      .write.mode("overwrite").parquet(dirs.stage)
    DirSwap.swap(spark, dirs)
  }

  /** Stage 3: tag each paragraph occurrence against the index and
    * reassemble surviving paragraphs per document in original order.
    * Equality join on the hash + one keyed agg whose per-group state
    * is bounded by the document's own size.
    */
  def reassembleParagraphs(paras: DataFrame, first: DataFrame,
      idCol: String, sep: String = "\n"): DataFrame = {
    val tagged = paras.join(first, Seq("_pd_h"))
      .withColumn("_pd_keep",
        struct(col("_pd_id"), col("_pd_idx")) === col("_pd_first"))
    tagged.groupBy(col("_pd_id").as(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("_pd_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_pd_keep"), struct(col("_pd_idx"), col("_pd_para"))))),
            x => x.getField("_pd_para")),
          sep).as("clean_text"))
  }

  /** Exact-substring span dedup, token-granular — the apply step of
    * the Lee et al. (ACL'22, "Deduplicating Training Data Makes
    * Language Models Better") signal that [[dupNgramCoverage]] only
    * measures: every occurrence of a duplicated k-token span except
    * the GLOBALLY FIRST (total order = (doc id, token position)) has
    * its k covered token positions excised, and each document's
    * surviving tokens are rejoined in order. A duplicated region
    * longer than k is covered by overlapping duplicated k-windows, so
    * non-first copies of the whole region vanish while the first copy
    * survives verbatim (pinned in TrainingSpec). Excision can splice
    * previously-distant tokens into NEW adjacencies — inherent to
    * substring removal and true of the reference method too — so the
    * operator is intentionally not idempotent.
    *
    * The reference implementation builds a corpus-wide suffix array;
    * the Spark-shaped equivalent is k-gram span hashing, and unlike
    * the candidate-pair generators above it is FULLY linear — no
    * stage is O(df²), so boilerplate spans need no frequency cap.
    *
    * Precondition: `idCol` is UNIQUE per row (true of every table
    * here). Duplicate ids would make (id, pos) a non-total order for
    * the first-occurrence argmin AND merge distinct documents in the
    * reassembly groupBy — same contract class as TopKByAggregator's
    * unique-id note. Stages:
    *  - span postings (id, pos, md5(span)) explode map-side;
    *  - the first-occurrence index is ONE hash agg on the 128-bit
    *    span hash (`min(struct(id, pos))` — never a window over
    *    occurrences, so a span duplicated a million times costs one
    *    partially-aggregated group, not a million-row sort);
    *  - tag-back is an equality join on that hash (AQE broadcasts
    *    the index when small, co-partitions otherwise);
    *  - removed positions explode k rows per non-first occurrence
    *    (bounded by k·positions) into one `collect_set` per doc whose
    *    state is bounded by the document's own length;
    *  - the rebuild is a map-side positional `filter` after one
    *    left join docs→removal-sets on the id.
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val spans = spanTable(docs, idCol, textCol, k)
    removeSpans(docs, spans, firstParagraphOccurrence(spans),
      idCol, textCol, k)
  }

  /** Stage 1 of [[spanDedup]]: the exploded span-occurrence table
    * `(_pd_id, _pd_idx, _pd_h)` — map-side only (fused shingle kernel
    * + posexplode + md5), so it applies unchanged to a STREAMING
    * DataFrame (q_stream_span_dedup feeds it from a file stream).
    * Deliberately the same `_pd_*` shape as [[paragraphTable]]: spans
    * ARE the paragraph-dedup key family at k-token granularity, so
    * [[firstParagraphOccurrence]], [[firstOccurrenceStreamIndex]] and
    * [[readFirstOccurrenceIndex]] all work on it verbatim — one
    * first-occurrence state machine, two granularities.
    *
    * Span start positions are 1-based — matches the oracle SQL, where
    * DuckDB's list indexing (and lambda index parameter) is 1-based.
    */
  def spanTable(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"span length must be >= 2 tokens, got $k")
    val reserved = docs.columns.filter(_.startsWith("_pd_"))
    require(reserved.isEmpty,
      s"spanTable reserves _pd_* column names; found ${reserved.mkString(",")}")
    docs
      .select(col(idCol).as("_pd_id"),
        posexplode(TextOps.shingleList(col(textCol), k))
          .as(Seq("_pd_idx0", "_pd_s")))
      .select(col("_pd_id"), (col("_pd_idx0") + 1).as("_pd_idx"),
        // 16-byte binary key, not the 32-char hex string: the span
        // table is the operator's dominant shuffle (~k× the token
        // count in postings), and halving+ the key width is a
        // measured 1.2× on the 4M-doc probe. Same 128-bit exactness
        // contract as the paragraph path.
        unhex(md5(col("_pd_s").cast("binary"))).as("_pd_h"))
  }

  /** Stages 2+3 of [[spanDedup]]: tag span occurrences against the
    * first-occurrence index, excise covered token positions of every
    * non-first occurrence, rebuild each document map-side via a
    * positional filter. `first` is [[firstParagraphOccurrence]] over
    * the span table — or a [[readFirstOccurrenceIndex]] compaction of
    * the stream-built log, which is how the streaming face applies.
    */
  def removeSpans(docs: DataFrame, spans: DataFrame, first: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    val removedSets = spans.join(first, Seq("_pd_h"))
      .filter(struct(col("_pd_id"), col("_pd_idx")) =!= col("_pd_first"))
      .select(col("_pd_id"),
        explode(sequence(col("_pd_idx"), col("_pd_idx") + (k - 1)))
          .as("_pd_rm"))
      .groupBy("_pd_id")
      .agg(collect_set(col("_pd_rm")).as("_pd_rms"))
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("_pd_toks"))
      .join(removedSets, docs(idCol) === removedSets("_pd_id"), "left")
      .select(
        col(idCol),
        size(col("_pd_toks")).cast("long").as("n_tokens"),
        coalesce(size(col("_pd_rms")), lit(0)).cast("long").as("n_removed"),
        array_join(
          filter(col("_pd_toks"), (t, i) =>
            col("_pd_rms").isNull || !array_contains(col("_pd_rms"), i + 1)),
          " ").as("clean_text"))
  }

  /** Dolma-order composed curation: paragraph-dedup, THEN exact-
    * substring span excision on the paragraph-cleaned text, as ONE
    * job that reads the document corpus from disk exactly once. Real
    * curation pipelines sequence these granularities (paragraph
    * boilerplate first, then cross-document k-token spans inside
    * what survives); composing them naively re-evaluates each
    * stage's subtree per downstream reference — the paragraph stage
    * alone is referenced three times by the span stage — which at a
    * 100 TB corpus is 5+ full scans of the input.
    *
    * The shared-scan shape: `localCheckpoint` materializes (a) the
    * paragraph-occurrence table — the ONE pass over the file — and
    * (b) the paragraph-cleaned per-doc table, so every later
    * reference reads materialized blocks, never the file. On a
    * cluster the same two cut points become durable stage writes
    * (each Dolma stage persists its output parquet); lineage
    * truncation is the in-session equivalent with identical scan
    * behavior. PlanAuditSpec pins the claim with a
    * QueryExecutionListener: end to end, exactly one file scan of
    * the corpus executes, and the final plan reads no files at all.
    *
    * Output per document: paragraph-stage stats (`n_paras`,
    * `n_kept`), then span-stage stats over the CLEANED text
    * (`n_tokens`, `n_removed`) and the final `clean_text`.
    */
  def curatePipeline(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val paras = paragraphTable(docs, idCol, textCol).localCheckpoint()
    val cleaned = reassembleParagraphs(
        paras, firstParagraphOccurrence(paras), idCol)
      .localCheckpoint()
    val cleanDocs = cleaned.select(col(idCol), col("clean_text"))
    val spans = spanTable(cleanDocs, idCol, "clean_text", k)
    val excised = removeSpans(cleanDocs, spans,
      firstParagraphOccurrence(spans), idCol, "clean_text", k)
    cleaned.select(col(idCol), col("n_paras"), col("n_kept"))
      .join(excised, Seq(idCol))
  }

  /** Site-level boilerplate removal — the crawl-curation counterpart
    * of [[dedupParagraphs]]: a line (paragraph) that repeats across at
    * least `minDocs` DISTINCT documents of the SAME site is boilerplate
    * (nav bars, cookie banners, footers — the CCNet/Dolma site-level
    * repeated-line rule) and is removed from EVERY document of that
    * site; cross-site repeats are untouched (legitimately common text,
    * not template chrome). Where paragraph dedup keeps the FIRST
    * occurrence corpus-wide, boilerplate removal keeps NONE of a
    * site-frequent line — different policy, same line table.
    *
    * Shape at 100 TB: the line explode is map-side; the site-frequency
    * count is ONE partial-agged exchange on (site, line-hash) — the
    *16-byte binary md5, same key-width reasoning as [[spanTable]];
    * the boiler set (lines CROSSING the threshold — a tiny fraction of
    * distinct lines by construction) joins back on the same key (AQE
    * broadcasts it when small, and the join key is already the
    * exchange key otherwise); reassembly is one keyed agg whose
    * per-group state is bounded by the document's own size. No
    * windows, no cartesians, nothing O(pairs).
    *
    * Output per document that has ≥1 non-empty line: (idCol, siteCol,
    * n_lines, n_kept, clean_text) with survivors rejoined by `sep` in
    * original order ("" when every line was boilerplate).
    */
  def removeSiteBoilerplate(docs: DataFrame, idCol: String,
      textCol: String, siteCol: String, minDocs: Int,
      sep: String = "\n"): DataFrame = {
    require(minDocs >= 2,
      s"minDocs < 2 would mark every line boilerplate; got $minDocs")
    val lines = siteLineTable(docs, idCol, textCol, siteCol, sep)
    applySiteBoilerplate(lines,
      siteLineCounts(lines).filter(col("_sb_nd") >= minDocs), idCol,
      siteCol, sep)
  }

  /** Stage 1 of [[removeSiteBoilerplate]]: the exploded per-site line
    * table `(_sb_site, _sb_id, _sb_idx, _sb_line, _sb_h)` — map-side
    * only, so it applies unchanged to a STREAMING DataFrame
    * (q_stream_boilerplate feeds it per trigger).
    */
  private[graft] def siteLineTable(docs: DataFrame, idCol: String,
      textCol: String, siteCol: String, sep: String): DataFrame = {
    val reserved = docs.columns.filter(_.startsWith("_sb_"))
    require(reserved.isEmpty,
      s"removeSiteBoilerplate reserves _sb_* column names; found ${reserved.mkString(",")}")
    docs
      .select(col(siteCol).as("_sb_site"), col(idCol).as("_sb_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_sb_idx", "_sb_line")))
      .filter(col("_sb_line") =!= "")
      .withColumn("_sb_h", unhex(md5(col("_sb_line").cast("binary"))))
  }

  /** Stage 2: distinct-document counts per (site, line hash) — the
    * site-frequency index. MERGEABLE under the one-batch-per-document
    * contract: when every document's row lands in exactly ONE batch
    * (a file stream never splits a row), per-batch counts SUM to the
    * global count, so a streaming intake appends per-trigger counts
    * and the reader folds them with one more sum per key
    * (q_stream_boilerplate) — the same log-structured shape as
    * [[firstOccurrenceStreamIndex]], with sum-merge instead of
    * min-merge.
    */
  private[graft] def siteLineCounts(lines: DataFrame): DataFrame =
    lines.groupBy(col("_sb_site"), col("_sb_h"))
      .agg(count_distinct(col("_sb_id")).as("_sb_nd"))

  /** Stage 3: remove `boiler` lines ((_sb_site, _sb_h) rows) from
    * every document and reassemble survivors in original order.
    */
  private[graft] def applySiteBoilerplate(lines: DataFrame,
      boiler: DataFrame, idCol: String, siteCol: String,
      sep: String): DataFrame = {
    val b = boiler.select(col("_sb_site"), col("_sb_h"),
      lit(true).as("_sb_boiler"))
    lines.join(b, Seq("_sb_site", "_sb_h"), "left")
      .groupBy(col("_sb_id"), col("_sb_site"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_sb_boiler").isNull, 1L).otherwise(0L))
          .as("n_kept"),
        // collect_list skips nulls, so boiler lines drop here; the
        // struct sorts by (idx, line) and idx is unique per document
        coalesce(
          array_join(
            transform(
              array_sort(collect_list(when(col("_sb_boiler").isNull,
                struct(col("_sb_idx"), col("_sb_line"))))),
              e => e.getField("_sb_line")),
            sep),
          lit("")).as("clean_text"))
      .select(col("_sb_id").as(idCol), col("_sb_site").as(siteCol),
        col("n_lines"), col("n_kept"), col("clean_text"))
  }

  /** Representative selection over near-dup clusters — the FineWeb
    * keep-best step: given the `(doc_id, rep_id)` cluster table from a
    * connected-components variant (which lists only documents that
    * are IN some cluster), tag every document with its cluster, its
    * cluster's size, and whether it is the cluster's best row under
    * the caller's quality order (made total by a unique-id tiebreak).
    * Unlike [[applyKeep]]'s min-id convention, the survivor here is
    * chosen by QUALITY — the variant a curation pipeline actually
    * wants when near-dups differ in truncation or boilerplate.
    * Singletons (no cluster row) form their own cluster and are kept.
    *
    * Shape: one left equality join docs→clusters on the id (the
    * cluster table is the small side — at most one row per clustered
    * doc — so AQE broadcasts it), then one hash-partitioned window on
    * the cluster id whose per-group state is the cluster, bounded by
    * design (near-dup clusters are small; a giant cluster means the
    * similarity threshold is wrong, not that this operator needs to
    * scale past it).
    */
  def clusterRepresentatives(docs: DataFrame, clusters: DataFrame,
      idCol: String, order: Seq[Column]): DataFrame = {
    val reserved = docs.columns.filter(_.startsWith("_cr_"))
    require(reserved.isEmpty,
      s"clusterRepresentatives reserves _cr_* column names; found ${reserved.mkString(",")}")
    import org.apache.spark.sql.expressions.Window
    val c = clusters.select(col(idCol), col("rep_id").as("_cr_rep"))
    val w = Window.partitionBy(col("cluster_id")).orderBy(order: _*)
    docs.join(c, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("_cr_rep"), col(idCol)))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("_cr_rn", row_number().over(w))
      .withColumn("kept", col("_cr_rn") === 1)
      .drop("_cr_rep", "_cr_rn")
  }
}
