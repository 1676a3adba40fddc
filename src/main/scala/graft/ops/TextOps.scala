package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for LLM training-data pipelines: token
  * extraction, k-gram shingling, quality stats, language-ID heuristics,
  * and winnowing-style document fingerprints.
  *
  * Everything is a Column expression (codegen'd, no UDFs) so all ops
  * stay inside whole-stage codegen and scale linearly with no shuffle
  * of their own — shuffles happen only in the downstream joins/aggs
  * that consume these columns.
  */
object TextOps {

  /** Whitespace tokens, empty strings removed. */
  def tokens(text: Column): Column =
    filter(split(trim(text), " "), t => t =!= "")

  /** Word k-shingles (consecutive k-grams joined by a space). Empty
    * array when the document has fewer than k tokens.
    *
    * Built by zip_with over k−1 shifted slices rather than
    * element_at-in-a-lambda: a lambda body referencing the token array
    * re-inlines the whole tokenize expression per ELEMENT (O(n²)
    * retokenization per doc — measured 12× slower); zip_with walks
    * each array once, so tokenize is evaluated O(k) times per doc.
    * zip_with null-pads the shorter side; the pads are nulled through
    * and filtered, leaving exactly n−k+1 shingles.
    */
  def shingles(toks: Column, k: Int): Column = {
    val n = size(toks)
    val joined = (2 to k).foldLeft(toks) { (acc, o) =>
      val shifted = slice(toks, lit(o), greatest(n - (o - 1), lit(0)))
      zip_with(acc, shifted, (a, b) =>
        when(a.isNull || b.isNull, lit(null)).otherwise(concat_ws(" ", a, b)))
    }
    when(n >= k, filter(joined, x => x.isNotNull))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct 3-gram shingles — the unit of near-dup comparison.
    * Fused native kernel (round 6): one JVM pass per doc replacing
    * four CodegenFallback HOF lambdas + array_distinct; bit-identical
    * to [[shingleSetComposed]] (equivalence-pinned in TrainingSpec).
    */
  def shingleSet(text: Column): Column =
    graft.functions.TextExprs.shingleSetNative(text, 3)

  /** The composed built-in formulation of [[shingleSet]] — kept as the
    * executable specification the fused kernel is tested against.
    */
  private[graft] def shingleSetComposed(text: Column): Column =
    array_distinct(shingles(tokens(text), 3))

  /** Positional k-gram list straight from text — the fused form of
    * `shingles(tokens(text), k)` (duplicates kept, document order);
    * equivalence-pinned against the composed pipeline alongside
    * [[shingleSet]].
    */
  def shingleList(text: Column, k: Int): Column =
    graft.functions.TextExprs.shingleListNative(text, k)

  /** Sliding-window document chunking: split each document into
    * overlapping token-budget chunks — the pre-training/RAG chunker
    * that q_pack's bin packing is the inverse of (pack joins short
    * docs UP to the budget; chunk cuts long docs DOWN to it). Chunk c
    * covers tokens [c·stride, c·stride + maxTokens) with
    * stride = maxTokens − overlap; every document yields ≥ 1 chunk
    * (an empty doc yields one empty chunk), the last chunk is the
    * only short one, and consecutive chunks share `overlap` tokens so
    * no context window is ever split cold.
    *
    * Scale shape: tokenize once per document (materialized column, so
    * the per-chunk lambda references an attribute, not a re-inlined
    * tokenize — the [[shingles]] lesson), then a map-side
    * posexplode; no shuffle of its own. `n_tokens` is computed
    * arithmetically (min(maxTokens, n − c·stride)) rather than by
    * re-tokenizing the chunk.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got overlap=$overlap max=$maxTokens")
    val stride = maxTokens - overlap
    df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")).cast("long"))
      .withColumn("_nc", when(col("_n") <= maxTokens, lit(1L))
        .otherwise(ceil((col("_n") - lit(maxTokens)).cast("double") / stride)
          .cast("long") + 1L))
      .select(col(idCol), col("_n"),
        posexplode(transform(sequence(lit(0L), col("_nc") - 1), c =>
          array_join(slice(col("_toks"), (c * stride + 1).cast("int"),
            lit(maxTokens)), " "))).as(Seq("chunk_id", "chunk")))
      .withColumn("chunk_id", col("chunk_id").cast("long"))
      .withColumn("n_tokens",
        greatest(least(lit(maxTokens.toLong), col("_n") - col("chunk_id") * stride),
          lit(0L)))
      .drop("_n")
  }

  /** Dolma/FineWeb-style text canonicalization — the normalize step
    * every real-world dedup pipeline runs BEFORE hashing, so that
    * case, punctuation, and whitespace variants of the same content
    * collapse to one key: lowercase → strip every char outside
    * [a-z0-9 + whitespace] (punctuation and non-ASCII) → collapse
    * whitespace runs to one space → trim.
    *
    * Cross-engine parity: the whitespace class is written explicitly
    * as [ \t\n\r\f] instead of \s (Java's \s includes \x0B, RE2's
    * does not), and only character-class regex is used, so Java regex
    * (Spark) and RE2 (DuckDB/Go) agree on every input. Pure column
    * expression — map-side, codegen'd, no shuffle.
    */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 \\t\\n\\r\\f]", ""),
      "[ \\t\\n\\r\\f]+", " "))

  /** Markup EXTRACTION — the pipeline stage BEFORE every text
    * operator here: crawled pages arrive as markup, and quality
    * gates/dedup/tokenizers want the article text without nav/footer
    * boilerplate. A trafilatura-lite, expressed entirely in
    * codegen'd built-ins so the whole chain replays in the oracle
    * (lookaround-free regexes — Java and RE2 agree — and exact
    * string `replace` for entities):
    *
    *  1. block segmentation: block-level boundaries (`</p>`,
    *     `</div>`, `</li>`, `<br>`, headings) become newlines while
    *     the markup is still present, preserving line structure;
    *  2. per-block features BEFORE stripping: anchor count (`<a `
    *     occurrences) — the link-density signal tags carry and
    *     stripped text cannot recover;
    *  3. strip remaining tags (`<[^>]*>`), decode the five standard
    *     entities, collapse whitespace;
    *  4. boilerplate line filter: drop blocks with fewer than
    *     `minWords` words OR link-dense blocks
    *     (`anchors · linkDensityInv ≥ words` — a nav bar is anchors
    *     wall-to-wall, an article paragraph is not).
    *
    * Returns the kept blocks joined by '\n'. Map-side only — one
    * projection, no shuffle, no UDF; scales as a scan like every
    * gate in this family. q_html_extract oracle-checks the chain
    * bit-for-bit (including anchors/word counts) on synthetic markup
    * derived from the documents table.
    */
  def extractMarkup(html: Column, minWords: Int = 3,
      linkDensityInv: Int = 3): Column = {
    val blocks = split(
      regexp_replace(html,
        "</p>|</div>|</li>|</h[1-6]>|<br ?/?>", "\n"), "\n")
    val scored = transform(blocks, b => {
      val anchors = size(split(b, "<a ", -1)) - 1
      val clean0 = regexp_replace(b, "<[^>]*>", " ")
      // decode &amp; LAST: decoding it first would double-decode
      // escaped entities (the literal source text "&amp;lt;" must
      // come out as "&lt;", never "<")
      val decoded = Seq("&lt;" -> "<", "&gt;" -> ">",
          "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
        .foldLeft(clean0) { case (c, (e, r)) =>
          replace(c, lit(e), lit(r)) }
      val clean = trim(regexp_replace(decoded, "[ \\t\\r\\f]+", " "))
      val words = when(clean === "", lit(0))
        .otherwise(size(split(clean, " ", -1)))
      struct(clean.as("clean"), words.as("words"),
        anchors.as("anchors"))
    })
    val kept = filter(scored, s =>
      s.getField("words") >= minWords &&
        s.getField("anchors") * linkDensityInv < s.getField("words"))
    array_join(transform(kept, _.getField("clean")), "\n")
  }

  /** URL canonicalization — the crawl-side twin of
    * [[extractMarkup]]: URL-keyed dedup and blocklist joins only work
    * if `HTTP://WWW.Example.COM:80/a/?utm_source=x&b=2&a=1#f` and
    * `http://example.com/a?a=1&b=2` collide. The canonical form:
    * lowercased scheme and host (NEVER the path — paths are
    * case-sensitive), `www.` prefix dropped, default port dropped
    * (`:80` for http, `:443` for https), trailing `/` dropped from
    * non-root paths, empty path → `/`, tracking parameters removed
    * (`utm_*`, `fbclid`, `gclid`), surviving parameters SORTED (the
    * dedup-key convention: parameter order is transport noise),
    * fragment dropped. Pure built-ins (regexp_extract groups +
    * array_sort + HOF filter — lookaround-free), so the whole chain
    * replays in DuckDB: q_url_norm pins it. Map-side only. Rows that
    * do not parse as absolute URLs return NULL (the caller's
    * quarantine signal, never a half-normalized key).
    */
  def normalizeUrl(url: Column): Column = {
    val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$"
    val scheme = lower(regexp_extract(url, re, 1))
    val host0 = lower(regexp_extract(url, re, 2))
    val host1 = regexp_replace(host0, "^www\\.", "")
    val host = when(scheme === "http",
        regexp_replace(host1, ":80$", ""))
      .when(scheme === "https", regexp_replace(host1, ":443$", ""))
      .otherwise(host1)
    val path0 = regexp_extract(url, re, 3)
    val path = when(path0 === "" || path0 === "/", lit("/"))
      .otherwise(regexp_replace(path0, "/$", ""))
    val q0 = regexp_extract(url, re, 4) // "?a=1&b=2" or ""
    val params = filter(
      split(regexp_replace(q0, "^\\?", ""), "&", -1),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"))
    val query = when(size(params) > 0,
        concat(lit("?"), array_join(array_sort(params), "&")))
      .otherwise(lit(""))
    when(scheme === "" || host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path, query))
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "on")

  /** Stopword hit count over a token array. */
  def stopwordHits(toks: Column, stops: Seq[String] = defaultStopwords): Column =
    size(filter(toks, t => t.isin(stops.map(lit(_)): _*)))

  /** Total character count of an array of tokens (sequential fold). */
  def totalTokenChars(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t))

  /** Unigram-LM frequency-mass scoring (q_lm_score): the quantized
    * stand-in for a CCNet-style perplexity filter. Each token
    * contributes floor(log2(corpus count)) — computed EXACTLY as
    * length(bin(count)) − 1, pure integer ops, because true log()
    * rounds differently across engines — and a doc's score is the
    * integer-ratio mean. Rare-token/gibberish docs score low.
    * Returns (idCol, n_tokens, lm_mass, lm_score). Scale: counts are
    * one partial-agged shuffle; the scoring join broadcasts the
    * PRE-aggregated one-row-per-token count table (shuffle join with
    * no skew amplification once the vocab outgrows broadcast).
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val qlog = (length(bin(col("cnt"))) - 1).cast("long")
    toks.join(broadcast(counts), Seq("tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum(qlog).as("lm_mass"))
      .withColumn("lm_score",
        col("lm_mass").cast("double") / col("n_tokens").cast("double"))
  }

  /** GPT-2-style pretokenizer pattern (ASCII simplification, no
    * lookarounds so it runs identically under Java regex and RE2):
    * contraction suffixes, space-prefixed letter runs, space-prefixed
    * digit runs, space-prefixed punctuation runs, residual whitespace.
    * The match COUNT approximates BPE token count far better than
    * whitespace splitting (punctuation and contractions tokenize
    * separately), which is what token-budget accounting needs.
    */
  val bpePretokenPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9']+|\\s+"

  /** Pretokenizer-match count over a text column. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePretokenPattern), lit(0)))

  /** Heuristic language ID: stopword-profile scoring — >=2 hits ⇒ en,
    * 1 ⇒ und(etermined), 0 ⇒ other. A real pipeline swaps in a model;
    * the plumbing (pure column expression over tokens) is the point.
    */
  def langIdHeuristic(toks: Column): Column = {
    val hits = stopwordHits(toks, Seq("the", "and", "of", "a", "in"))
    when(hits >= 2, lit("en")).when(hits === 1, lit("und")).otherwise(lit("other"))
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03 scheme,
    * simplified): md5 each shingle, take the min hash of every
    * sliding window of `w`, distinct+sort the kept hashes, md5 the
    * joined result into one document fingerprint. Fused kernel since
    * round 14 (see [[graftbridge.WinnowFingerprint]]): monotone-deque
    * sliding min, O(n) per doc vs the composed form's per-window
    * slice copies (3.8 ms/doc measured).
    */
  def winnowFingerprint(shingleArr: Column, w: Int): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WinnowFingerprint}
    ColumnBridge.column(
      WinnowFingerprint(ColumnBridge.expression(shingleArr), w))
  }

  /** The composed-HOF formulation [[winnowFingerprint]] replaced —
    * kept as the readable reference implementation; ExtensionsSpec
    * pins corpus-wide equality.
    */
  private[graft] def winnowFingerprintComposed(shingleArr: Column,
      w: Int): Column = {
    val hs = transform(shingleArr, s => md5(s.cast("binary")))
    val n = size(hs)
    val wins = when(n >= w,
      transform(sequence(lit(1), n - (w - 1)),
        i => array_min(slice(hs, i, lit(w)))))
      .otherwise(array(array_min(hs)))
    md5(concat_ws("|", array_sort(array_distinct(wins))).cast("binary"))
  }

  /** PII-style scrubbing: mask every decimal digit with `mask`. The
    * pattern is plain character-class regex — no lookarounds — so Java
    * regex (Spark) and RE2 (DuckDB, Go) agree on every input. Real
    * pipelines extend the pattern list (emails, phones, SSNs); the
    * digit class is the deterministic core every such scrubber shares.
    */
  def maskDigits(text: Column, mask: String = "#"): Column =
    regexp_replace(text, "[0-9]", mask)

  /** Count of characters the digit scrubber would mask — emitted
    * alongside the redacted text so downstream audits can filter on
    * redaction volume without diffing strings.
    */
  def digitCount(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", ""))

  /** Word bigrams in document order (non-distinct — collocation
    * counting needs every occurrence, unlike dedup shingling).
    */
  def bigrams(toks: Column): Column = shingles(toks, 2)

  /** BPE merge-pair statistics — the inner loop of byte-pair-encoding
    * tokenizer TRAINING, which at corpus scale is a Spark job before
    * it is anything else: the first merge iteration scores every
    * adjacent symbol pair by its frequency-weighted occurrence count
    * over the corpus (symbols = characters, the initial BPE
    * alphabet). Returns `(pair, cnt)` where pair is "a b" and cnt =
    * Σ_words wf(word) · occurrences(pair, word).
    *
    * Scale shape — the reason BPE training is feasible on 100 TB at
    * all: the corpus-sized work is ONE partial-aggregated word-count
    * shuffle; the pair explode then runs over the DISTINCT vocabulary
    * only (|vocab| · word-length rows — untethered from corpus size),
    * and the final pair agg is alphabet²-sized. Subsequent merge
    * iterations rescore the vocab table alone and never touch the
    * corpus again. Per-pair expansion indexes the word attribute with
    * substring inside the lambda (attribute reference, not a
    * re-inlined subtree — the [[shingles]] lesson).
    */
  def bpeMergePairs(docs: DataFrame, textCol: String): DataFrame = {
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wf"))
    // sequence(1, 0) would DESCEND ([1, 0]), not return empty — guard
    // single-char words explicitly
    val adjacent = when(length(col("w")) >= 2,
      transform(sequence(lit(1), length(col("w")) - 1), i =>
        concat(col("w").substr(i, lit(1)), lit(" "),
          col("w").substr(i + 1, lit(1)))))
      .otherwise(array().cast("array<string>"))
    words
      .select(col("wf"), explode(adjacent).as("pair"))
      .groupBy("pair").agg(sum(col("wf")).as("cnt"))
  }

  /** Left-to-right greedy application of ONE BPE merge (a, b) → ab to
    * a symbol array, as a pure fold expression: after a merge the new
    * symbol becomes the fold's last element, so it cannot re-merge
    * with the next input symbol unless a LATER merge rule says so —
    * exactly BPE's single-pass semantics ("aaa" under (a,a) →
    * [aa, a], not [aa, aa…]). O(len²) slice/concat per word — words
    * are short and the fold runs over the DISTINCT vocab, not the
    * corpus.
    */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Character-symbol array of a token (the initial BPE alphabet). */
  private def charSyms(tok: Column): Column =
    transform(sequence(lit(1), length(tok)), i => tok.substr(i, lit(1)))

  /** Full BPE tokenizer TRAINING — [[bpeMergePairs]] iterated to a
    * merge table: each round scores every adjacent symbol pair by
    * frequency-weighted count over the vocab, takes the argmax
    * (count desc, pair asc — deterministic), applies the merge
    * left-to-right to every word, and repeats. Returns the learned
    * merges in order with their winning counts — the model artifact a
    * tokenizer ships.
    *
    * Scale shape: the corpus is touched ONCE (the word-frequency
    * agg); every iteration thereafter runs on the distinct-vocab
    * table — one alphabet²-sized pair agg plus a map-side fold — and
    * collects exactly ONE row (the argmax) to the driver, which is
    * the loop's control dependency and bounded by construction (the
    * S-row rate-table collect class). `localCheckpoint` cuts the
    * lineage each round so round r+1's plan doesn't nest r folds
    * (the kmeans/CC iterative-plan lesson). Training stops early if
    * every word has collapsed to a single symbol.
    *
    * The merge list is returned driver-side BY DESIGN: it is the
    * model (≤ nMerges rows), not data — [[bpeEncode]] compiles it
    * back into a column expression for corpus-scale application.
    */
  def bpeTrain(docs: DataFrame, textCol: String,
      nMerges: Int): Seq[(String, Long)] = {
    var syms = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wf"))
      .select(col("wf"), charSyms(col("w")).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var done = false
    while (merges.size < nMerges && !done) {
      val adj = when(size(col("syms")) >= 2,
        transform(sequence(lit(1), size(col("syms")) - 1), i =>
          concat(element_at(col("syms"), i), lit(" "),
            element_at(col("syms"), i + 1))))
        .otherwise(array().cast("array<string>"))
      val best = syms.select(col("wf"), explode(adj).as("pair"))
        .groupBy("pair").agg(sum("wf").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val pair = best(0).getString(0)
        merges += ((pair, best(0).getLong(1)))
        val Array(a, b) = pair.split(" ", 2)
        val old = syms
        syms = syms.select(col("wf"),
          applyMerge(col("syms"), a, b).as("syms")).localCheckpoint()
        old.unpersist()
      }
    }
    merges.toSeq
  }

  /** BATCHED BPE training — the wall-clock path for realistic merge
    * counts (the exact trainer is inherently sequential: one argmax
    * round-trip per merge, measured flat at ~0.2 s/merge ⇒ a 50k-merge
    * tokenizer ≈ 3 h of pure round-trip latency). Each round scores
    * pairs ONCE and accepts up to `batchSize` top candidates whose
    * symbols are pairwise disjoint (and disjoint from any symbol a
    * merge earlier in the batch creates), then applies the whole
    * batch in one projection. Disjointness keeps every ACCEPTED
    * count exact (merging (a,b) cannot create or destroy (c,d)
    * adjacencies when {a,b} ∩ {c,d} = ∅) — but this is still a
    * DIFFERENT algorithm from exact BPE: a pair created by an earlier
    * accepted merge (e.g. (x, ab)) can have a count exceeding a later
    * accepted candidate, and exact BPE would pick it first. So the
    * merge LIST can diverge; `batchSize = 1` reduces exactly to
    * [[bpeTrain]] (pinned in TrainingSpec), and the probe records the
    * measured list agreement at real batch sizes. Candidates are
    * over-fetched 4× per round so within-batch rejections don't
    * starve a round.
    */
  def bpeTrainBatched(docs: DataFrame, textCol: String, nMerges: Int,
      batchSize: Int): Seq[(String, Long)] = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    var syms = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wf"))
      .select(col("wf"), charSyms(col("w")).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var done = false
    while (merges.size < nMerges && !done) {
      val adj = when(size(col("syms")) >= 2,
        transform(sequence(lit(1), size(col("syms")) - 1), i =>
          concat(element_at(col("syms"), i), lit(" "),
            element_at(col("syms"), i + 1))))
        .otherwise(array().cast("array<string>"))
      val top = syms.select(col("wf"), explode(adj).as("pair"))
        .groupBy("pair").agg(sum("wf").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(batchSize * 4).collect()
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val room = math.min(batchSize, nMerges - merges.size)
        for (r <- top if batch.size < room) {
          val Array(a, b) = r.getString(0).split(" ", 2)
          if (!used(a) && !used(b)) {
            batch += ((a, b, r.getLong(1)))
            used ++= Seq(a, b, a + b)
          }
        }
        // every over-fetched candidate interacted: fall back to the
        // plain argmax so the round always progresses
        if (batch.isEmpty) {
          val Array(a, b) = top(0).getString(0).split(" ", 2)
          batch += ((a, b, top(0).getLong(1)))
        }
        merges ++= batch.map { case (a, b, c) => (s"$a $b", c) }
        val old = syms
        syms = syms.select(col("wf"),
          batch.foldLeft(col("syms")) { case (c, (a, b, _)) =>
            applyMerge(c, a, b)
          }.as("syms")).localCheckpoint()
        old.unpersist()
      }
    }
    merges.toSeq
  }

  /** Apply a trained merge list to a text column — the corpus-scale
    * ENCODE step: tokenize, explode each token to its character
    * symbols, fold the merges in training order. The merge list is
    * compiled into one nested column expression (nMerges folds deep),
    * so encoding is map-side, codegen-planned, and shuffle-free —
    * train once on the vocab, encode 100 TB with a projection.
    * Returns `array<array<string>>`: per word, its subword symbols.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graftbridge.{BpeApplyMerges, ColumnBridge}
    transform(tokens(text), tok =>
      ColumnBridge.column(BpeApplyMerges(
        ColumnBridge.expression(tok), merges.map(_._1), merges.map(_._2))))
  }

  /** WITHIN-DOCUMENT repeated n-gram collapse — the Dolma/RedPajama
    * "repeated sequence removal" cleaning step (generation loops,
    * "click here click here…" chrome, copy-paste stutter): a token is
    * REMOVED iff it lies inside a block [i, i+n) whose n-gram equals
    * the n-gram starting n positions earlier. Block tests run on
    * ORIGINAL positions and deletions union, so the rule is
    * set-at-a-time (no cascade, no rescan): a chain "AB AB AB" marks
    * blocks at 3 and 5 (each equal to its ORIGINAL predecessor) and
    * collapses to one "AB" in a single pass; the n=1 case reduces to
    * adjacent-duplicate-token dedup. Deterministic, exactly
    * replayable relationally (the oracle joins the gram table to
    * itself at offset n and unions the blocks).
    *
    * Scale shape: map-side only — tokens and grams materialize as
    * real columns BEFORE the per-position lambda (an outer column
    * reference inside a HOF lambda must be an attribute, or the whole
    * upstream expression re-inlines per element — the [[shingles]]
    * lesson), so cost is O(tokens · n) gram compares per doc, inside
    * whole-stage codegen, no shuffle.
    *
    * Returns (idCol, n_removed, clean) — removed token count and the
    * rebuilt text.
    */
  def collapseRepeats(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val base = docs
      .select(col(idCol), tokens(col(textCol)).as("_ts"))
      .select(col(idCol), col("_ts"), shingles(col("_ts"), n).as("_gr"))
    // deleted(p) ⇔ ∃ block start j ∈ [max(n+1, p−n+1), min(p, G)]
    // with gram(j) == gram(j−n); sequence() DESCENDS when hi < lo, so
    // the window is guarded explicitly
    val kept = filter(col("_ts"), (_, p0) => {
      val p = p0 + 1
      val lo = greatest(lit(n + 1), p - n + 1)
      val hi = least(p, size(col("_gr")))
      when(hi >= lo,
        !exists(sequence(lo, hi), j =>
          element_at(col("_gr"), j) === element_at(col("_gr"), j - n)))
        .otherwise(lit(true))
    })
    base.select(col(idCol),
      (size(col("_ts")) - size(kept)).cast("long").as("n_removed"),
      array_join(kept, " ").as("clean"))
  }

  /** Min-frequency MERGE-TABLE PRUNING — the vocab-trim step after
    * BPE training (the SentencePiece prune idea applied to a merge
    * list): a merge earns its vocab slot only if its merged symbol
    * actually SURVIVES in the encoded corpus — an early merge is
    * often consumed whole by later merges (th → the) and surfaces
    * rarely, so shipping it wastes a slot real tokenizers trim.
    * Encode the corpus under the full table, count each merged
    * symbol's corpus occurrences, keep merge (a,b) iff
    * `occ(ab) * 1e6 >= ppm * total_syms` (integer arithmetic — the
    * decision replays exactly in the DuckDB oracle). The pruned list
    * keeps training order; re-encoding under it is deterministic — a
    * kept merge whose input symbol no longer forms (its producer was
    * pruned) simply never fires.
    *
    * Scale shape: ONE corpus pass (the fused [[bpeEncode]] kernel,
    * map-side) feeding a partial-aggregated count of nMerges
    * conditional sums + a total — the exchange is one row of
    * nMerges+1 longs, never a vocab-sized shuffle; the decision is
    * driver-side on the model-sized list, like every trainer here.
    *
    * SPELLING-KEYED counts, deliberately: two merges whose
    * concatenations collide — ('a','bc') and ('ab','c') both spell
    * "abc" — share one occurrence count and one keep/prune decision.
    * That is the semantics a vocab trim wants: the VOCAB SLOT is the
    * spelling (both merges emit the same output token id in any real
    * tokenizer), so the slot earns its keep by total surface
    * frequency regardless of which merge path produced each
    * occurrence. A per-RANK attribution would need one encode pass
    * per merge (nMerges corpus scans) to observe the intermediate
    * states — and would then trim one path of a spelling that
    * overall earns its slot. The DuckDB oracle keys the same way, so
    * the decision replays hash-exactly. (ADVICE round-16 collision
    * note — resolved as documented semantics.)
    */
  def bpePrune(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)], ppm: Long)
      : Seq[(String, String)] = {
    val syms = docs.select(
      explode(flatten(bpeEncode(col(textCol), merges))).as("sym"))
    val aggs = count(lit(1)).as("_total") +:
      merges.zipWithIndex.map { case ((a, b), i) =>
        sum(when(col("sym") === lit(a + b), 1L).otherwise(0L))
          .as(s"_c$i")
      }
    val r = syms.agg(aggs.head, aggs.tail: _*).head()
    val total = r.getLong(0)
    merges.zipWithIndex.collect {
      case (m, i) if r.getLong(i + 1) * 1000000L >= ppm * total => m
    }
  }

  /** The composed-HOF formulation [[bpeEncode]] replaced (kept as the
    * readable reference implementation; ExtensionsSpec pins corpus-
    * wide equality between the two). Why replaced: every
    * [[applyMerge]] is an ArrayAggregate — CodegenFallback, so always
    * interpreted, and its eval copies the accumulator array per
    * element ⇒ O(merges · len²) allocations per token, measured
    * 2.4 ms/doc (q_stream_tokenize paid 12 s per 5000-doc trigger).
    * The fused kernel is one expression, O(merges · len), in-place.
    */
  private[graft] def bpeEncodeComposed(text: Column,
      merges: Seq[(String, String)]): Column =
    transform(tokens(text), tok =>
      merges.foldLeft(charSyms(tok)) { case (arr, (a, b)) =>
        applyMerge(arr, a, b)
      })

  /** Hashing-trick linear scorer — the structural skeleton of a
    * fastText-style model-based quality filter (FineWeb-Edu's scoring
    * stage): each token is hashed into a weight bucket and the
    * document's raw score is the exact integer sum of its tokens'
    * bucket weights. Real deployments load TRAINED weights; this
    * container has no model artifacts, so the weight of bucket b is
    * the deterministic stand-in (b mod 2001) − 1000 ∈ [−1000, 1000],
    * derived from the same md5 hash that picks the bucket — the
    * plumbing (hash → bucket → weight → sum → threshold) is the real,
    * portable part, exercised end-to-end; swapping in learned weights
    * is a broadcast-joined lookup table in place of the arithmetic.
    *
    * Returns the exact integer numerator; callers normalize by
    * 1000·n_tokens for a mean-weight score in [−1, 1] (a single
    * correctly-rounded division, so the double is engine-portable).
    * Map-side only — a per-row array fold, no shuffle.
    */
  def hashedLinearScore(toks: Column, seed: String = "w"): Column =
    aggregate(
      transform(toks, t =>
        conv(substring(md5(concat(lit(s"$seed|"), t).cast("binary")), 1, 8),
          16, 10).cast("long") % 2001 - 1000),
      lit(0L), (acc, x) => acc + x)

  /** SimHash over distinct tokens, `bits` wide (≤32): per bit position
    * k, majority vote of md5-hex-digit high bits (+1/−1), rendered as a
    * '0'/'1' string so the value is engine-portable.
    */
  def simhash(toks: Column, bits: Int): Column = {
    val hs = transform(array_distinct(toks), t => md5(t.cast("binary")))
    val highDigits = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val bitCols = (0 until bits).map { k =>
      val vote = aggregate(hs, lit(0), (acc, h) =>
        acc + when(substring(h, k + 1, 1).isin(highDigits.map(lit(_)): _*), 1)
          .otherwise(-1))
      when(vote > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bitCols: _*)
  }
}
