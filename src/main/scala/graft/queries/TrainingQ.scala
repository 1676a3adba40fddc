package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.{ParquetSchema, Tables}
import graft.ops.{Bloom, Dedup, NgramLm, Overlap, Sample, Similarity, TextOps}

/** Training-data pipeline operators (dedup / similarity / text
  * analysis) over the documents and embeddings tables, each with a
  * DuckDB oracle. Repetitive oracle SQL (minhash signatures, simhash
  * bits) is generated, not hand-written, so Spark and oracle stay in
  * lockstep on the hashing scheme.
  */
object TrainingQ {

  // ---- frozen trained artifacts (graft.io.FrozenStore; the
  // PipelineQ round-13 discipline): one build per (corpus, params),
  // serving faces read the artifact. Deterministic trainers, so
  // frozen == retrained and every oracle replay is unchanged. ----

  /** Frozen BM25 inverted index: postings/df/dl published as parquet
    * artifacts, read back by every serving face (q_bm25_merge keeps
    * building live — shard-build-and-merge IS its semantics).
    */
  private[graft] def frozenBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): graft.ops.Retrieval.Bm25Index =
    graft.io.FrozenStore.memo(s"bm25|$dir") {
      lazy val idx =
        graft.ops.Retrieval.buildIndex(Tables.documents(spark, dir))
      val p = graft.io.FrozenStore.frozenDf(spark, s"bm25p|$dir")(idx.postings)
      val d = graft.io.FrozenStore.frozenDf(spark, s"bm25d|$dir")(idx.df)
      val l = graft.io.FrozenStore.frozenDf(spark, s"bm25l|$dir")(idx.dl)
      graft.ops.Retrieval.Bm25Index(p, d, l, idx.nDocs, idx.avgdl)
    }

  /** Frozen PQ codebook model shared by the decoded-knn and rerank
    * faces (q_ann_pq keeps training live — it times the trainer).
    */
  private[graft] def frozenPqModel(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): graft.ops.Pq.PqModel =
    graft.io.FrozenStore.memo(s"pqm|$dir|2|4|2") {
      graft.ops.Pq.train(Tables.embeddings(spark, dir),
        m = 2, k = 4, iters = 2)
    }

  /** Shared oracle CTEs: whitespace tokens and distinct 3-gram
    * shingles (mirrors TextOps.tokens / TextOps.shingleSet). The
    * `src` variant re-roots the corpus on a derived table — what the
    * upsert face needs, whose oracle corpus is `documents` with the
    * re-crawled slice's text revised in place.
    */
  private def tokCtesOver(src: String): String =
    s"""toks AS (SELECT doc_id, text, lang, n_chars,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
       FROM $src),
       sh AS (SELECT doc_id,
         list_distinct(CASE WHEN len(ts) >= 3
           THEN list_transform(range(1, len(ts) - 1),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
           ELSE CAST([] AS VARCHAR[]) END) AS ss
       FROM toks)"""

  private val tokCtes = tokCtesOver("documents")

  val qDedupExact = Q(
    "q_dedup_exact",
    (spark, dir) =>
      Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")
        .orderBy("rep_id"),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS rep_id,
        count(*) AS n_dups
      FROM documents GROUP BY md5(text) ORDER BY rep_id""")
  )

  /** The apply step of exact dedup: every doc tagged (rep_id, kept,
    * group_size) — the keep/drop list a pipeline actually writes out
    * (see [[graft.ops.Dedup.applyKeep]]).
    */
  val qDedupApply = Q(
    "q_dedup_apply",
    (spark, dir) =>
      Dedup.applyKeep(Tables.documents(spark, dir), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""WITH g AS (SELECT md5(text) AS h, min(doc_id) AS rep_id,
          count(*) AS group_size
        FROM documents GROUP BY md5(text))
      SELECT d.doc_id, g.rep_id, d.doc_id = g.rep_id AS kept,
        g.group_size
      FROM documents d JOIN g ON md5(d.text) = g.h
      ORDER BY d.doc_id""")
  )

  /** Canonicalization dedup (see [[graft.ops.Dedup.exactCanonical]]):
    * normalize-then-hash over a corpus that provably NEEDS it. The
    * synthetic documents table is already canonical (uniform lowercase
    * single-spaced), so the query derives a perturbed twin of every
    * doc inside the query — case flip / space doubling + punctuation /
    * trailing punctuation, keyed on doc_id % 3, reproduced exactly by
    * the oracle — and dedups the union. Canonicalization collapses
    * each (original, perturbed) pair to one group (plus any raw dups),
    * so n_groups == distinct original texts and every group has
    * n_dups ≥ 2; without canonicalize the same corpus yields ~2× the
    * groups (pinned in TrainingSpec). Scale: same one-shuffle shape
    * as q_dedup_exact — canonicalize is a map-side projection.
    */
  val qDedupCanon = Q(
    "q_dedup_canon",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      val pert = when(col("doc_id") % 3 === 0, upper(col("text")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("  "), replace(col("text"), lit(" "), lit("  ")), lit(" !!")))
        .otherwise(concat(col("text"), lit(".")))
      val corpus = docs.select((col("doc_id") * 2).as("doc_id"), col("text"))
        .unionByName(
          docs.select((col("doc_id") * 2 + 1).as("doc_id"), pert.as("text")))
      Dedup.exactCanonical(corpus, "doc_id", "text").orderBy("rep_id")
    },
    Some("""WITH pert AS (SELECT doc_id AS orig_id,
          CASE WHEN doc_id % 3 = 0 THEN upper(text)
               WHEN doc_id % 3 = 1 THEN '  ' || replace(text, ' ', '  ') || ' !!'
               ELSE text || '.' END AS text
        FROM documents),
      corpus AS (SELECT doc_id * 2 AS doc_id, text FROM documents
                 UNION ALL SELECT orig_id * 2 + 1, text FROM pert),
      canon AS (SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 \t\n\r\f]', '', 'g'), '[ \t\n\r\f]+', ' ', 'g')) AS text
        FROM corpus)
      SELECT md5(text) AS text_hash, min(doc_id) AS rep_id, count(*) AS n_dups
      FROM canon GROUP BY md5(text) ORDER BY rep_id""")
  )

  /** Span-level duplicated-trigram coverage per doc (Lee et al.
    * ACL'22 exact-substring signal — see
    * [[graft.ops.Dedup.dupNgramCoverage]]): positions whose shingle
    * appears in ≥2 docs, as count and covered fraction.
    */
  val qDupCoverage = Q(
    "q_dup_coverage",
    (spark, dir) =>
      // no sort barrier: measured neutral (the coverage agg already
      // ends at a shuffle, so the sampler rerun is cheap)
      Dedup.dupNgramCoverage(Tables.documents(spark, dir), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
        shp AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 3
            THEN list_transform(range(1, len(ts) - 1),
                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
            ELSE CAST([] AS VARCHAR[]) END) AS s
        FROM toks),
        df AS (SELECT s, count(DISTINCT doc_id) AS df
          FROM shp GROUP BY s),
        per AS (SELECT doc_id, count(*) AS n_pos,
            CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup
          FROM shp JOIN df USING (s) GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(per.n_pos, 0) AS n_pos,
        coalesce(per.n_dup, 0) AS n_dup,
        CASE WHEN per.n_pos > 0
          THEN CAST(per.n_dup AS DOUBLE) / per.n_pos END AS dup_frac
      FROM documents d LEFT JOIN per USING (doc_id)
      ORDER BY d.doc_id""")
  )

  /** Exact-substring span dedup APPLY (Lee et al. ACL'22 — see
    * [[graft.ops.Dedup.spanDedup]]): q_dup_coverage measures the
    * duplicated-span signal; this excises it. k = 5 tokens; every
    * non-first occurrence (global (doc_id, pos) order) of a
    * duplicated 5-token span loses its covered tokens and documents
    * are rebuilt from the survivors. The oracle's row_number()=1
    * formulation equals the Spark side's min(struct(id, pos)) index
    * because (doc_id, pos) is unique per occurrence. Positions are
    * 1-based on both sides (DuckDB lists and lambda indices are
    * 1-based; the Spark side shifts its 0-based posexplode/filter
    * indices up/down at the edges). Fully linear — no pair join, no
    * frequency cap needed (see the operator scaladoc).
    */
  val qDedupSpan = Q(
    "q_dedup_span",
    (spark, dir) =>
      // excision output is map-side above the last shuffle: barrier
      // the sort (see Catalog.barrierSort)
      Catalog.barrierSort(
        Dedup.spanDedup(Tables.documents(spark, dir), "doc_id", "text",
          k = 5), "doc_id"),
    Some(SpanDedupOracle)
  )

  /** Shared by q_dedup_span and its streaming face
    * q_stream_span_dedup (PipelineQ): the stream is checked to build
    * the SAME first-occurrence index, so both pin one oracle.
    */
  private[queries] lazy val SpanDedupOracle: String =
    """WITH toks AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
        sp0 AS (SELECT doc_id,
          unnest(list_transform(range(1, len(ts) - 3),
            i -> struct_pack(pos := i,
              s := ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
                   ts[i+3] || ' ' || ts[i+4]))) AS sp
        FROM toks),
        spans AS (SELECT doc_id, sp.pos AS pos, sp.s AS s FROM sp0),
        marked AS (SELECT doc_id, pos,
          row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
        FROM spans),
        rm0 AS (SELECT doc_id, pos, unnest(range(0, 5)) AS o
          FROM marked WHERE rn > 1),
        rm AS (SELECT DISTINCT doc_id, pos + o AS tpos FROM rm0),
        rms AS (SELECT doc_id, list(tpos) AS rml FROM rm GROUP BY doc_id)
      SELECT t.doc_id, len(ts) AS n_tokens,
        coalesce(len(rml), 0) AS n_removed,
        coalesce(array_to_string(list_filter(ts,
          (x, i) -> rml IS NULL OR NOT list_contains(rml, i)), ' '), '')
          AS clean_text
      FROM toks t LEFT JOIN rms USING (doc_id)
      ORDER BY t.doc_id"""

  /** Stop-shingle doc-frequency cap, active in the shipped ngram /
    * cluster queries: a shingle occurring in more docs than this is
    * dropped from candidate generation (it creates an O(df²) skewed
    * join group without distinguishing documents). 50 = 10% of docs at
    * sf0.01; the oracle applies the identical cap.
    */
  private val MaxShingleDocFreq = 50

  val qDedupNgram = Q(
    "q_dedup_ngram",
    (spark, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        threshold = 0.8, maxShingleFreq = Some(MaxShingleDocFreq))
        .orderBy("i", "j"),
    Some(s"""WITH $tokCtes,
        shf AS (SELECT DISTINCT doc_id, unnest(ss) AS s FROM sh),
        rare AS (SELECT s FROM shf GROUP BY s
          HAVING count(*) <= $MaxShingleDocFreq),
        shk AS (SELECT doc_id, s FROM shf JOIN rare USING (s)),
        sizes AS (SELECT doc_id, len(ss) AS n FROM sh),
        inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
          FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
      SELECT i, j, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = i
      JOIN sizes sb ON sb.doc_id = j
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
      ORDER BY i, j""")
  )

  /** Prefix-filtered EXACT Jaccard self-join at t = 4/5 (see
    * [[graft.ops.Dedup.ppjoinPairs]]): the cap-free exact answer —
    * unlike q_dedup_ngram's stop-shingle variant no shingle is
    * dropped, so this is the TRUE jaccard ≥ 0.8 pair set; the prefix
    * filter only prunes candidates the threshold already excludes.
    * The oracle brute-forces the shared-shingle join (cheap at oracle
    * SFs) with the same integer cross-multiplied threshold — both
    * engines compare inter·(td+tn) ≥ tn·(ni+nj), doubles appear only
    * in the single reported division.
    */
  val qDedupPpjoin = Q(
    "q_dedup_ppjoin",
    (spark, dir) =>
      Dedup.ppjoinPairs(Tables.documents(spark, dir), "doc_id", "text",
        tNum = 4, tDen = 5)
        .orderBy("i", "j"),
    Some(s"""WITH $tokCtes,
        shf AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        sizes AS (SELECT doc_id, len(ss) AS n FROM sh),
        inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
          FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
      SELECT i, j, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = i
      JOIN sizes sb ON sb.doc_id = j
      WHERE c * 9 >= 4 * (sa.n + sb.n)
      ORDER BY i, j""")
  )

  private val Bands = 4
  private val RowsPerBand = 2
  private val NumHashes = Bands * RowsPerBand

  /** Oracle mirror of Dedup.withMinhashSignature's two-hash family:
    * h_j = (h1 + j·h2) mod 2^56 over the two 56-bit md5 halves.
    */
  private def sqlMinhashSig(j: Int): String =
    s"""list_min(list_transform(ss, s ->
       (CAST('0x' || substring(md5(s), 1, 14) AS BIGINT) +
        $j * CAST('0x' || substring(md5(s), 17, 14) AS BIGINT))
       % ${Dedup.MinhashMod})) AS h$j"""

  val qDedupMinhash = Q(
    "q_dedup_minhash",
    (spark, dir) =>
      Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
        bands = Bands, rowsPerBand = RowsPerBand)
        .orderBy("i", "j"),
    Some {
      val sigExprs = (0 until NumHashes).map(sqlMinhashSig).mkString(", ")
      val bandExprs = (0 until Bands).map(b =>
        s"h${b * RowsPerBand} || '|' || h${b * RowsPerBand + 1} AS b$b").mkString(", ")
      val bandCond = (0 until Bands).map(b => s"a.b$b = c.b$b").mkString(" OR ")
      val nShared = (0 until Bands).map(b =>
        s"(CASE WHEN a.b$b = c.b$b THEN 1 ELSE 0 END)").mkString(" + ")
      val nMatch = (0 until NumHashes).map(j =>
        s"(CASE WHEN a.h$j = c.h$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $tokCtes,
          sig AS (SELECT doc_id, $sigExprs FROM sh),
          b AS (SELECT *, $bandExprs FROM sig)
        SELECT a.doc_id AS i, c.doc_id AS j,
          CAST($nShared AS BIGINT) AS n_shared_bands,
          CAST($nMatch AS DOUBLE) / $NumHashes AS est_jaccard
        FROM b a JOIN b c ON a.doc_id < c.doc_id AND ($bandCond)
        ORDER BY i, j"""
    }
  )

  /** Edit-distance near-dup over LSH candidates (see
    * [[graft.ops.Dedup.editDistanceLshPairs]]), k = 6. The synthetic
    * corpus has exact duplicates but nothing at small POSITIVE edit
    * distance, so the query derives a perturbed twin of every doc
    * (suffix of length 2 / 4 / 6 keyed on doc_id % 3 — barely moves
    * the shingle set, so twins stay LSH-candidates) and runs over the
    * union: distances 0 (duplicate docs' identical twins), 2, 4 and
    * the boundary 6 all appear, and the oracle reproduces corpus,
    * signatures, band join and the ≤ k cut exactly (full DuckDB
    * levenshtein vs Spark's banded threshold DP — same surviving
    * values).
    *
    * Bound: candidate volume is quadratic in duplicate-cluster size —
    * c docs sharing a band key yield c(c−1)/2 pairs, each an
    * edit-distance DP. The sf0.1 floor record shows the imbalance: one
    * task of 1,202 ms, 25.6× the median (`plans/r19/bench_floor_sf0.1.json`).
    */
  val qDedupEditdist = Q(
    "q_dedup_editdist",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      val suffix = when(col("doc_id") % 3 === 0, lit(" x"))
        .when(col("doc_id") % 3 === 1, lit(" xyz"))
        .otherwise(lit(" xy zw"))
      val corpus = docs.select((col("doc_id") * 2).as("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(col("text"), suffix).as("text")))
      // hash-shuffle barrier before the global sort: orderBy's range
      // sampler otherwise RE-EXECUTES the whole candidate+verify
      // pipeline to estimate bounds (measured: 10.6 s → ~6 s at
      // sf0.1 — one full banded-DP pass saved); with the tiny pair
      // table behind an exchange, the sampler reads shuffle files.
      // The same pattern any expensive-to-derive small table wants
      // before a total-order write.
      Dedup.editDistanceLshPairs(corpus, "doc_id", "text",
          bands = Bands, rowsPerBand = RowsPerBand, k = 6)
        .repartition(col("i"))
        .orderBy("i", "j")
    },
    Some {
      val sigExprs = (0 until NumHashes).map(sqlMinhashSig).mkString(", ")
      val bandExprs = (0 until Bands).map(b =>
        s"h${b * RowsPerBand} || '|' || h${b * RowsPerBand + 1} AS b$b").mkString(", ")
      val bandCond = (0 until Bands).map(b => s"a.b$b = c.b$b").mkString(" OR ")
      s"""WITH corpus AS (
            SELECT doc_id * 2 AS doc_id, text FROM documents
            UNION ALL
            SELECT doc_id * 2 + 1,
              text || CASE WHEN doc_id % 3 = 0 THEN ' x'
                           WHEN doc_id % 3 = 1 THEN ' xyz'
                           ELSE ' xy zw' END
            FROM documents),
          toks AS (SELECT doc_id, text,
            list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
          FROM corpus),
          sh AS (SELECT doc_id,
            list_distinct(CASE WHEN len(ts) >= 3
              THEN list_transform(range(1, len(ts) - 1),
                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
              ELSE CAST([] AS VARCHAR[]) END) AS ss
          FROM toks),
          sig AS (SELECT doc_id, $sigExprs FROM sh),
          b AS (SELECT *, $bandExprs FROM sig),
          cand AS (SELECT DISTINCT a.doc_id AS i, c.doc_id AS j
            FROM b a JOIN b c ON a.doc_id < c.doc_id AND ($bandCond))
        SELECT i, j, CAST(levenshtein(ti.text, tj.text) AS BIGINT) AS dist
        FROM cand
        JOIN corpus ti ON ti.doc_id = i
        JOIN corpus tj ON tj.doc_id = j
        WHERE levenshtein(ti.text, tj.text) <= 6
        ORDER BY i, j"""
    }
  )

  private val SimhashBits = 16

  /** Oracle mirror of Dedup.simhashSignature: the generated bit-vote
    * expression plus the two CTEs producing (doc_id, simhash), over
    * token or shingle features (tokCtes supplies both `toks.ts` and
    * `sh.ss`; empty shingle sets yield no signature row, mirroring
    * the explode-drops-empty convention engine-side).
    */
  private def sqlSimhashSigCtes(features: String): String = {
    val bitExprs = (0 until SimhashBits).map { k =>
      s"""(CASE WHEN list_reduce(list_transform(hs,
           h -> CASE WHEN substring(h, ${k + 1}, 1) IN
                ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END),
           (a, b) -> a + b) > 0 THEN '1' ELSE '0' END)"""
    }.mkString(" || ")
    val hh = features match {
      case "tokens" =>
        "SELECT doc_id, list_transform(list_distinct(ts), t -> md5(t)) AS hs FROM toks"
      case "shingles" =>
        "SELECT doc_id, list_transform(ss, s -> md5(s)) AS hs FROM sh WHERE len(ss) > 0"
    }
    s"""hh AS ($hh),
        sig AS (SELECT doc_id, $bitExprs AS simhash FROM hh)"""
  }

  val qDedupSimhash = Q(
    "q_dedup_simhash",
    (spark, dir) =>
      Dedup.simhashBuckets(Tables.documents(spark, dir), "doc_id", "text",
        bits = SimhashBits)
        .orderBy("doc_id"),
    Some(s"""WITH $tokCtes,
          ${sqlSimhashSigCtes("tokens")},
          buckets AS (SELECT simhash, min(doc_id) AS rep_id,
            count(*) AS bucket_size FROM sig GROUP BY simhash)
        SELECT s.doc_id, s.simhash, b.rep_id, b.bucket_size
        FROM sig s JOIN buckets b USING (simhash)
        ORDER BY s.doc_id""")
  )

  private val HammingMax = 2

  /** Hamming-distance simhash near-dup: pairs within distance ≤ 2 of
    * the 16-bit simhash via pigeonhole blocking (distance ≤ d ⇒ some
    * block of d+1 matches exactly) — the graded-similarity face of
    * q_dedup_simhash's exact buckets. Votes come from SHINGLE features:
    * on this corpus's 31-word vocabulary, token-set signatures collapse
    * onto a few values (largest block bucket 2695 of 5000 docs at
    * sf0.1, 11.5M candidates, 4.9M "near-dup" pairs — measured), while
    * order-sensitive shingles spread them (223-max buckets, 1M
    * candidates, 27.6k pairs).
    */
  val qDedupSimhashHam = Q(
    "q_dedup_simhash_ham",
    (spark, dir) =>
      Dedup.simhashHammingPairs(Tables.documents(spark, dir), "doc_id", "text",
        bits = SimhashBits, maxDist = HammingMax)
        .orderBy("i", "j"),
    Some {
      val blocks = Dedup.blockBounds(SimhashBits, HammingMax + 1)
        .zipWithIndex.map { case ((start, len), b) =>
          s"'$b:' || substring(simhash, $start, $len)"
        }.mkString(", ")
      val hamming = (1 to SimhashBits).map(k =>
        s"(CASE WHEN substring(si, $k, 1) <> substring(sj, $k, 1) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $tokCtes,
          ${sqlSimhashSigCtes("shingles")},
          e AS (SELECT doc_id, simhash, unnest([$blocks]) AS bk FROM sig),
          cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
              a.simhash AS si, b.simhash AS sj
            FROM e a JOIN e b ON a.bk = b.bk AND a.doc_id < b.doc_id),
          h AS (SELECT i, j, CAST($hamming AS BIGINT) AS hamming FROM cand)
        SELECT i, j, hamming FROM h WHERE hamming <= $HammingMax
        ORDER BY i, j"""
    }
  )

  /** Markup extraction + boilerplate line filter (see
    * [[graft.ops.TextOps.extractMarkup]]) — the stage BEFORE every
    * text operator in the catalog: crawled pages arrive as markup.
    * The face derives synthetic HTML per document (nav bar with
    * three anchors, heading, the document text as the article
    * paragraph, an entity-bearing paragraph, a link-dense footer)
    * and extracts: block segmentation on block-level tags, anchor
    * counts BEFORE stripping (the link-density signal), tag strip +
    * entity decode + whitespace collapse, then the minWords=3 /
    * anchors·3<words line filter — nav, heading, and footer drop,
    * the article and entity paragraphs survive. The oracle replays
    * every regex/replace/filter step (lookaround-free patterns, so
    * Java regex and DuckDB's RE2 agree; entities via exact string
    * replace). Map-side only — one projection over the scan.
    */
  val qHtmlExtract = Q(
    "q_html_extract",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val html = concat(
        lit("<html><head><title>doc "), col("doc_id"),
        lit("</title></head><body>"),
        lit("<div class=\"nav\"><a href=\"/\">home</a> " +
          "<a href=\"/a\">a</a> <a href=\"/b\">b</a></div>"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1><p>"), col("text"),
        lit("</p><p>Tom &amp; Jo say &quot;hi&quot;</p>"),
        lit("<div class=\"footer\"><a href=\"/c\">contact</a> " +
          "(c) 2024</div></body></html>"))
      docs.select(col("doc_id"),
          graft.ops.TextOps.extractMarkup(html).as("extracted"))
        .withColumn("n_chars_out",
          length(col("extracted")).cast("long"))
        // map-only face: barrier the sort (see Catalog.barrierSort)
        .transform(Catalog.barrierSort(_, "doc_id"))
    },
    Some("""WITH h AS (SELECT doc_id,
        '<html><head><title>doc ' || doc_id || '</title></head><body>'
        || '<div class="nav"><a href="/">home</a> <a href="/a">a</a> <a href="/b">b</a></div>'
        || '<h1>Doc ' || doc_id || '</h1><p>' || text
        || '</p><p>Tom &amp; Jo say &quot;hi&quot;</p>'
        || '<div class="footer"><a href="/c">contact</a> (c) 2024</div></body></html>'
          AS html FROM documents),
      b AS (SELECT doc_id, string_split(regexp_replace(html,
          '</p>|</div>|</li>|</h[1-6]>|<br ?/?>', chr(10), 'g'),
          chr(10)) AS blocks FROM h),
      s AS (SELECT doc_id, list_transform(blocks, x -> struct_pack(
          clean := trim(regexp_replace(
            replace(replace(replace(replace(replace(
              regexp_replace(x, '<[^>]*>', ' ', 'g'),
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              '&#39;', chr(39)), '&amp;', '&'),
            '[ \t\r\f]+', ' ', 'g')),
          anchors := len(string_split(x, '<a ')) - 1)) AS ss FROM b),
      k AS (SELECT doc_id, list_filter(ss, e ->
          (CASE WHEN e.clean = '' THEN 0
            ELSE len(string_split(e.clean, ' ')) END) >= 3
          AND e.anchors * 3 < (CASE WHEN e.clean = '' THEN 0
            ELSE len(string_split(e.clean, ' ')) END)) AS kept FROM s)
      SELECT doc_id,
        array_to_string(list_transform(kept, e -> e.clean), chr(10))
          AS extracted,
        CAST(len(array_to_string(list_transform(kept, e -> e.clean),
          chr(10))) AS BIGINT) AS n_chars_out
      FROM k ORDER BY doc_id""")
  )

  /** URL canonicalization (see [[graft.ops.TextOps.normalizeUrl]]) —
    * the crawl-side dedup key: scheme/host lowercased (path case
    * preserved), www. and scheme-default ports dropped (the ftp arm
    * pins that :80 survives a non-http scheme), trailing slash and
    * fragment dropped, tracking parameters removed, survivors
    * SORTED. The oracle replays every regexp_extract group and the
    * filter/sort chain; three URL shapes derived per document cover
    * the rules.
    */
  val qUrlNorm = Q(
    "q_url_norm",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTP://WWW.Example.COM:80/Path/"), col("doc_id"),
            lit("/?utm_source=x&b=2&a=1#frag")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://Sub.Site.org:443/A/b-"), col("doc_id"),
            lit("?gclid=z&q=1&utm_medium=m")))
        .otherwise(
          concat(lit("ftp://Files.net:80/f/"), col("doc_id")))
      docs.select(col("doc_id"),
          graft.ops.TextOps.normalizeUrl(url).as("url_norm"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN
            'HTTP://WWW.Example.COM:80/Path/' || doc_id || '/?utm_source=x&b=2&a=1#frag'
          WHEN doc_id % 3 = 1 THEN
            'https://Sub.Site.org:443/A/b-' || doc_id || '?gclid=z&q=1&utm_medium=m'
          ELSE 'ftp://Files.net:80/f/' || doc_id END AS url
        FROM documents),
      p AS (SELECT doc_id,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
        regexp_replace(lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 2)), '^www\.', '') AS host1,
        regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 3) AS path0,
        regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 4) AS q0
        FROM u),
      n AS (SELECT doc_id, scheme,
        CASE WHEN scheme = 'http' THEN regexp_replace(host1, ':80$', '')
          WHEN scheme = 'https' THEN regexp_replace(host1, ':443$', '')
          ELSE host1 END AS host,
        CASE WHEN path0 = '' OR path0 = '/' THEN '/'
          ELSE regexp_replace(path0, '/$', '') END AS path,
        list_sort(list_filter(
          string_split(regexp_replace(q0, '^\?', ''), '&'),
          x -> x <> '' AND NOT regexp_matches(x,
            '^(utm_[^=]*|fbclid|gclid)(=|$)'))) AS ps
        FROM p)
      SELECT doc_id, scheme || '://' || host || path ||
        CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&')
          ELSE '' END AS url_norm
      FROM n ORDER BY doc_id""")
  )

  val qTextStats = Q(
    "q_text_stats",
    (spark, dir) => {
      val ts = TextOps.tokens(col("text"))
      Tables.documents(spark, dir)
        .withColumn("ts", ts)
        .select(
          col("doc_id"),
          size(col("ts")).cast("long").as("n_words"),
          size(array_distinct(col("ts"))).cast("long").as("n_uniq"),
          TextOps.totalTokenChars(col("ts")).cast("long").as("total_chars"),
          (TextOps.totalTokenChars(col("ts")).cast("double") / size(col("ts")))
            .as("avg_wlen"),
          (TextOps.stopwordHits(col("ts")).cast("double") / size(col("ts")))
            .as("stop_ratio"),
          col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, lang, n_chars,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents)
      SELECT doc_id,
        CAST(len(ts) AS BIGINT) AS n_words,
        CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
        CAST(list_reduce(list_transform(ts, x -> len(x)), (a, b) -> a + b) AS BIGINT) AS total_chars,
        CAST(list_reduce(list_transform(ts, x -> len(x)), (a, b) -> a + b) AS DOUBLE) / len(ts) AS avg_wlen,
        CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','in','to','is','on'))) AS DOUBLE) / len(ts) AS stop_ratio,
        lang, n_chars
      FROM toks ORDER BY doc_id""")
  )

  val qLangId = Q(
    "q_lang_id",
    (spark, dir) => {
      val ts = TextOps.tokens(col("text"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.langIdHeuristic(ts).as("lang_pred"))
        .withColumn("is_en_match",
          (col("lang") === "en") === (col("lang_pred") === "en"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, lang,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      scored AS (SELECT doc_id, lang,
          len(list_filter(ts, x -> x IN ('the','and','of','a','in'))) AS hits
        FROM toks)
      SELECT doc_id, lang,
        CASE WHEN hits >= 2 THEN 'en' WHEN hits = 1 THEN 'und'
             ELSE 'other' END AS lang_pred,
        (lang = 'en') = (CASE WHEN hits >= 2 THEN 'en' WHEN hits = 1 THEN 'und'
             ELSE 'other' END = 'en') AS is_en_match
      FROM scored ORDER BY doc_id""")
  )

  val qTokenCount = Q(
    "q_token_count",
    (spark, dir) =>
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
            .cast("long").as("n_alpha_tokens"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
            .cast("long").as("n_num_tokens"),
          length(trim(col("text"))).cast("long").as("text_len"),
          col("n_chars"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
        CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_tokens,
        CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens,
        CAST(len(trim(text)) AS BIGINT) AS text_len,
        n_chars
      FROM documents ORDER BY doc_id""")
  )

  /** BPE-budget token accounting: pretokenizer-match counts next to
    * whitespace counts, plus the ratio — the number a data pipeline
    * actually bills against a token budget. Oracle runs the identical
    * regex (no lookarounds ⇒ Java regex and DuckDB's RE2 agree).
    */
  val qTokenBpe = Q(
    "q_token_bpe",
    (spark, dir) =>
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_ws"))
        .withColumn("bpe_per_ws",
          col("n_bpe").cast("double") / col("n_ws"))
        .orderBy("doc_id"),
    Some {
      val pat = TextOps.bpePretokenPattern.replace("'", "''")
      s"""SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe,
        CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS BIGINT) AS n_ws,
        CAST(len(regexp_extract_all(text, '$pat')) AS DOUBLE) /
          len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS bpe_per_ws
      FROM documents ORDER BY doc_id"""
    }
  )

  private val WinnowW = 5

  val qFingerprint = Q(
    "q_fingerprint",
    (spark, dir) => {
      val shRaw = TextOps.shingleList(col("text"), 3)
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          TextOps.winnowFingerprint(shRaw, WinnowW).as("fingerprint"),
          size(shRaw).cast("long").as("n_shingles"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      shraw AS (SELECT doc_id,
          CASE WHEN len(ts) >= 3
            THEN list_transform(range(1, len(ts) - 1),
                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
            ELSE CAST([] AS VARCHAR[]) END AS ss
        FROM toks),
      hashed AS (SELECT doc_id, list_transform(ss, s -> md5(s)) AS hs,
          len(ss) AS n FROM shraw),
      wins AS (SELECT doc_id, n,
          CASE WHEN n >= $WinnowW
            THEN list_transform(range(1, n - ${WinnowW - 1} + 1),
                 i -> list_min(hs[i:i+${WinnowW - 1}]))
            ELSE [list_min(hs)] END AS mins
        FROM hashed)
      SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(mins)), '|')) AS fingerprint,
        CAST(n AS BIGINT) AS n_shingles
      FROM wins ORDER BY doc_id""")
  )

  /** Gopher-style quality gate: length bounds, mean-word-length
    * bounds, stopword-density floor — each rule exposed as its own
    * flag plus the conjunction, so the filter's selectivity per rule
    * is inspectable (the way corpus-quality dashboards want it).
    */
  val qQualityFilter = Q(
    "q_quality_filter",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .withColumn("ts", TextOps.tokens(col("text")))
        .withColumn("n_words", size(col("ts")).cast("long"))
        .withColumn("avg_wlen",
          TextOps.totalTokenChars(col("ts")).cast("double") / size(col("ts")))
        .withColumn("stop_ratio",
          TextOps.stopwordHits(col("ts")).cast("double") / size(col("ts")))
      d.select(col("doc_id"), col("n_words"), col("avg_wlen"), col("stop_ratio"),
          (col("n_words") >= 5 && col("n_words") <= 10000).as("len_ok"),
          (col("avg_wlen") >= 2.0 && col("avg_wlen") <= 12.0).as("wlen_ok"),
          (col("stop_ratio") >= 0.05).as("stop_ok"))
        .withColumn("keep", col("len_ok") && col("wlen_ok") && col("stop_ok"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      m AS (SELECT doc_id,
          CAST(len(ts) AS BIGINT) AS n_words,
          CAST(list_reduce(list_transform(ts, x -> len(x)), (a, b) -> a + b) AS DOUBLE) / len(ts) AS avg_wlen,
          CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','in','to','is','on'))) AS DOUBLE) / len(ts) AS stop_ratio
        FROM toks)
      SELECT doc_id, n_words, avg_wlen, stop_ratio,
        n_words BETWEEN 5 AND 10000 AS len_ok,
        avg_wlen BETWEEN 2.0 AND 12.0 AS wlen_ok,
        stop_ratio >= 0.05 AS stop_ok,
        (n_words BETWEEN 5 AND 10000) AND (avg_wlen BETWEEN 2.0 AND 12.0)
          AND stop_ratio >= 0.05 AS keep
      FROM m ORDER BY doc_id""")
  )

  /** Repetition quality signal (the Gopher-style "fraction of
    * duplicate n-grams" gate): 1 − distinct/total over raw 3-gram
    * shingles, plus the keep flag at the conventional 0.3 cutoff.
    * Pure map-side column math — no shuffle at any scale.
    */
  val qRepetition = Q(
    "q_repetition",
    (spark, dir) => {
      val shRaw = TextOps.shingleList(col("text"), 3)
      Tables.documents(spark, dir)
        .withColumn("ss", shRaw)
        .select(col("doc_id"),
          size(col("ss")).cast("long").as("n_shingles"),
          size(array_distinct(col("ss"))).cast("long").as("n_uniq"))
        .withColumn("dup_ratio",
          when(col("n_shingles") > 0,
            lit(1.0) - col("n_uniq").cast("double") / col("n_shingles"))
            .otherwise(lit(0.0)))
        .withColumn("keep", col("dup_ratio") <= 0.3)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      shraw AS (SELECT doc_id,
          CASE WHEN len(ts) >= 3
            THEN list_transform(range(1, len(ts) - 1),
                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
            ELSE CAST([] AS VARCHAR[]) END AS ss
        FROM toks),
      m AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_shingles,
          CAST(len(list_distinct(ss)) AS BIGINT) AS n_uniq FROM shraw),
      r AS (SELECT doc_id, n_shingles, n_uniq,
          CASE WHEN n_shingles > 0
            THEN 1.0 - CAST(n_uniq AS DOUBLE) / n_shingles
            ELSE CAST(0.0 AS DOUBLE) END AS dup_ratio
        FROM m)
      SELECT doc_id, n_shingles, n_uniq, dup_ratio,
        dup_ratio <= 0.3 AS keep
      FROM r ORDER BY doc_id""")
  )

  /** Repeated n-gram COLLAPSE (the removal counterpart of
    * [[qRepetition]]'s ratio gate — see
    * [[graft.ops.TextOps.collapseRepeats]]): a token is removed iff
    * it lies inside a 3-gram block equal to the block n positions
    * earlier (original coordinates, deletions union — cascade-free,
    * exactly relational). The synthetic corpus has no natural
    * stutter, so every third doc gets its first three tokens appended
    * TWICE (one injected consecutive repeat); the oracle derives the
    * same corpus and replays gram table → offset-n self-join → block
    * union → anti-join rebuild. Map-side only; the sort is the dump's.
    */
  val qRepeatCollapse = Q(
    "q_repeat_collapse",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val f3 = array_join(slice(TextOps.tokens(col("text")), 1, 3), " ")
      val corpus = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat_ws(" ", col("text"), f3, f3))
          .otherwise(col("text")).as("text"))
      TextOps.collapseRepeats(corpus, "doc_id", "text", n = 3)
        .transform(Catalog.barrierSort(_, "doc_id"))
    },
    Some("""WITH toks0 AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts0
        FROM documents),
      corpus AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
          THEN list_concat(ts0, list_concat(ts0[1:3], ts0[1:3]))
          ELSE ts0 END AS ts FROM toks0),
      g AS (SELECT doc_id, i,
          array_to_string(ts[i:i+2], ' ') AS gr
        FROM corpus, unnest(range(1, greatest(len(ts) - 1, 1))) u(i)),
      starts AS (SELECT a.doc_id, a.i FROM g a
        JOIN g b ON b.doc_id = a.doc_id AND b.i = a.i - 3
          AND b.gr = a.gr),
      del AS (SELECT DISTINCT doc_id, i + k AS p
        FROM starts, unnest(range(0, 3)) w(k)),
      tok AS (SELECT doc_id, i AS p, ts[i] AS t
        FROM corpus, unnest(range(1, len(ts) + 1)) u(i)),
      kept AS (SELECT tok.doc_id, tok.p, tok.t FROM tok
        LEFT JOIN del ON del.doc_id = tok.doc_id AND del.p = tok.p
        WHERE del.p IS NULL),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_n,
          array_to_string(list(t ORDER BY p), ' ') AS clean
        FROM kept GROUP BY doc_id),
      tot AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS L FROM corpus)
      SELECT t.doc_id,
        CAST(t.L - coalesce(a.kept_n, 0) AS BIGINT) AS n_removed,
        coalesce(a.clean, '') AS clean
      FROM tot t LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id""")
  )

  /** Token budget per packed training sequence. */
  private val PackSeqLen = 512

  /** Sequence packing: assign each doc to the fixed-token-budget
    * training bin its cumulative token count lands in — contiguous
    * greedy packing in doc order (a doc straddling a boundary belongs
    * to the bin its LAST token fills; real packers then split or pad
    * at materialization). Scale shape: a global running sum would be
    * one sequential partition, so packing runs PER SOURCE SHARD
    * (partitionBy source, order by doc_id) — shards pack in parallel
    * and bin ids are (source, bin), exactly how a sharded corpus packs
    * in practice. One shuffle on source + one sort.
    */
  val qPack = Q(
    "q_pack",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr(s"(cum_tokens - 1) DIV $PackSeqLen"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, source,
          CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, source, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_tokens
        FROM toks)
      SELECT doc_id, source, n_tokens, cum_tokens,
        (cum_tokens - 1) // $PackSeqLen AS bin
      FROM c ORDER BY doc_id""")
  )

  /** Stand-in "evaluation set" for the decontamination check: every
    * 50th doc plays the benchmark whose shingles must not leak into
    * training data.
    */
  private val BenchmarkMod = 50

  /** Benchmark decontamination — the training-pipeline op that flags
    * corpus docs sharing n-grams with an evaluation set. Scale shape:
    * the eval set is TINY relative to the corpus, so its distinct
    * shingle set is BROADCAST and the corpus side streams map-only
    * into the hash join — no corpus shuffle until the (small,
    * hits-only) per-doc count agg. Emits (doc_id, n_shared) for every
    * non-benchmark doc sharing ≥ 1 distinct trigram with the
    * benchmark.
    */
  private val decontaminateOracle =
    s"""WITH $tokCtes,
        shf AS (SELECT DISTINCT doc_id, unnest(ss) AS s FROM sh),
        bench AS (SELECT DISTINCT s FROM shf WHERE doc_id % $BenchmarkMod = 0)
      SELECT doc_id, count(*) AS n_shared
      FROM shf JOIN bench USING (s)
      WHERE doc_id % $BenchmarkMod <> 0
      GROUP BY doc_id ORDER BY doc_id"""

  val qDecontaminate = Q(
    "q_decontaminate",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val sh = docs.select(col("doc_id"),
        explode(TextOps.shingleSet(col("text"))).as("s"))
      val bench = sh.filter(col("doc_id") % BenchmarkMod === 0)
        .select("s").distinct()
      sh.filter(col("doc_id") % BenchmarkMod =!= 0)
        .join(broadcast(bench), Seq("s"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },
    Some(decontaminateOracle)
  )

  /** Decontamination with a [[graft.ops.Bloom]] prefilter — the
    * 100 TB shape of q_decontaminate when the benchmark shingle set
    * outgrows a broadcast hash relation: the bench side folds into a
    * ~MB bit-array sketch, the corpus side drops every shingle the
    * sketch proves absent MAP-SIDE, and only the candidate slice
    * (true hits + ~1 % false positives) reaches the exact join that
    * clears the rest. No false negatives ⇒ the result — and the
    * oracle — are identical to q_decontaminate's.
    */
  val qDecontaminateBloom = Q(
    "q_decontaminate_bloom",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val sh = docs.select(col("doc_id"),
        explode(TextOps.shingleSet(col("text"))).as("s"))
      val bench = sh.filter(col("doc_id") % BenchmarkMod === 0)
        .select("s").distinct()
      // sized ~10× the sf0.1 bench-shingle count: ~300 KB sketch (an
      // oversized 1M-item sketch tripped Spark's 1 MB task-size
      // warning for zero fpp benefit)
      val bloom = Bloom.build(bench, col("s"), expectedItems = 1L << 18)
      sh.filter(col("doc_id") % BenchmarkMod =!= 0)
        .filter(Bloom.mightContain(bloom, col("s")))
        .join(broadcast(bench), Seq("s"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },
    Some(decontaminateOracle)
  )

  private val SampleRateEn = 0.16
  private val SampleRateDefault = 0.8

  /** Deterministic stratified downsampling: dominant-language docs
    * kept at a lower rate than the rest via an md5-prefix threshold —
    * exact and replayable across engines (the oracle applies the
    * identical hash rule), unlike RNG-based `DataFrame.sample`.
    */
  val qSampleStratified = Q(
    "q_sample_stratified",
    (spark, dir) =>
      Sample.stratifiedHash(Tables.documents(spark, dir),
          keyCol = col("doc_id"), strataCol = col("lang"),
          rates = Map("en" -> SampleRateEn), defaultRate = SampleRateDefault,
          seed = "samp")
        .select("doc_id", "lang")
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id, lang FROM documents
      WHERE substring(md5('samp|' || CAST(doc_id AS VARCHAR)), 1, 8) <
        CASE WHEN lang = 'en' THEN '${Sample.thresholdHex(SampleRateEn)}'
             ELSE '${Sample.thresholdHex(SampleRateDefault)}' END
      ORDER BY doc_id""")
  )

  /** Unigram-LM frequency-mass scoring — the quantized stand-in for
    * the perplexity filter of CCNet-style pipelines: train unigram
    * counts on the corpus, score each doc by its mean token
    * log-frequency; gibberish/rare-token documents score LOW and are
    * the filter's catch. True log-prob needs log(), which no two
    * engines round identically — instead each token contributes
    * floor(log2(count)) computed EXACTLY as length(bin(count)) − 1
    * (pure integer ops), and the per-doc mean is a ratio of integers:
    * bit-exact everywhere, same quantization family as the
    * centroid/kmeans integer sums. Scale: token counts are one
    * partial-agged shuffle; the score pass re-explodes and joins the
    * counts table — broadcast here (vocab ≪ corpus; at a 100M+-token
    * vocab it becomes a shuffle join whose 'the'-skew is handled by
    * the count table being PRE-aggregated, one row per token).
    */
  val qLmScore = Q(
    "q_lm_score",
    (spark, dir) =>
      TextOps.lmScore(Tables.documents(spark, dir), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
          unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS tok
        FROM documents),
      c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
      s AS (SELECT doc_id, count(*) AS n_tokens,
          CAST(sum(length(bin(cnt)) - 1) AS BIGINT) AS lm_mass
        FROM t JOIN c USING (tok) GROUP BY doc_id)
      SELECT doc_id, n_tokens, lm_mass,
        CAST(lm_mass AS DOUBLE) / n_tokens AS lm_score
      FROM s ORDER BY doc_id""")
  )

  /** Temperature-T=2 source mixing (see [[Sample.temperatureMixSqrt]]):
    * per-source keep rates √(n_min/n_s) computed FROM the corpus, then
    * the usual deterministic md5-threshold filter. The data-dependent
    * rates are still hash-exact across engines because every float
    * step is one correctly-rounded IEEE op on exact integers.
    */
  val qMixTemperature = Q(
    "q_mix_temperature",
    (spark, dir) =>
      Sample.temperatureMixSqrt(Tables.documents(spark, dir),
          keyCol = col("doc_id"), sourceCol = col("source"), seed = "mix")
        .select("doc_id", "source", "keep_rate")
        .orderBy("doc_id"),
    Some("""WITH counts AS (SELECT source, count(*) AS n_src
          FROM documents GROUP BY source),
      nmin AS (SELECT min(n_src) AS n_min FROM counts),
      rates AS (SELECT source,
          sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE)) AS keep_rate,
          CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE))
            * 4294967296.0) AS BIGINT) AS thresh
        FROM counts, nmin)
      SELECT d.doc_id, d.source, r.keep_rate
      FROM documents d JOIN rates r USING (source)
      WHERE CAST('0x' || substring(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8)
        AS BIGINT) < r.thresh
      ORDER BY doc_id""")
  )

  /** Arbitrary-temperature mixing at T = 3 (see
    * [[graft.ops.Sample.temperatureMixQuantized]]): keep rate
    * (n_min/n_s)^(1/3) quantized to the 2^-32 grid. The threshold is
    * the largest integer t with t³·n_s ≤ 2^96·n_min — Spark finds it
    * by BigInt bit descent on the driver (S rows), the oracle by a
    * recursive-CTE HUGEINT binary search (33 halving steps) — so a
    * pow()-shaped, data-dependent sampling decision is hash-exact
    * cross-engine. TrainingSpec pins the quantized rate within one
    * grid step of the real cube root.
    */
  val qMixTemperatureT = Q(
    "q_mix_temperature_t",
    (spark, dir) =>
      Sample.temperatureMixQuantized(Tables.documents(spark, dir),
          keyCol = col("doc_id"), sourceCol = col("source"), seed = "mixt",
          tNum = 3)
        .select("doc_id", "source", "keep_rate")
        .orderBy("doc_id"),
    Some("""WITH RECURSIVE counts AS (SELECT source, count(*) AS n_src
          FROM documents GROUP BY source),
      nmin AS (SELECT min(n_src) AS n_min FROM counts),
      bs(source, n_src3, rhs, t, step) AS (
        SELECT source, CAST(n_src AS HUGEINT),
          CAST(4294967296 AS HUGEINT) * 4294967296 * 4294967296
            * CAST(n_min AS HUGEINT),
          CAST(0 AS HUGEINT), CAST(4294967296 AS HUGEINT)
        FROM counts, nmin
        UNION ALL
        SELECT source, n_src3, rhs,
          CASE WHEN (t + step) * (t + step) * (t + step) * n_src3 <= rhs
               THEN t + step ELSE t END,
          step // 2
        FROM bs WHERE step >= 1),
      rates AS (SELECT source, CAST(t AS BIGINT) AS thresh,
          CAST(t AS DOUBLE) / 4294967296.0 AS keep_rate
        FROM bs WHERE step = 0)
      SELECT d.doc_id, d.source, r.keep_rate
      FROM documents d JOIN rates r USING (source)
      WHERE CAST('0x' || substring(md5('mixt|' || CAST(doc_id AS VARCHAR)),
        1, 8) AS BIGINT) < r.thresh
      ORDER BY d.doc_id""")
  )

  private val ChunkMax = 64
  private val ChunkOverlap = 16

  /** Sliding-window chunking (see [[TextOps.chunk]]): long docs cut
    * into overlapping 64-token windows, stride 48 — map-side explode,
    * arithmetic n_tokens, every doc ≥ 1 chunk.
    */
  val qChunk = Q(
    "q_chunk",
    (spark, dir) =>
      TextOps.chunk(Tables.documents(spark, dir), "doc_id", "text",
          maxTokens = ChunkMax, overlap = ChunkOverlap)
        .orderBy("doc_id", "chunk_id"),
    Some {
      val stride = ChunkMax - ChunkOverlap
      s"""WITH t AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
        FROM documents),
      n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
      k AS (SELECT doc_id, toks, n,
          CASE WHEN n <= $ChunkMax THEN 1
               ELSE CAST(ceil((n - $ChunkMax) / CAST($stride AS DOUBLE)) AS BIGINT) + 1
          END AS nchunks FROM n),
      u AS (SELECT doc_id, toks, n,
          unnest(generate_series(0, nchunks - 1)) AS chunk_id FROM k)
      SELECT doc_id, chunk_id,
        array_to_string(list_slice(toks, chunk_id * $stride + 1,
          chunk_id * $stride + $ChunkMax), ' ') AS chunk,
        greatest(least($ChunkMax, n - chunk_id * $stride), 0) AS n_tokens
      FROM u ORDER BY doc_id, chunk_id"""
    }
  )

  /** Corpus-level source-overlap matrix: exact pairwise Jaccard
    * between each SOURCE's distinct shingle set — the "which crawl
    * sources duplicate each other" diagnostic that decides dedup order
    * and mixing weights before any doc-level pass. Scale shape: the
    * pair generator is an equality join keyed by shingle whose
    * per-key work is bounded by #sources² (df per shingle ≤ #sources,
    * a SMALL constant — unlike doc-level ngram pairs there is no
    * skewed-df blowup), so total cost is O(shingles·S²) — linear in
    * corpus size.
    */
  val qSourceOverlap = Q(
    "q_source_overlap",
    (spark, dir) =>
      Overlap.exact(Tables.documents(spark, dir), "source", "text")
        .orderBy("sa", "sb"),
    Some("""WITH toks AS (SELECT source,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      shu AS (SELECT source, unnest(list_distinct(CASE WHEN len(ts) >= 3
          THEN list_transform(range(1, len(ts) - 1),
               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
          ELSE CAST([] AS VARCHAR[]) END)) AS s FROM toks),
      d AS (SELECT DISTINCT source, s FROM shu),
      sizes AS (SELECT source, count(*) AS n FROM d GROUP BY source),
      inter AS (SELECT a.source AS sa, b.source AS sb, count(*) AS c
        FROM d a JOIN d b ON a.s = b.s AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT sa, sb, c,
        CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
      FROM inter
      JOIN sizes na ON na.source = sa
      JOIN sizes nb ON nb.source = sb
      ORDER BY sa, sb""")
  )

  private val OverlapK = 256

  /** Sketch-path source-overlap matrix — the 100 TB face of
    * [[qSourceOverlap]]: instead of the exact shingle self-join
    * (O(shingles·S²) and a wide shuffle of every shingle), each
    * source is reduced to a KMV sketch of its shingle-hash set in ONE
    * partial-aggregated pass (≤ k longs per (partition, source) cross
    * the exchange), and every pairwise Jaccard is then estimated
    * driver-free from the S-row sketch table: the k-min union sketch
    * of (A, B) is computable from the two k-min sketches alone, and
    * the fraction of union-sketch members present in BOTH is an
    * unbiased Jaccard estimator (±1/√k). The sketch is deterministic
    * (md5-derived 60-bit hashes, k smallest), so DuckDB reproduces it
    * bit-for-bit and the oracle hash-checks an "approximate"
    * algorithm exactly; accuracy vs the exact matrix is pinned in
    * TrainingSpec.
    */
  val qSourceOverlapKmv = Q(
    "q_source_overlap_kmv",
    (spark, dir) =>
      Overlap.kmvSketch(Tables.documents(spark, dir), "source", "text",
          k = OverlapK)
        .orderBy("sa", "sb"),
    Some(s"""WITH toks AS (SELECT source,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      shu AS (SELECT source, unnest(list_distinct(CASE WHEN len(ts) >= 3
          THEN list_transform(range(1, len(ts) - 1),
               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
          ELSE CAST([] AS VARCHAR[]) END)) AS s FROM toks),
      h AS (SELECT DISTINCT source,
          CAST('0x' || substring(md5('sh|' || s), 1, 15) AS BIGINT) AS h
        FROM shu),
      r AS (SELECT source, h,
          row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
      sk0 AS (SELECT source, list(h ORDER BY h) AS kept
        FROM r WHERE rn <= $OverlapK GROUP BY source),
      srcs AS (SELECT DISTINCT source FROM documents),
      sk AS (SELECT srcs.source,
          COALESCE(sk0.kept, CAST([] AS BIGINT[])) AS kept
        FROM srcs LEFT JOIN sk0 USING (source)),
      pairs AS (SELECT a.source AS sa, a.kept AS ka, b.source AS sb, b.kept AS kb
        FROM sk a JOIN sk b ON a.source < b.source),
      u AS (SELECT sa, sb, ka, kb,
          list_slice(list_sort(list_distinct(list_concat(ka, kb))), 1, $OverlapK) AS un
        FROM pairs),
      c AS (SELECT sa, sb,
          len(list_filter(un, x -> list_contains(ka, x) AND list_contains(kb, x))) AS n_both,
          len(un) AS n_union_kept
        FROM u)
      SELECT sa, sb, n_both, n_union_kept,
        CASE WHEN n_union_kept = 0 THEN 0.0
             ELSE CAST(n_both AS DOUBLE) / n_union_kept END AS j_est
      FROM c ORDER BY sa, sb""")
  )

  private val CapPerSource = 10

  /** Per-source mixing cap: at most N docs per source, keeping the
    * LONGEST first (n_chars as the quality proxy, doc_id tiebreak for
    * a total order) — the domain-rebalancing step that stops one
    * crawl source from dominating the training mix. Ranked cap =
    * window row_number (one shuffle); the unranked alternative and
    * the heavy-hitter pre-prune are [[Sample.stratifiedHash]].
    */
  val qCapSource = Q(
    "q_cap_source",
    (spark, dir) =>
      Sample.capPerGroup(Tables.documents(spark, dir),
          groupCols = Seq(col("source")),
          order = Seq(col("n_chars").desc, col("doc_id")),
          k = CapPerSource)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
          row_number() OVER (PARTITION BY source
                             ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents) t
      WHERE rn <= $CapPerSource ORDER BY doc_id""")
  )

  /** The whole training-data pipeline as ONE query — the composition
    * story: exact dedup (keep group representative) ∩ quality gate
    * (q_quality_filter's predicates) ∩ decontamination (drop eval
    * members and any doc sharing a shingle with them) → ranked
    * per-source cap → sliding-window chunking, emitting the final
    * chunk-level training manifest. Every stage is an
    * already-oracle-verified operator; this pins that they COMPOSE —
    * the plan is still one DAG (no materialization between stages),
    * so Catalyst shares the document scan across the dedup, quality,
    * and shingle branches.
    */
  val qPipelineE2e = Q(
    "q_pipeline_e2e",
    (spark, dir) =>
      graft.ops.Corpus.pipeline(Tables.documents(spark, dir),
          benchmarkMod = BenchmarkMod, capPerSource = CapPerSource,
          chunkMax = ChunkMax, chunkOverlap = ChunkOverlap)
        .orderBy("doc_id", "chunk_id"),
    Some {
      val stride = ChunkMax - ChunkOverlap
      s"""WITH $tokCtes,
        g AS (SELECT md5(text) AS h, min(doc_id) AS rep
          FROM documents GROUP BY md5(text)),
        kept1 AS (SELECT d.doc_id FROM documents d
          JOIN g ON md5(d.text) = g.h AND d.doc_id = g.rep),
        q AS (SELECT doc_id FROM toks WHERE len(ts) BETWEEN 5 AND 10000
          AND CAST(list_reduce(list_transform(ts, x -> len(x)), (a, b) -> a + b)
              AS DOUBLE) / len(ts) BETWEEN 2.0 AND 12.0
          AND CAST(len(list_filter(ts,
              x -> x IN ('the','a','of','and','in','to','is','on')))
              AS DOUBLE) / len(ts) >= 0.05),
        shf AS (SELECT DISTINCT doc_id, unnest(ss) AS s FROM sh),
        bench AS (SELECT DISTINCT s FROM shf WHERE doc_id % $BenchmarkMod = 0),
        contaminated AS (SELECT DISTINCT doc_id FROM shf JOIN bench USING (s)),
        surv AS (SELECT d.doc_id, d.source, d.n_chars, d.text
          FROM documents d
          JOIN kept1 USING (doc_id) JOIN q USING (doc_id)
          WHERE d.doc_id % $BenchmarkMod <> 0
            AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        capped AS (SELECT doc_id, source, text FROM (
          SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS rn FROM surv) t
          WHERE rn <= $CapPerSource),
        ct AS (SELECT doc_id, source,
            list_filter(string_split(trim(text), ' '), x -> x <> '') AS cts
          FROM capped),
        cn AS (SELECT doc_id, source, cts, len(cts) AS n FROM ct),
        ck AS (SELECT doc_id, source, cts, n,
            CASE WHEN n <= $ChunkMax THEN 1
                 ELSE CAST(ceil((n - $ChunkMax) / CAST($stride AS DOUBLE)) AS BIGINT) + 1
            END AS nchunks FROM cn),
        cu AS (SELECT doc_id, source, cts, n,
            unnest(generate_series(0, nchunks - 1)) AS chunk_id FROM ck)
      SELECT doc_id, chunk_id,
        array_to_string(list_slice(cts, chunk_id * $stride + 1,
          chunk_id * $stride + $ChunkMax), ' ') AS chunk,
        greatest(least($ChunkMax, n - chunk_id * $stride), 0) AS n_tokens,
        source
      FROM cu ORDER BY doc_id, chunk_id"""
    }
  )

  /** Oracle fragment: sequential-fold double dot product (mirrors
    * Similarity.dot exactly, including fold order).
    */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (p, q) -> p + q)"

  private val KmeansSeeds = 8
  private val SemDedupTau = 0.3

  /** Seed centroid table: the first K vectors as clusters 0..K-1 —
    * deterministic and oracle-reproducible (a trained codebook swaps
    * in as the same (cluster, cv) shape).
    */
  private def seedCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String) =
    Tables.embeddings(spark, dir).filter(col("vec_id") < KmeansSeeds)
      .select(col("vec_id").as("cluster"), col("embedding").as("cv"))

  /** One k-means assignment step (the Lloyd inner loop / IVF coarse
    * quantizer): argmax-cosine centroid per vector via broadcast +
    * partial max_by — |corpus| rows shuffle, never |corpus|·k.
    */
  val qKmeansAssign = Q(
    "q_kmeans_assign",
    (spark, dir) =>
      Similarity.assignNearest(Tables.embeddings(spark, dir),
          seedCentroids(spark, dir))
        .orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $KmeansSeeds),
      s AS (SELECT vec_id, cluster,
          ${sqlDot("v", "cv")} / sqrt(${sqlDot("v", "v")} * ${sqlDot("cv", "cv")}) AS cosine
        FROM e CROSS JOIN c),
      r AS (SELECT vec_id, cluster, cosine, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM s)
      SELECT vec_id, cluster, cosine FROM r WHERE rn = 1 ORDER BY vec_id""")
  )

  private val KppK = 8
  private val KppRounds = 3
  private val KppL = 16
  private val KppS = 1L << 20

  /** Oracle fragment: the engine-exact squared-L2 between two list
    * columns — |a|² − 2·a·b + |b|², each term the [[sqlDot]] fold,
    * same association order as Similarity.assignNearestL2's
    * `vn - 2.0*dot + cn`.
    */
  private def sqlD2(a: String, b: String): String =
    s"${sqlDot(a, a)} - 2 * ${sqlDot(a, b)} + ${sqlDot(b, b)}"

  /** One k-means‖ oversampling round as CTEs: min-d² against the
    * current candidate set, quantize, exact-long potential, integer
    * coin, union the kept points in.
    */
  private def kppRoundSql(r: Int): String = {
    val p = r - 1
    s"""kd$r AS (SELECT p.vec_id, MIN(${sqlD2("p.v", "c.v")}) AS d2
        FROM e p CROSS JOIN kc$p c GROUP BY p.vec_id),
      kq$r AS MATERIALIZED (SELECT vec_id, CAST(round(d2 * $KppS) AS BIGINT) AS q
        FROM kd$r),
      kf$r AS (SELECT SUM(q) AS phi FROM kq$r),
      kn$r AS (SELECT q.vec_id FROM kq$r q, kf$r
        WHERE CAST(CAST('0x' || substring(md5('kpp|$r|' ||
            CAST(q.vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS HUGEINT) * phi
          < CAST($KppL AS HUGEINT) * q.q * CAST(${1L << 60} AS HUGEINT)),
      kc$r AS MATERIALIZED (SELECT * FROM kc$p UNION ALL
        SELECT e.vec_id, e.v FROM e JOIN kn$r USING (vec_id))"""
  }

  /** One greedy weighted-farthest-first selection step as CTEs: the
    * quantized min-d² of every unchosen candidate to the chosen set,
    * then the (w·d DESC, id ASC) argmax; ku$j accumulates the chosen.
    */
  private def kppSelSql(j: Int): String = {
    val p = j - 1
    s"""ksc$j AS (SELECT c.cid, c.v, c.w,
          MIN(CAST(round(($KppS) * (${sqlD2("c.v", "s.v")})) AS BIGINT)) AS md
        FROM cw c CROSS JOIN ku$p s
        WHERE c.cid NOT IN (SELECT cid FROM ku$p)
        GROUP BY c.cid, c.v, c.w),
      ks$j AS (SELECT cid, v, w FROM ksc$j ORDER BY w * md DESC, cid LIMIT 1),
      ku$j AS MATERIALIZED (SELECT * FROM ku$p UNION ALL SELECT * FROM ks$j)"""
  }

  /** The shared kpp oracle prefix: candidate start → `KppRounds`
    * oversampling rounds → attraction weights → greedy weighted
    * farthest-first selection (ks1..ks`KppK`). Expects an `e`
    * (vec_id, v) CTE in scope; both [[qKmeansPp]] (which reads the
    * selection directly) and [[qAnnIvfKpp]] (which feeds it into the
    * unrolled Lloyd chain as c0) splice this in.
    */
  private def kppChainSql: String =
    s"""kc0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
      ${(1 to KppRounds).map(kppRoundSql).mkString(",\n      ")},
      fa AS (SELECT p.vec_id AS pid, c.vec_id AS cid,
          row_number() OVER (PARTITION BY p.vec_id
            ORDER BY ${sqlD2("p.v", "c.v")}, c.vec_id) AS rn
        FROM e p CROSS JOIN kc$KppRounds c),
      wt AS (SELECT cid, COUNT(*) AS w FROM fa WHERE rn = 1 GROUP BY cid),
      cw AS MATERIALIZED (SELECT c.vec_id AS cid, c.v,
          CAST(COALESCE(wt.w, 0) AS BIGINT) AS w
        FROM kc$KppRounds c LEFT JOIN wt ON wt.cid = c.vec_id),
      ks1 AS (SELECT cid, v, w FROM cw ORDER BY w DESC, cid LIMIT 1),
      ku1 AS MATERIALIZED (SELECT * FROM ks1),
      ${(2 to KppK).map(kppSelSql).mkString(",\n      ")}"""

  /** DETERMINISTIC k-means‖ seeding (Bahmani et al., VLDB'12) — the
    * distance-aware seed selection the first-k-ids trainers skip,
    * derandomized into exact integer arithmetic (quantized potentials,
    * 60-bit md5 coins, integer-product comparisons, greedy weighted
    * farthest-first reduction) so the WHOLE chain — 3 oversampling
    * corpus passes + attraction weighting + 8 selection steps —
    * replays hash-exact in one DuckDB oracle. See
    * [[graft.ops.Similarity.kmeansParInit]] for the scale shape
    * (per-round broadcast assignment + model-sized collects).
    */
  val qKmeansPp = Q(
    "q_kmeanspp",
    (spark, dir) =>
      Similarity.kmeansParInit(Tables.embeddings(spark, dir), KppK,
          rounds = KppRounds, oversample = KppL)
        .select(col("cluster"), col("vec_id"), col("w"))
        .orderBy("cluster"),
    Some(s"""WITH e AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      $kppChainSql,
      fin AS (${(1 to KppK).map(j =>
        s"SELECT CAST(${j - 1} AS BIGINT) AS cluster, cid, w FROM ks$j")
        .mkString("\n        UNION ALL ")})
      SELECT cluster, cid AS vec_id, w FROM fin ORDER BY cluster""")
  )

  /** The trained-IVF build seeded by k-means‖ instead of first-k-ids —
    * the end-to-end wiring of [[qKmeansPp]]'s seeds into
    * [[graft.io.AnnLayout.trainIvf]]: kpp selects the codebook
    * initialization, `TrainedIters` Lloyd rounds refine it, the corpus
    * is written partitioned by the LEARNED label, and the probe runs
    * unchanged. Use this build whenever corpus id order correlates
    * with content or head rows may be duplicates — first-k seeding
    * from identical head vectors can NEVER split its tied centroids
    * (measured: top-cell share 0.40 vs 0.034, PERF.md round-12
    * kpp_seeding). The oracle replays seed selection → Lloyd →
    * assignment → centroid probe → rerank in one chain.
    */
  val qAnnIvfKpp = Q(
    "q_ann_ivf_kpp",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val work = graft.io.FrozenStore.frozenPath(
        s"ivf_kpp|$dir|$KppK|$KppRounds|$KppL|$TrainedIters") { pth =>
        val seeds = Similarity.kmeansParInit(emb, KppK,
          rounds = KppRounds, oversample = KppL).select("cluster", "cv")
        graft.io.AnnLayout.trainIvf(emb, pth, k = KppK,
          iters = TrainedIters, seeds = seeds)
      }
      graft.io.AnnLayout.knnIvf(spark, work,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      $kppChainSql,
      c0 AS (${(1 to KppK).map(j =>
        s"SELECT CAST(${j - 1} AS BIGINT) AS cluster, v AS cv FROM ks$j")
        .mkString("\n        UNION ALL ")}),
      ${(1 to TrainedIters).map(kmeansRoundSql).mkString(",\n      ")},
      sfin AS (SELECT e.vec_id, c.cluster,
          ${sqlDot("e.v", "c.cv")} / sqrt(${sqlDot("e.v", "e.v")} * ${sqlDot("c.cv", "c.cv")}) AS cosine
        FROM e CROSS JOIN c$TrainedIters c),
      rfin AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM sfin),
      lab AS (SELECT vec_id, cluster AS label FROM rfin WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      probe AS (SELECT query_id, qv, c.cluster AS label,
          row_number() OVER (PARTITION BY query_id ORDER BY
            ${sqlDot("qv", "c.cv")} / sqrt(${sqlDot("qv", "qv")} * ${sqlDot("c.cv", "c.cv")}) DESC,
            c.cluster) AS pr
        FROM q CROSS JOIN c$TrainedIters c),
      cand AS (SELECT p.query_id, e.vec_id AS neighbor_id,
          ${sqlDot("p.qv", "e.v")} / sqrt(${sqlDot("p.qv", "p.qv")} * ${sqlDot("e.v", "e.v")}) AS cosine
        FROM (SELECT query_id, qv, label FROM probe WHERE pr <= 2) p
        JOIN lab l ON l.label = p.label JOIN e ON e.vec_id = l.vec_id
        WHERE e.vec_id <> p.query_id),
      rr AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM cand)
      SELECT query_id, rank, neighbor_id, cosine FROM rr
      WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** BM25 ranked retrieval over the inverted index — related-document
    * search with the first 3 docs as queries (their distinct tokens
    * as term sets, self excluded): quantized-idf × exact-rational tf
    * saturation, every score an exact long (see
    * [[graft.ops.Retrieval.bm25Query]] for the derivation and the
    * overflow headroom bound). The oracle replays tokenize → postings
    * → df/dl/N/L → quantized avgdl → per-term integer scores → sum →
    * top-k in one chain; candidates come from the term-equality join
    * (docs sharing ≥1 query term), never a cross join.
    */
  /** Shared oracle for [[qBm25]] and [[qStreamBm25]] — the stream
    * face serves the SAME frozen index, so its per-trigger output
    * replays on the identical SQL.
    */
  /** The shared CTE chain through the sparse (query_id, doc_id,
    * score) table — [[Bm25Oracle]] tops it with rank≤k,
    * [[qDeconQuery]] with a threshold.
    */
  private def bm25Ctes(corpusWhere: String,
      src: String = "documents"): String =
    s"""${tokCtesOver(src)},
      post AS (SELECT doc_id, unnest(ts) AS term FROM toks
        WHERE ($corpusWhere)),
      tfq AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM post GROUP BY 1, 2),
      dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY 1),
      dlq AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks
        WHERE ($corpusWhere)),
      stq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(dl) AS BIGINT) AS l FROM dlq),
      av AS (SELECT n, l // n AS a FROM stq),
      qt AS (SELECT doc_id AS query_id, unnest(list_distinct(ts)) AS term
        FROM toks WHERE doc_id < 3),
      cand AS (SELECT q.query_id, t.doc_id, t.tf, d.df, dlq.dl, av.n, av.a
        FROM qt q JOIN tfq t USING (term) JOIN dft d USING (term)
        JOIN dlq ON dlq.doc_id = t.doc_id CROSS JOIN av
        WHERE t.doc_id <> q.query_id),
      tsc AS (SELECT query_id, doc_id,
          (CAST(length(bin(2 * (n - df) + 1)) - 1 AS BIGINT)
            - CAST(length(bin(2 * df + 1)) - 1 AS BIGINT))
          * ((22 * a * ${1L << 20} * tf) // (10 * a * tf + 3 * a + 9 * dl)) AS s
        FROM cand),
      sc AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS score
        FROM tsc GROUP BY 1, 2)"""

  private lazy val Bm25Ctes: String = bm25Ctes("TRUE")

  /** [[Bm25Oracle]] replayed over an arbitrary corpus derivation
    * (`src` must yield doc_id, text, lang, n_chars — e.g. a
    * subselect revising the re-crawled slice's text in place): the
    * upsert face's oracle, where the engine's corpus is the snapshot
    * store after forget + ingest of revisions.
    */
  private[queries] def bm25OracleOver(src: String): String =
    s"""WITH ${bm25Ctes("TRUE", src)},
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score FROM rk
      WHERE rank <= 5 ORDER BY query_id, rank"""

  private lazy val Bm25Oracle: String = bm25OracleOver("documents")

  /** Decontamination BY QUERY — the retrieval face of the eval-set
    * leak check (complements the n-gram/Bloom overlap faces, which
    * need verbatim token runs; retrieval also surfaces PARAPHRASED
    * leaks sharing rare vocabulary): eval prompts (docs 0–2 standing
    * in) retrieve against the corpus index, and every doc whose BM25
    * score clears the cut is flagged with its hit count and worst
    * (max) score — the audit table a curation run reviews or
    * anti-joins away. The flag is RANK-RELATIVE — the top 1% of each
    * query's candidates (minimum 1) — because an absolute score cut
    * has no portable unit: on this synthetic corpus every term's df
    * exceeds N/2, idf is negative corpus-wide, and any fixed positive
    * cut flags nothing (measured); a production run calibrates an
    * absolute cut on labeled leaks, the face pins the rank-relative
    * replay including the two-window (rank + per-query candidate
    * count) shape.
    */
  val qDeconQuery = Q(
    "q_decon_query",
    (spark, dir) => {
      import graft.ops.Retrieval
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, dir)
      val idx = frozenBm25Index(spark, dir)
      val scored = Retrieval.bm25Scores(idx,
        docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")),
        excludeSelf = true)
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      val wc = Window.partitionBy(col("query_id"))
      scored.withColumn("r", row_number().over(wr))
        .withColumn("nc", count(lit(1)).over(wc))
        .filter(col("r") * 100 <= col("nc") || col("r") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"), max("score").as("max_score"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $Bm25Ctes,
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r,
        COUNT(*) OVER (PARTITION BY query_id) AS nc FROM sc)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        CAST(MAX(score) AS BIGINT) AS max_score
      FROM rk WHERE r * 100 <= nc OR r = 1
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** MAXSCORE-pruned BM25 — [[qBm25]] through
    * [[graft.ops.Retrieval.bm25QueryMaxScore]]: rarest-term phase
    * sets θ, terms whose cumulative positive upper bounds stay under
    * θ become non-essential, and only essential-term postings drive
    * the candidate space (non-essential lists are point-probed by
    * doc_id, never enumerated). Output is EXACTLY [[qBm25]]'s — same
    * oracle, which is the point: the optimization is plan-level, the
    * answer is pinned. On this synthetic corpus every idf is negative
    * so θ < 0 and the operator provably degenerates to the naive
    * plan; the pruning payoff is measured on the Zipf probe corpus.
    */
  val qBm25Pruned = Q(
    "q_bm25_pruned",
    (spark, dir) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(spark, dir)
      val idx = frozenBm25Index(spark, dir)
      // the ub table is an index-time artifact: published once next
      // to df (scaleBits-stamped), probed by every MaxScore call
      val ub = graft.io.FrozenStore.frozenDf(spark, s"bm25ub|$dir|20")(
        Retrieval.termUpperBounds(idx, scaleBits = 20))
      Retrieval.bm25QueryMaxScore(idx,
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 5, excludeSelf = true, ub = ub)
        .orderBy("query_id", "rank")
    },
    Some(Bm25Oracle)
  )

  /** HYBRID lexical+dense retrieval — BM25 top-10 and brute-force
    * cosine top-10 (documents and embeddings share ids) fused by
    * exact-integer reciprocal-rank fusion
    * ([[graft.ops.Retrieval.rrfFuse]]): contribution
    * floorDiv(2^20, 60+rank) per list, summed, top-5 by (rrf DESC,
    * doc_id). RRF composes RANKS, so the incomparable score units
    * (scaled-long BM25 vs double cosine) never meet — which is also
    * what makes the whole hybrid chain hash-exact across engines.
    * The oracle replays both retrievers AND the fusion in one chain.
    */
  /** Shared oracle for [[qHybridRrf]] and [[qStreamHybrid]] — the
    * stream face fuses against the same frozen artifacts, so its
    * per-trigger output replays on the identical SQL.
    */
  private lazy val HybridRrfOracle: String =
    s"""WITH $Bm25Ctes,
      lexr AS (SELECT query_id, doc_id, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r FROM sc),
      lex AS (SELECT query_id, doc_id, ${1L << 20} // (60 + r) AS c
        FROM lexr WHERE r <= 10),
      ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      eq AS (SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id < 3),
      dn AS (SELECT q.query_id, e.vec_id AS doc_id,
          ${sqlDot("q.qv", "e.v")} / sqrt(${sqlDot("q.qv", "q.qv")} * ${sqlDot("e.v", "e.v")}) AS cosine
        FROM eq q CROSS JOIN ev e WHERE e.vec_id <> q.query_id),
      dnr AS (SELECT query_id, doc_id, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS r FROM dn),
      den AS (SELECT query_id, doc_id, ${1L << 20} // (60 + r) AS c
        FROM dnr WHERE r <= 10),
      fu AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf
        FROM (SELECT * FROM lex UNION ALL SELECT * FROM den)
        GROUP BY 1, 2),
      fr AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank FROM fu)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf FROM fr
      WHERE rank <= 5 ORDER BY query_id, rank"""

  val qHybridRrf = Q(
    "q_hybrid_rrf",
    (spark, dir) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val lex = Retrieval.bm25Query(frozenBm25Index(spark, dir),
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 10, excludeSelf = true)
        .select("query_id", "rank", "doc_id")
      val den = Similarity.knnBruteForce(
          emb.filter(col("vec_id") < 3), emb, k = 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id").as("doc_id"))
      Retrieval.rrfFuse(Seq(lex, den), k = 5)
        .orderBy("query_id", "rank")
    },
    Some(HybridRrfOracle)
  )

  /** HYBRID retrieval SERVING — the 26th batch/stream equivalence
    * pin: streaming queries answered by BOTH retrievers against their
    * frozen artifacts (the persisted BM25 postings/df/dl for the
    * lexical half; the embeddings corpus for the dense half) and
    * fused per trigger with the same exact-integer RRF. Per-trigger
    * work: one term-equality probe + one broadcast-queries cosine
    * pass + a fused top-k over two 10-row-per-query lists — no state
    * store, the frozen-artifact serving shape every other pin uses.
    * Same oracle as q_hybrid_rrf — the stream path loses nothing.
    */
  val qStreamHybrid = Q(
    "q_stream_hybrid",
    (spark, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.ops.Retrieval
      val work = java.nio.file.Files
        .createTempDirectory("stream_hybrid").toString
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val frozen = frozenBm25Index(spark, dir)
      val qStream = spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text"))
      val q = qStream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val lex = Retrieval.bm25Query(frozen, batch, k = 10,
              excludeSelf = true)
            .select("query_id", "rank", "doc_id")
          val qemb = emb.join(
            broadcast(batch.select(col("query_id").as("vec_id"))),
            Seq("vec_id"), "left_semi")
          val den = Similarity.knnBruteForce(qemb, emb, k = 10)
            .select(col("query_id"), col("rank").cast("long").as("rank"),
              col("neighbor_id").as("doc_id"))
          Retrieval.rrfFuse(Seq(lex, den), k = 5)
            .write.mode("append").parquet(s"$work/out")
          ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ParquetSchema.read(spark, s"$work/out").orderBy("query_id", "rank")
    },
    Some(HybridRrfOracle)
  )

  val qBm25 = Q(
    "q_bm25",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      graft.ops.Retrieval.bm25Query(frozenBm25Index(spark, dir),
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 5, excludeSelf = true)
        .orderBy("query_id", "rank")
    },
    Some(Bm25Oracle)
  )

  /** Frozen POSITIONAL index (the
    * [[graft.ops.Retrieval.buildPositionalIndex]] artifact) — same
    * build-once discipline as [[frozenBm25Index]]; the phrase face
    * times serving against the at-rest tier, not re-tokenization.
    */
  private[graft] def frozenPositionalIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): graft.ops.Retrieval.PositionalIndex =
    graft.io.FrozenStore.memo(s"bm25pos|$dir") {
      lazy val idx = graft.ops.Retrieval
        .buildPositionalIndex(Tables.documents(spark, dir))
      val p = graft.io.FrozenStore.frozenDf(spark,
        s"bm25posp|$dir")(idx.postings)
      val l = graft.io.FrozenStore.frozenDf(spark,
        s"bm25posl|$dir")(idx.dl)
      graft.ops.Retrieval.PositionalIndex(p, l, idx.nDocs, idx.avgdl)
    }

  /** EXACT-PHRASE retrieval over the positional index (see
    * [[graft.ops.Retrieval.phraseQuery]]): each query is the first
    * three tokens of docs 0-2 as a CONSECUTIVE phrase; matching is
    * the position-list anchor merge (token j at position p proposes
    * start p−j+1; an anchor proposed by all offsets is an
    * occurrence), scoring is the engine's integer BM25 with the
    * phrase as one virtual term (tf = occurrences, df = docs
    * containing the phrase — per query). The oracle replays
    * tokenization → position table → anchor grouping → the identical
    * integer score, so ranks and scores are hash-exact.
    */
  val qBm25Phrase = Q(
    "q_bm25_phrase",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val phrases = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 3), " ")
            .as("text"))
      graft.ops.Retrieval.phraseQuery(
          frozenPositionalIndex(spark, dir), phrases, k = 5)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $tokCtes,
      dlq AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
      stq AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(dl) AS BIGINT) AS l FROM dlq),
      av AS (SELECT n, l // n AS a FROM stq),
      tok AS (SELECT t.doc_id, i AS pos, t.ts[i] AS term
          FROM toks t, unnest(range(1, len(t.ts)+1)) u(i)),
      q AS (SELECT doc_id AS query_id, ts[1:3] AS qts
          FROM toks WHERE doc_id < 3),
      qt AS (SELECT query_id, j AS off, qts[j] AS term
          FROM q, unnest(range(1, len(qts)+1)) v(j)),
      mlen AS (SELECT query_id,
          CAST(count(DISTINCT off) AS BIGINT) AS m FROM qt GROUP BY 1),
      hit AS (SELECT qt.query_id, tok.doc_id,
          tok.pos - qt.off + 1 AS anchor, qt.off
          FROM qt JOIN tok ON tok.term = qt.term),
      occ AS (SELECT h.query_id, h.doc_id, h.anchor
          FROM hit h JOIN mlen m ON m.query_id = h.query_id
          GROUP BY h.query_id, h.doc_id, h.anchor, m.m
          HAVING count(DISTINCT h.off) = m.m),
      tfp AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM occ GROUP BY 1, 2),
      dfp AS (SELECT query_id, CAST(count(*) AS BIGINT) AS dfq
          FROM tfp GROUP BY 1),
      sc AS (SELECT t.query_id, t.doc_id, t.tf,
          (CAST(length(bin(2 * (av.n - f.dfq) + 1)) - 1 AS BIGINT)
            - CAST(length(bin(2 * f.dfq + 1)) - 1 AS BIGINT))
          * ((22 * av.a * ${1L << 20} * t.tf)
             // (10 * av.a * t.tf + 3 * av.a + 9 * dlq.dl)) AS score
        FROM tfp t JOIN dfp f USING (query_id)
        JOIN dlq ON dlq.doc_id = t.doc_id CROSS JOIN av),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, tf, score
      FROM rk WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** STREAMING phrase serving (31st batch/stream equivalence pin):
    * phrase queries arrive as a STREAM and are answered per trigger
    * against the frozen POSITIONAL index ([[frozenPositionalIndex]])
    * through `foreachBatch` + a parquet sink — the [[qStreamBm25]]
    * shape one index tier up: candidate work per trigger is the
    * batch's phrase-term posting lists, no state store, index refresh
    * is an artifact swap. Same oracle as q_bm25_phrase: the stream
    * path must lose nothing — anchors, occurrence counts, integer
    * scores and ranks all hash-equal the batch face.
    */
  val qStreamPhrase = Q(
    "q_stream_phrase",
    (spark, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = java.nio.file.Files
        .createTempDirectory("stream_phrase").toString
      val docs = Tables.documents(spark, dir)
      val frozen = frozenPositionalIndex(spark, dir)
      val qStream = spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 3), " ")
            .as("text"))
      val q = qStream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.ops.Retrieval.phraseQuery(frozen, batch, k = 5)
            .write.mode("append").parquet(s"$work/out")
          ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ParquetSchema.read(spark, s"$work/out").orderBy("query_id", "rank")
    },
    qBm25Phrase.oracle
  )

  /** STREAMING positional-index MAINTENANCE (32nd batch/stream
    * equivalence pin): documents arrive as a stream and the
    * POSITIONAL index accumulates log-structured — each trigger
    * appends its [[graft.ops.Retrieval.positionalFragments]]
    * (postings + dl) plus a 1-row (n, Σdl) meta fragment; reads fold
    * the log with plain union (positions are doc-local and a file
    * stream never splits a document, so each doc's whole position
    * list lands in exactly one fragment) and a trigger-count-sized
    * meta sum — the same sum/sort-merge discipline as the
    * site-boilerplate and paragraph first-occurrence indexes, one
    * index tier up from q_stream_bm25. No state store. Phrase serving
    * against the folded index must equal the batch build: same oracle
    * as q_bm25_phrase — anchors, occurrence counts, integer scores
    * and ranks all hash-equal.
    */
  val qStreamPhraseIndex = Q(
    "q_stream_phrase_index",
    (spark, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.ops.Retrieval
      val work = java.nio.file.Files
        .createTempDirectory("stream_posidx").toString
      val docs = Tables.documents(spark, dir)
      val docStream = spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = docStream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            _: Long) =>
          // each foreachBatch ACTION re-derives its full lineage, so
          // the dl write and the meta aggregate each re-tokenized the
          // batch (round 17); one bounded per-trigger persist shares
          // the tokenize pass between them — still O(batch) work and
          // an O(1)-row meta delta per trigger
          val (post, dl0) = Retrieval.positionalFragments(batch)
          val dl = dl0.persist()
          try {
            post.write.mode("append").parquet(s"$work/post")
            dl.write.mode("append").parquet(s"$work/dl")
            dl.agg(count(lit(1)).as("n"),
                coalesce(sum("dl"), lit(0L)).as("l"))
              .write.mode("append").parquet(s"$work/meta")
          } finally { dl.unpersist(); () }
          ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val meta = ParquetSchema.read(spark, s"$work/meta")
        .agg(coalesce(sum("n"), lit(0L)),
          coalesce(sum("l"), lit(0L))).head()
      val n = meta.getLong(0)
      val pidx = Retrieval.PositionalIndex(
        ParquetSchema.read(spark, s"$work/post"),
        ParquetSchema.read(spark, s"$work/dl"),
        n, Math.floorDiv(meta.getLong(1), math.max(n, 1L)))
      val phrases = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 3), " ")
            .as("text"))
      Retrieval.phraseQuery(pidx, phrases, k = 5)
        .orderBy("query_id", "rank")
    },
    qBm25Phrase.oracle
  )

  /** PROXIMITY retrieval over the same frozen positional index (see
    * [[graft.ops.Retrieval.proxQuery]]): each query is tokens 1, 4
    * and 7 of docs 0-2 — an UNORDERED term set that must co-occur
    * within a 10-token window; tf is the number of MINIMAL INTERVALS
    * of span ≤ 10 (Clarke & Cormack semantics — the crisp exact count
    * the round-16 verdict asked to pin before coding), scored as the
    * engine's integer BM25 with the match as one virtual term. The
    * oracle replays position table → anchor/window pairing → the
    * two-level minimality aggregate → the identical integer score.
    */
  val qBm25Prox = Q(
    "q_bm25_prox",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val ts = TextOps.tokens(col("text"))
      val queries = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", element_at(ts, 1), element_at(ts, 4),
            element_at(ts, 7)).as("text"))
      graft.ops.Retrieval.proxQuery(
          frozenPositionalIndex(spark, dir), queries, w = 10, k = 5)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $tokCtes,
      dlq AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
      stq AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(dl) AS BIGINT) AS l FROM dlq),
      av AS (SELECT n, l // n AS a FROM stq),
      tok AS (SELECT t.doc_id, i AS pos, t.ts[i] AS term
          FROM toks t, unnest(range(1, len(t.ts)+1)) u(i)),
      q AS (SELECT doc_id AS query_id,
          list_distinct(list_filter([ts[1], ts[4], ts[7]],
            x -> x IS NOT NULL)) AS qts
          FROM toks WHERE doc_id < 3),
      qt AS (SELECT query_id, unnest(qts) AS term FROM q),
      mlen AS (SELECT query_id,
          CAST(count(*) AS BIGINT) AS m FROM qt GROUP BY 1),
      hit AS (SELECT qt.query_id, tok.doc_id, qt.term, tok.pos AS p
          FROM qt JOIN tok ON tok.term = qt.term),
      win AS (SELECT a.query_id, a.doc_id, a.p AS a, a.term AS ta,
          h.term, h.p
        FROM hit a JOIN hit h ON h.query_id = a.query_id
          AND h.doc_id = a.doc_id
          AND h.p >= a.p AND h.p < a.p + 10),
      pt AS (SELECT query_id, doc_id, a, ta, term,
          min(p) AS minp,
          min(CASE WHEN term = ta AND p > a THEN p END) AS tan
        FROM win GROUP BY 1, 2, 3, 4, 5),
      occ AS (SELECT p.query_id, p.doc_id, p.a
        FROM pt p JOIN mlen m ON m.query_id = p.query_id
        GROUP BY p.query_id, p.doc_id, p.a, m.m
        HAVING count(*) = m.m
          AND (min(tan) IS NULL OR min(tan) > max(minp))),
      tfp AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM occ GROUP BY 1, 2),
      dfp AS (SELECT query_id, CAST(count(*) AS BIGINT) AS dfq
          FROM tfp GROUP BY 1),
      sc AS (SELECT t.query_id, t.doc_id, t.tf,
          (CAST(length(bin(2 * (av.n - f.dfq) + 1)) - 1 AS BIGINT)
            - CAST(length(bin(2 * f.dfq + 1)) - 1 AS BIGINT))
          * ((22 * av.a * ${1L << 20} * t.tf)
             // (10 * av.a * t.tf + 3 * av.a + 9 * dlq.dl)) AS score
        FROM tfp t JOIN dfp f USING (query_id)
        JOIN dlq ON dlq.doc_id = t.doc_id CROSS JOIN av),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, tf, score
      FROM rk WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** INCREMENTAL index maintenance — build the inverted index on two
    * disjoint corpus shards independently (doc-id parity standing in
    * for "last month's index + this month's batch"), merge the
    * ARTIFACTS exactly ([[graft.ops.Retrieval.mergeIndex]] — postings
    * /dl by union, df by full-outer sum, scalars add; no re-tokenize
    * of the old shard), and query the merged index. Same oracle as
    * q_bm25: merge(build(A), build(B)) must equal build(A∪B) row for
    * row — the shard-and-sum contract q_lm_merge pins for the LM,
    * here for retrieval.
    */
  val qBm25Merge = Q(
    "q_bm25_merge",
    (spark, dir) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(spark, dir)
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      val ia = Retrieval.buildIndex(even)
      val ib = Retrieval.buildIndex(odd)
      val merged = Retrieval.mergeIndex(ia, Retrieval.totalLen(ia),
        ib, Retrieval.totalLen(ib))
      Retrieval.bm25Query(merged,
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 5, excludeSelf = true)
        .orderBy("query_id", "rank")
    },
    Some(Bm25Oracle)
  )

  /** Index TAKEDOWN (see [[graft.ops.Retrieval.removeFromIndex]]) —
    * the takedown batch (doc_id ≡ 0 mod 37, the corpus faces' delete
    * set) is subtracted EXACTLY from a frozen index: postings/dl
    * leave by anti-join, df decrements, scalars subtract — no
    * re-tokenize of the surviving corpus. The oracle builds BM25
    * from scratch over the corpus MINUS the takedown set, so the
    * face pins remove(build(C), D) == build(C \ D) end to end
    * through ranking.
    */
  val qBm25Takedown = Q(
    "q_bm25_takedown",
    (spark, dir) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(spark, dir)
      val idx = Retrieval.buildIndex(docs)
      val (after, _) = Retrieval.removeFromIndex(idx,
        docs.filter(col("doc_id") % 37 === 0).select("doc_id"),
        Retrieval.totalLen(idx))
      Retrieval.bm25Query(after,
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 5, excludeSelf = true)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH ${bm25Ctes("doc_id % 37 <> 0")},
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score FROM rk
      WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** EPOCH-PUBLISHED index serving (the BM25 artifact through
    * [[graft.io.EpochLayout]], closing the TODO left when the
    * flat-FrozenStore publish landed): epoch 1 indexes the full
    * corpus; a reindex after the takedown re-crawl (the %37 delete
    * set) publishes epoch 2 — three parquet tables + a 1-row meta
    * table per epoch, made visible by ONE marker create; the serving
    * path resolves `current()` and answers from the at-rest tables.
    * Correctness teeth: the oracle is the TAKEDOWN corpus's BM25, so
    * a reader resolving the stale epoch (or a publish that leaks a
    * half-written epoch) hash-mismatches through the ranking. At
    * scale the postings table inside an epoch uses the bucketed
    * layout like every other artifact; the epoch adds atomic cutover
    * + retained-snapshot reads on top (EpochSpec pins crash
    * invisibility and GC).
    */
  val qBm25Epoch = Q(
    "q_bm25_epoch",
    (spark, dir) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(spark, dir)
      val root = java.nio.file.Files
        .createTempDirectory("bm25_epoch").toString
      def writeIdx(d: String,
          corpus: org.apache.spark.sql.DataFrame): Unit = {
        val idx = Retrieval.buildIndex(corpus)
        idx.postings.write.parquet(s"$d/postings")
        idx.df.write.parquet(s"$d/df")
        idx.dl.write.parquet(s"$d/dl")
        spark.range(1).select(lit(idx.nDocs).as("n_docs"),
          lit(idx.avgdl).as("avgdl")).write.parquet(s"$d/meta")
      }
      // the two index generations are built ONCE per corpus
      // (FrozenStore templates — immutable files, a copy == the
      // build); each publish installs a copy, so the face times what
      // PUBLICATION costs — install + one marker create + the
      // current() read — not repeated tokenization
      val full = graft.io.FrozenStore.frozenPath(
        s"bm25_epoch_full|$dir")(writeIdx(_, docs))
      val cut = graft.io.FrozenStore.frozenPath(
        s"bm25_epoch_cut|$dir")(
        writeIdx(_, docs.filter(col("doc_id") % 37 =!= 0)))
      graft.io.EpochLayout.publish(spark, root) { d =>
        graft.io.FrozenStore.copyTree(full, d)
      }
      graft.io.EpochLayout.publish(spark, root) { d =>
        graft.io.FrozenStore.copyTree(cut, d)
      }
      val cur = graft.io.EpochLayout.currentOrFail(spark, root)
      val meta = ParquetSchema.read(spark, s"$cur/meta").head()
      val idx = Retrieval.Bm25Index(
        ParquetSchema.read(spark, s"$cur/postings"),
        ParquetSchema.read(spark, s"$cur/df"),
        ParquetSchema.read(spark, s"$cur/dl"),
        meta.getAs[Long]("n_docs"), meta.getAs[Long]("avgdl"))
      Retrieval.bm25Query(idx,
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 5, excludeSelf = true)
        .orderBy("query_id", "rank")
    },
    qBm25Takedown.oracle
  )

  /** Cosine cut for [[qHardNegatives]]'s false-negative filter: the
    * synthetic embeddings put BM25 candidates' cosines in ~[-0.26,
    * 0.20] (measured at sf0.01, median -0.03), so 0.05 drops a real
    * tail (~15%) and keeps the rest — both directions pinned
    * non-vacuous in RetrievalSpec.
    */
  private val HardNegTau = 0.05

  /** HARD-NEGATIVE MINING — the retrieval-training data-prep step
    * (DPR/Contriever recipe): for each training query, the hardest
    * negatives are the LEXICALLY closest non-gold documents (BM25
    * top-k, self excluded), minus the ones an embedding model thinks
    * are semantically near the query (cosine ≥ τ — likely FALSE
    * negatives: unlabeled positives that would poison a contrastive
    * loss). Output: the top-5 surviving negatives per query by BM25
    * score, with both scores for the training manifest.
    *
    * Shape at scale: the candidate set is bounded by k per query
    * BEFORE any embedding work (the BM25 top-k is the existing
    * MaxScore-prunable path), so the cosine stage joins k·|Q| rows
    * against the embedding table by id — a point-join, never a scan
    * of |C| vectors per query; the query-side embeddings broadcast.
    * Exact-arithmetic oracle: integer BM25 scores + the established
    * bit-identical sequential dot (graft_dot == list_reduce).
    */
  val qHardNegatives = Q(
    "q_hard_negatives",
    (spark, dir) => {
      import graft.ops.{Retrieval, Similarity}
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val cands = Retrieval.bm25Query(frozenBm25Index(spark, dir),
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 20, excludeSelf = true)
        .drop("rank")
      val ed = emb.select(col("vec_id").as("doc_id"),
        Similarity.asDouble(col("embedding")).as("dv"))
      // query-side embeddings only (the scaladoc's contract): the
      // broadcast is |Q| vectors, never |C| — the same pushed
      // predicate that defines the query set bounds the fetch
      val eq = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"),
          Similarity.asDouble(col("embedding")).as("qv"))
      val scored = cands.join(ed, "doc_id")
        .join(broadcast(eq), "query_id")
        .withColumn("cosine", Similarity.cosine(col("qv"), col("dv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))
      scored.filter(col("cosine") < HardNegTau)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "doc_id", "score", "cosine")
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH ${bm25Ctes("TRUE")},
      e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      r0 AS (SELECT query_id, doc_id, score, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rr
        FROM sc),
      top AS (SELECT query_id, doc_id, score FROM r0 WHERE rr <= 20),
      jn AS (SELECT t.query_id, t.doc_id, t.score,
          CASE WHEN ${sqlDot("q.v", "q.v")} * ${sqlDot("d.v", "d.v")} = 0
            THEN 0.0
            ELSE ${sqlDot("q.v", "d.v")}
              / sqrt(${sqlDot("q.v", "q.v")} * ${sqlDot("d.v", "d.v")})
          END AS cosine
        FROM top t JOIN e d ON d.vec_id = t.doc_id
          JOIN e q ON q.vec_id = t.query_id),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM jn WHERE cosine < $HardNegTau)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score,
        cosine
      FROM rk WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** RETRIEVAL SERVING — the 25th batch/stream equivalence pin:
    * queries arrive as a STREAM and are answered against a FROZEN
    * persisted inverted index ([[graft.ops.Retrieval.buildIndex]]
    * written once as three plain parquet tables + two scalars — the
    * NgramLm/classifier/ANN frozen-artifact discipline). Per trigger
    * inside `foreachBatch`, the batch's query terms broadcast against
    * the AT-REST postings (term-equality join — candidate work is the
    * batch's term selectivity, never |Q|·|C|), then the same integer
    * scoring + top-k as the batch face. No state store; index
    * refresh is a swap under readers like every other artifact here.
    * Same oracle as q_bm25 — the stream path must lose nothing.
    */
  val qStreamBm25 = Q(
    "q_stream_bm25",
    (spark, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = java.nio.file.Files
        .createTempDirectory("stream_bm25").toString
      val docs = Tables.documents(spark, dir)
      // the shared published index (FrozenStore) — the readers ARE
      // parquet scans of the at-rest artifact
      val frozen = frozenBm25Index(spark, dir)
      val qStream = spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text"))
      val q = qStream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.ops.Retrieval.bm25Query(frozen, batch, k = 5,
              excludeSelf = true)
            .write.mode("append").parquet(s"$work/out")
          ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ParquetSchema.read(spark, s"$work/out").orderBy("query_id", "rank")
    },
    Some(Bm25Oracle)
  )

  private final val Pc1Iters = 3

  /** One power-iteration round as CTEs: exact HUGEINT matvec against
    * the centered scatter, then renormalize to max|v| = 2^20 with
    * truncating division (DuckDB `//` and BigInt `/` agree on
    * negatives — both truncate toward zero — which is what makes the
    * rounds replayable).
    */
  private def pc1RoundSql(t: Int): String =
    s"""pw$t AS (SELECT mm.i AS pos, SUM(mm.mij * v.v) AS w
        FROM mm JOIN pv${t - 1} v ON mm.j = v.pos GROUP BY 1),
      px$t AS (SELECT MAX(ABS(w)) AS mx FROM pw$t),
      pv$t AS (SELECT pos, (w * ${1L << 20}) // mx AS v
        FROM pw$t CROSS JOIN px$t)"""

  /** Dominant principal direction of the embedding corpus —
    * [[graft.ops.Similarity.pc1Power]]'s exact integer power
    * iteration, whole chain unrolled in the oracle: quantized
    * components → one-pass scatter matrix + sums → centered scatter
    * n·S − s·sᵀ in HUGEINT → deterministic max-diagonal start → 3
    * matvec+renormalize rounds. The anisotropy diagnosis face: which
    * direction carries the corpus variance (the centered-sketch
    * story's sequel — [[qAnnBinCentered]] fixes constant bits, this
    * tells you what structure remains).
    */
  val qEmbedPc1 = Q(
    "q_embed_pc1",
    (spark, dir) =>
      Similarity.pc1Power(Tables.embeddings(spark, dir), dims = 64,
          iters = Pc1Iters)
        .orderBy("pos"),
    Some(s"""WITH eq AS (SELECT list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
        FROM embeddings),
      pst AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM eq),
      ppi AS (SELECT q, unnest(list_transform(range(1, len(q) + 1),
          i -> {'i': i - 1, 'qi': q[i]})) AS u FROM eq),
      ppj AS (SELECT u.i AS i, u.qi AS qi,
          unnest(list_transform(range(1, len(q) + 1),
            j -> {'j': j - 1, 'qj': q[j]})) AS w FROM ppi),
      psm AS (SELECT i, w.j AS j,
          CAST(SUM(CAST(qi AS HUGEINT) * w.qj) AS HUGEINT) AS sij
        FROM ppj GROUP BY 1, 2),
      psv AS (SELECT u.i AS i, CAST(SUM(u.qi) AS HUGEINT) AS si
        FROM ppi GROUP BY 1),
      mm AS (SELECT psm.i, psm.j, pst.n * psm.sij - a.si * b.si AS mij
        FROM psm CROSS JOIN pst
        JOIN psv a ON a.i = psm.i JOIN psv b ON b.i = psm.j),
      pd0 AS (SELECT i FROM mm WHERE i = j ORDER BY mij DESC, i LIMIT 1),
      pv0 AS (SELECT i AS pos,
          CAST(CASE WHEN i IN (SELECT i FROM pd0) THEN 1 ELSE 0 END
            AS HUGEINT) AS v FROM psv),
      ${(1 to Pc1Iters).map(pc1RoundSql).mkString(",\n      ")}
      SELECT CAST(pos AS BIGINT) AS pos, CAST(v AS BIGINT) AS v
      FROM pv$Pc1Iters ORDER BY pos""")
  )

  private final val BinDims = 64

  /** Oracle fragment: one 32-bit-packed sign word of the 1-bit
    * sketch — the static CASE unroll [[graft.ops.Similarity.binSketch]]
    * emits, token-for-token (per-term BIGINT casts so DuckDB's +
    * stays BIGINT, never INT32-overflows, never widens to HUGEINT).
    */
  private def binWordSql(w: Int): String =
    (0 until 32).map { b =>
      s"CASE WHEN embedding[${w * 32 + b + 1}] > 0 " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n          + ")

  /** 1-bit sign sketch at rest — the 32× end of the compression
    * spectrum (float32 256 B → q8 64 B → PQ ~12 B → 8 B/vector):
    * sign bits packed 32-per-int64 word, exploded to scalar
    * (vec_id, word_idx, word) rows so the cross-engine hash compares
    * longs, not list types. See [[qAnnBinKnn]] for the search face
    * this sketch feeds.
    */
  val qAnnBin = Q(
    "q_ann_bin",
    (spark, dir) =>
      Similarity.binSketch(Tables.embeddings(spark, dir), BinDims)
        .orderBy("vec_id", "word_idx"),
    Some(s"""WITH s AS (SELECT vec_id,
          ${binWordSql(0)} AS w0,
          ${binWordSql(1)} AS w1 FROM embeddings)
      SELECT vec_id, CAST(0 AS BIGINT) AS word_idx, w0 AS word FROM s
      UNION ALL SELECT vec_id, CAST(1 AS BIGINT), w1 FROM s
      ORDER BY vec_id, word_idx""")
  )

  /** Oracle fragments for the CENTERED sketch: the per-dim quantized
    * mean sums (the kmeansRoundSql integer-mean recipe — float sums
    * would be partition-order-dependent) and the word unroll cutting
    * at mean instead of 0.
    */
  private def binMeanSumsSql: String =
    (1 to BinDims).map(i =>
      s"SUM(CAST(round(CAST(embedding[$i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s$i")
      .mkString(",\n          ") +
      ",\n          CAST(COUNT(*) AS BIGINT) AS nn"

  private def binCenteredWordSql(w: Int): String =
    (0 until 32).map { b =>
      val i = w * 32 + b + 1
      s"CASE WHEN embedding[$i] > CAST(m.s$i AS DOUBLE) / CAST(m.nn * 1000000 AS DOUBLE) " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n          + ")

  /** CENTERED 1-bit sketch — cut each dimension at its QUANTIZED
    * corpus mean instead of 0. Raw sign cuts assume sign-balanced
    * dims; real embedding models are anisotropic (dims with strong
    * non-zero means), and an always-positive dim contributes a
    * constant bit — zero hamming information (measured collapse +
    * recovery: Probe bin_recall_biased). The mean is the exact
    * integer-quantized mean (sum of round(x·10⁶) longs / n·10⁶ — the
    * Lloyd-mean recipe), so the thresholds and every bit cut on them
    * replay identically in the oracle, which re-derives them in its
    * own aggregate CTE.
    */
  val qAnnBinCentered = Q(
    "q_ann_bin_centered",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      Similarity.binSketch(emb, BinDims,
          thresholds = Similarity.binMeans(emb, BinDims))
        .orderBy("vec_id", "word_idx")
    },
    Some(s"""WITH wm AS (SELECT $binMeanSumsSql FROM embeddings),
      s AS (SELECT vec_id,
          ${binCenteredWordSql(0)} AS w0,
          ${binCenteredWordSql(1)} AS w1
        FROM embeddings CROSS JOIN wm m)
      SELECT vec_id, CAST(0 AS BIGINT) AS word_idx, w0 AS word FROM s
      UNION ALL SELECT vec_id, CAST(1 AS BIGINT), w1 FROM s
      ORDER BY vec_id, word_idx""")
  )

  /** Hamming-shortlist ANN over the 1-bit sketch with exact cosine
    * rerank — first pass reads 8 B/vector (the scan that stays in
    * page cache at 100 TB), Σ bit_count(xor) is an EXACT long so the
    * shortlist is engine-portable by construction, and only shortlist
    * rows touch the raw floats (id-equality join). Same two-phase
    * contract as the PQ rerank face; recall-vs-shortlist measured in
    * Probe bin_recall (PERF.md round-12).
    */
  val qAnnBinKnn = Q(
    "q_ann_bin_knn",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      Similarity.knnBinary(emb.filter(col("vec_id") < 10), emb,
          BinDims, k = 5, shortlist = 50)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sk AS (SELECT vec_id,
          ${binWordSql(0)} AS w0,
          ${binWordSql(1)} AS w1 FROM embeddings),
      q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
        FROM sk WHERE vec_id < 10),
      ham AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          CAST(bit_count(xor(q.q0, c.w0)) AS BIGINT)
            + CAST(bit_count(xor(q.q1, c.w1)) AS BIGINT) AS hamming
        FROM q CROSS JOIN sk c WHERE c.vec_id <> q.query_id),
      sh AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS sr
        FROM ham),
      rer AS (SELECT s.query_id, s.neighbor_id, s.hamming,
          ${sqlDot("eq.v", "ec.v")} / sqrt(${sqlDot("eq.v", "eq.v")} * ${sqlDot("ec.v", "ec.v")}) AS cosine
        FROM (SELECT query_id, neighbor_id, hamming FROM sh WHERE sr <= 50) s
        JOIN e eq ON eq.vec_id = s.query_id
        JOIN e ec ON ec.vec_id = s.neighbor_id),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM rer)
      SELECT query_id, rank, neighbor_id, hamming, cosine FROM rk
      WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** SemDeDup: cluster-bucketed semantic dedup — drop a vector iff a
    * smaller-id member of ITS OWN cluster sits at cosine ≥ τ; the
    * equality join on the assigned cluster id is what replaces the
    * all-pairs comparison at scale.
    */
  val qSemDedup = Q(
    "q_semdedup",
    (spark, dir) =>
      Similarity.semDedup(Tables.embeddings(spark, dir),
          seedCentroids(spark, dir), threshold = SemDedupTau)
        .orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $KmeansSeeds),
      s AS (SELECT vec_id, cluster,
          ${sqlDot("v", "cv")} / sqrt(${sqlDot("v", "v")} * ${sqlDot("cv", "cv")}) AS cosine
        FROM e CROSS JOIN c),
      r AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM s),
      a AS (SELECT vec_id, cluster FROM r WHERE rn = 1),
      av AS (SELECT a.vec_id, a.cluster, e.v FROM a JOIN e USING (vec_id)),
      d AS (SELECT DISTINCT y.vec_id FROM av x JOIN av y
        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE ${sqlDot("x.v", "y.v")} / sqrt(${sqlDot("x.v", "x.v")} * ${sqlDot("y.v", "y.v")}) >= $SemDedupTau)
      SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS keep
      FROM a LEFT JOIN d ON a.vec_id = d.vec_id ORDER BY a.vec_id""")
  )

  /** Cluster-bucketed k-NN graph (see
    * [[graft.ops.Similarity.knnGraph]]): every vector's top-3
    * in-cluster neighbors as ranked edges — the primitive SemDeDup
    * collapses to a verdict and CC-based cluster discovery consumes.
    * Same assignment + bucketed-pair machinery as q_semdedup, one
    * extra window for the per-vector rank. The oracle replays
    * assignment, the cluster-equality pair join, and the
    * (cosine DESC, id) rank.
    */
  val qKnnGraph = Q(
    "q_knn_graph",
    (spark, dir) =>
      Similarity.knnGraph(Tables.embeddings(spark, dir),
          seedCentroids(spark, dir), k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("vec_id", "rank"),
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $KmeansSeeds),
      s AS (SELECT vec_id, cluster,
          ${sqlDot("v", "cv")} / sqrt(${sqlDot("v", "v")} * ${sqlDot("cv", "cv")}) AS cosine
        FROM e CROSS JOIN c),
      r AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM s),
      a AS (SELECT vec_id, cluster FROM r WHERE rn = 1),
      av AS (SELECT a.vec_id, a.cluster, e.v FROM a JOIN e USING (vec_id)),
      p AS (SELECT x.vec_id, x.cluster, y.vec_id AS neighbor_id,
          ${sqlDot("x.v", "y.v")} / sqrt(${sqlDot("x.v", "x.v")} * ${sqlDot("y.v", "y.v")}) AS cosine
        FROM av x JOIN av y
        ON x.cluster = y.cluster AND x.vec_id <> y.vec_id),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM p)
      SELECT vec_id, cluster, rank, neighbor_id, cosine FROM rk
      WHERE rank <= 3 ORDER BY vec_id, rank""")
  )

  /** MULTI-PROBE kNN graph (see
    * [[graft.ops.Similarity.knnGraphMultiProbe]], probes = 2): each
    * vector's candidates come from its TWO nearest clusters'
    * primary members — the IVF probe discipline applied to graph
    * construction, closing the cross-cluster blind spot measured in
    * PERF.md round-11 (edge recall 0.22 → 0.33 at probe 2 on
    * structureless data; planted regimes need no probes). The oracle
    * replays the widened assignment (rn ≤ 2), the probe-side ×
    * primary-side cluster join, the pair dedup, and the top-k
    * window.
    */
  val qKnnGraphMp = Q(
    "q_knn_graph_mp",
    (spark, dir) =>
      Similarity.knnGraphMultiProbe(Tables.embeddings(spark, dir),
          seedCentroids(spark, dir), k = 3, probes = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("vec_id", "rank"),
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $KmeansSeeds),
      s AS (SELECT vec_id, cluster,
          ${sqlDot("v", "cv")} / sqrt(${sqlDot("v", "v")} * ${sqlDot("cv", "cv")}) AS cosine
        FROM e CROSS JOIN c),
      r AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM s),
      pr AS (SELECT vec_id, cluster FROM r WHERE rn <= 2),
      a1 AS (SELECT vec_id, cluster FROM r WHERE rn = 1),
      av AS (SELECT a.vec_id, a.cluster, e.v FROM a1 a JOIN e USING (vec_id)),
      pv AS (SELECT p.vec_id, p.cluster, e.v FROM pr p JOIN e USING (vec_id)),
      cand AS (SELECT DISTINCT x.vec_id, y.vec_id AS neighbor_id,
          x.v AS xv, y.v AS yv
        FROM pv x JOIN av y
        ON x.cluster = y.cluster AND x.vec_id <> y.vec_id),
      p AS (SELECT vec_id, neighbor_id,
          ${sqlDot("xv", "yv")} / sqrt(${sqlDot("xv", "xv")} * ${sqlDot("yv", "yv")}) AS cosine
        FROM cand),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM p)
      SELECT rk.vec_id, a1.cluster, rk.rank, rk.neighbor_id, rk.cosine
      FROM rk JOIN a1 USING (vec_id)
      WHERE rk.rank <= 3 ORDER BY rk.vec_id, rk.rank""")
  )

  // ---- product quantization oracle fragments (see graft.ops.Pq):
  // per sub-space, the UNROLLED L2 Lloyd trainer — the
  // q_ann_ivf_trained oracle treatment with the metric swapped to
  // dist² = (vn − 2·dot) + cn (expression order matching
  // Similarity.assignNearestL2 token-for-token) ----

  private def pqSubBaseSql(s: Int, sub: Int, k: Int,
      src: String = "embeddings"): String = {
    val lo = s * sub + 1
    val hi = (s + 1) * sub
    s"""e$s AS (SELECT vec_id,
          list_transform(embedding[$lo:$hi], x -> CAST(x AS DOUBLE)) AS v
        FROM $src),
      en$s AS (SELECT vec_id, v, ${sqlDot("v", "v")} AS vn FROM e$s),
      c${s}_0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, v AS cv
        FROM e$s WHERE vec_id < $k)"""
  }

  private def pqRoundSql(s: Int, i: Int): String = {
    val p = s"c${s}_${i - 1}"
    s"""d${s}_$i AS (SELECT e.vec_id, c.cluster,
          e.vn - 2.0 * ${sqlDot("e.v", "c.cv")} + ${sqlDot("c.cv", "c.cv")} AS dist2
        FROM en$s e CROSS JOIN $p c),
      r${s}_$i AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn FROM d${s}_$i),
      a${s}_$i AS (SELECT vec_id, cluster FROM r${s}_$i WHERE rn = 1),
      x${s}_$i AS (SELECT a.cluster, generate_subscripts(e.v, 1) AS pos,
          unnest(e.v) AS comp
        FROM a${s}_$i a JOIN e$s e USING (vec_id)),
      m${s}_$i AS (SELECT cluster, pos,
          CAST(sum(CAST(round(comp * 1000000.0) AS BIGINT)) AS DOUBLE)
            / (count(*) * 1000000) AS m
        FROM x${s}_$i GROUP BY cluster, pos),
      g${s}_$i AS (SELECT cluster, list(m ORDER BY pos) AS mv
        FROM m${s}_$i GROUP BY cluster),
      c${s}_$i AS (SELECT p.cluster, COALESCE(g.mv, p.cv) AS cv
        FROM $p p LEFT JOIN g${s}_$i g USING (cluster))"""
  }

  /** Final sub-space assignment against the trained codebook plus the
    * label→code remap (codes are positions in sorted-label order).
    */
  private def pqCodeSql(s: Int, iters: Int): String =
    s"""fd$s AS (SELECT e.vec_id, c.cluster,
          e.vn - 2.0 * ${sqlDot("e.v", "c.cv")} + ${sqlDot("c.cv", "c.cv")} AS dist2
        FROM en$s e CROSS JOIN c${s}_$iters c),
      fr$s AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn FROM fd$s),
      lab$s AS (SELECT vec_id, cluster FROM fr$s WHERE rn = 1),
      code$s AS (SELECT cluster,
          CAST(row_number() OVER (ORDER BY cluster) - 1 AS BIGINT) AS code
        FROM c${s}_$iters)"""

  private def pqOracleCtesFrom(src: String): String =
    Seq(pqSubBaseSql(0, 32, 4, src), pqSubBaseSql(1, 32, 4, src),
      pqRoundSql(0, 1), pqRoundSql(0, 2),
      pqRoundSql(1, 1), pqRoundSql(1, 2),
      pqCodeSql(0, 2), pqCodeSql(1, 2)).mkString(",\n      ")

  private def pqOracleCtes: String = pqOracleCtesFrom("embeddings")

  /** PRODUCT-QUANTIZED codes (see [[graft.ops.Pq]]): two 32-dim
    * sub-spaces, each with a deterministically-trained 4-centroid L2
    * codebook (2 Lloyd rounds), every vector replaced by its
    * (code0, code1) pair — 64 floats → 2 small ints at rest. The
    * oracle replays BOTH sub-space trainings unrolled (seeds, L2
    * assignment with the exact (vn − 2·dot) + cn expression shape,
    * integer-quantized exact means, empty-cluster fallback), the
    * final assignments, and the sorted-label code remap — and
    * hash-matches: the strongest-correctness treatment extended from
    * the trained-IVF oracle to PQ.
    */
  val qAnnPq = Q(
    "q_ann_pq",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val model = graft.ops.Pq.train(emb, m = 2, k = 4, iters = 2)
      graft.ops.Pq.encode(emb, model)
        .select(col("vec_id"),
          element_at(col("codes"), 1).cast("long").as("c0"),
          element_at(col("codes"), 2).cast("long").as("c1"))
        .orderBy("vec_id")
    },
    Some(s"""WITH $pqOracleCtes
      SELECT l0.vec_id AS vec_id, k0.code AS c0, k1.code AS c1
      FROM lab0 l0 JOIN code0 k0 ON l0.cluster = k0.cluster
      JOIN lab1 l1 ON l1.vec_id = l0.vec_id
      JOIN code1 k1 ON l1.cluster = k1.cluster
      ORDER BY vec_id""")
  )

  /** Asymmetric PQ top-k (see [[graft.ops.Pq.knnDecoded]]): float
    * queries against the DECODED corpus — each stored code pair
    * reconstructs to its centroid concatenation and the existing dot
    * kernel scores it (the ADC sum realized through decode, so it
    * composes with every kNN operator instead of a parallel scoring
    * path). The oracle decodes through the same trained codebooks
    * (list concatenation of the two sub-centroids) and replays the
    * dot ranking.
    */
  val qAnnPqKnn = Q(
    "q_ann_pq_knn",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val model = frozenPqModel(spark, dir)
      val codes = graft.ops.Pq.encode(emb, model)
      graft.ops.Pq.knnDecoded(emb.filter(col("vec_id") < 10), codes,
          model, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $pqOracleCtes,
      dec AS (SELECT l0.vec_id, c0.cv || c1.cv AS cv
        FROM lab0 l0 JOIN c0_2 c0 ON l0.cluster = c0.cluster
        JOIN lab1 l1 ON l1.vec_id = l0.vec_id
        JOIN c1_2 c1 ON l1.cluster = c1.cluster),
      qf AS (SELECT vec_id AS query_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 10),
      pr AS (SELECT q.query_id, d.vec_id AS neighbor_id,
          ${sqlDot("q.qv", "d.cv")} AS adot
        FROM qf q CROSS JOIN dec d WHERE d.vec_id <> q.query_id),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY adot DESC, neighbor_id) AS rank
        FROM pr)
      SELECT query_id, rank, neighbor_id, adot FROM rk
      WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** Shared oracle for [[qAnnPqRerank]] and [[qAnnPqRerankRest]]:
    * both unrolled sub-space trainings → codes → decode → shortlist
    * ranking → id-join → exact rerank. The at-rest face changes only
    * HOW the float vectors are fetched, never which rows or scores —
    * hence one oracle.
    */
  private lazy val PqRerankOracle: String = s"""WITH $pqOracleCtes,
      dec AS (SELECT l0.vec_id, c0.cv || c1.cv AS cv
        FROM lab0 l0 JOIN c0_2 c0 ON l0.cluster = c0.cluster
        JOIN lab1 l1 ON l1.vec_id = l0.vec_id
        JOIN c1_2 c1 ON l1.cluster = c1.cluster),
      qf AS (SELECT vec_id AS query_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 10),
      pr AS (SELECT q.query_id, d.vec_id AS neighbor_id,
          ${sqlDot("q.qv", "d.cv")} AS adot
        FROM qf q CROSS JOIN dec d WHERE d.vec_id <> q.query_id),
      sl AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY adot DESC, neighbor_id) AS rank
        FROM pr) WHERE rank <= 15),
      ef AS (SELECT vec_id AS neighbor_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings),
      rr AS (SELECT s.query_id, s.neighbor_id,
          ${sqlDot("q.qv", "e.cv")} AS dot
        FROM sl s JOIN ef e USING (neighbor_id)
        JOIN qf q USING (query_id)),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank
        FROM rr)
      SELECT query_id, rank, neighbor_id, dot FROM rk
      WHERE rank <= 5 ORDER BY query_id, rank"""

  /** PQ shortlist + EXACT rerank (see [[graft.ops.Pq.knnRerank]]) —
    * the deployment shape: the 20×-compressed coded table is the
    * only full scan (a 15-deep decoded-dot shortlist here), then
    * only shortlisted ids fetch their float vectors for the exact-dot
    * rerank.
    */
  val qAnnPqRerank = Q(
    "q_ann_pq_rerank",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val model = frozenPqModel(spark, dir)
      val codes = graft.ops.Pq.encode(emb, model)
      graft.ops.Pq.knnRerank(emb.filter(col("vec_id") < 10), codes,
          model, emb, k = 5, shortlist = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(PqRerankOracle)
  )

  /** [[qAnnPqRerank]] with the float fetch against the AT-REST
    * id-sorted corpus (see [[graft.ops.Pq.knnRerankAtRest]]): the
    * shortlist ids reach the parquet scan as pushed per-value
    * equality predicates, so the fetch reads ~one row group per id
    * instead of joining against a full corpus scan — the fetch shape
    * a 100 TB float table requires (byte ratio measured in Probe
    * id_fetch). Same oracle: the at-rest path must return
    * bit-identical reranked rows.
    */
  val qAnnPqRerankRest = Q(
    "q_ann_pq_rerank_rest",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val model = frozenPqModel(spark, dir)
      val codes = graft.ops.Pq.encode(emb, model)
      // the float corpus at rest: range-partitioned + sorted by id,
      // so row-group min/max stats are tight on the fetch key
      val rest = graft.io.FrozenStore.frozenPath(s"emb_rest|$dir") { pth =>
        emb.repartitionByRange(4, col("vec_id"))
          .sortWithinPartitions("vec_id")
          .write.parquet(pth)
      }
      graft.ops.Pq.knnRerankAtRest(spark, emb.filter(col("vec_id") < 10),
          codes, model, rest, k = 5, shortlist = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(PqRerankOracle)
  )

  /** IVF-PQ (see [[graft.io.AnnLayout.trainIvfPq]]): trained coarse
    * quantizer partitions the corpus, product-quantized codes at
    * rest, cosine probe of the float reps, decoded-dot ranking over
    * ONLY the probed partitions — pruning × compression. The oracle
    * chains the unrolled coarse Lloyd rounds, BOTH unrolled PQ
    * sub-space trainings, the final assignments, decode, the probe
    * ranking, and the decoded scoring in one DuckDB replay — the
    * largest chained oracle in the catalog, every stage
    * arithmetic-exact.
    */
  val qAnnIvfPq = Q(
    "q_ann_ivf_pq",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val work = graft.io.FrozenStore.frozenPath(
        s"ivf_pq|$dir|$TrainedK|$TrainedIters") { pth =>
        graft.io.AnnLayout.trainIvfPq(emb, pth, kCoarse = TrainedK,
          itersCoarse = TrainedIters, pqM = 2, pqK = 4, pqIters = 2)
      }
      graft.io.AnnLayout.knnIvfPq(spark, work,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, v AS cv
        FROM e ORDER BY vec_id LIMIT $TrainedK),
      ${(1 to TrainedIters).map(kmeansRoundSql).mkString(",\n      ")},
      sf AS (SELECT e.vec_id, c.cluster,
          ${sqlDot("e.v", "c.cv")} / sqrt(${sqlDot("e.v", "e.v")} * ${sqlDot("c.cv", "c.cv")}) AS cosine
        FROM e CROSS JOIN c$TrainedIters c),
      rf AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM sf),
      lab AS (SELECT vec_id, cluster AS label FROM rf WHERE rn = 1),
      $pqOracleCtes,
      dec AS (SELECT l0.vec_id, c0.cv || c1.cv AS cv
        FROM lab0 l0 JOIN c0_2 c0 ON l0.cluster = c0.cluster
        JOIN lab1 l1 ON l1.vec_id = l0.vec_id
        JOIN c1_2 c1 ON l1.cluster = c1.cluster),
      qq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      probe AS (SELECT query_id, qv, c.cluster AS label,
          row_number() OVER (PARTITION BY query_id ORDER BY
            ${sqlDot("qv", "c.cv")} / sqrt(${sqlDot("qv", "qv")} * ${sqlDot("c.cv", "c.cv")}) DESC,
            c.cluster) AS pr
        FROM qq CROSS JOIN c$TrainedIters c),
      cand AS (SELECT p.query_id, l.vec_id AS neighbor_id,
          ${sqlDot("p.qv", "d.cv")} AS adot
        FROM (SELECT query_id, qv, label FROM probe WHERE pr <= 2) p
        JOIN lab l ON l.label = p.label
        JOIN dec d ON d.vec_id = l.vec_id
        WHERE l.vec_id <> p.query_id),
      rr AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY adot DESC, neighbor_id) AS rank
        FROM cand)
      SELECT query_id, rank, neighbor_id, adot FROM rr
      WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  private def prBase: Long = Math.floorDiv(15L << 32, 100L)

  /** One unrolled integer power-iteration round for the q_pagerank
    * oracle: per-edge share = exact integer division of the source's
    * fixed-point rank by its out-degree, exact long inbound sum, the
    * damped update with the same floor divisions GraphOps.pageRank
    * computes (all quantities non-negative, so DuckDB's `//` ==
    * Spark's `div` == floorDiv).
    */
  private def prRoundSql(i: Int): String = {
    val p = s"pr${i - 1}"
    s"""pc$i AS (SELECT e.dst, CAST(SUM(r.r // d.d) AS BIGINT) AS ins
        FROM pedges e JOIN $p r ON r.id = e.src
        JOIN pdeg d ON d.src = e.src
        GROUP BY e.dst),
      pr$i AS (SELECT n.id, CAST($prBase AS BIGINT)
          + (85 * COALESCE(c.ins, 0)) // 100 AS r
        FROM pnodes n LEFT JOIN pc$i c ON c.dst = n.id)"""
  }

  /** Deterministic integer PageRank over the cluster-bucketed kNN
    * graph (see [[graft.ops.GraphOps.pageRank]]): the kmeans
    * quantization recipe applied to power iteration — fixed-point
    * long ranks, floorDiv edge shares, exact long inbound sums — so
    * the ENTIRE 3-round iteration replays unrolled in DuckDB on top
    * of the replayed graph construction and hash-matches. The
    * centrality signal link-analysis curation ranks documents by.
    */
  val qPagerank = Q(
    "q_pagerank",
    (spark, dir) => {
      val edges = Similarity.knnGraph(Tables.embeddings(spark, dir),
          seedCentroids(spark, dir), k = 3)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.ops.GraphOps.pageRank(edges, iters = 3).orderBy("id")
    },
    Some(s"""WITH $prChainSql
      SELECT id, r FROM pr3 ORDER BY id""")
  )

  /** Shared CTE chain of q_pagerank and q_rank_sample: kNN-graph
    * construction replay + 3 unrolled integer power-iteration rounds
    * ending at `pr3 (id, r)`.
    */
  private def prChainSql: String = s"""e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $KmeansSeeds),
      s AS (SELECT vec_id, cluster,
          ${sqlDot("v", "cv")} / sqrt(${sqlDot("v", "v")} * ${sqlDot("cv", "cv")}) AS cosine
        FROM e CROSS JOIN c),
      r AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM s),
      a AS (SELECT vec_id, cluster FROM r WHERE rn = 1),
      av AS (SELECT a.vec_id, a.cluster, e.v FROM a JOIN e USING (vec_id)),
      p AS (SELECT x.vec_id, x.cluster, y.vec_id AS neighbor_id,
          ${sqlDot("x.v", "y.v")} / sqrt(${sqlDot("x.v", "x.v")} * ${sqlDot("y.v", "y.v")}) AS cosine
        FROM av x JOIN av y
        ON x.cluster = y.cluster AND x.vec_id <> y.vec_id),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM p),
      pedges AS (SELECT vec_id AS src, neighbor_id AS dst
        FROM rk WHERE rank <= 3),
      pnodes AS (SELECT DISTINCT id FROM
        (SELECT src AS id FROM pedges UNION ALL SELECT dst FROM pedges)),
      pdeg AS (SELECT src, COUNT(*) AS d FROM pedges GROUP BY src),
      pr0 AS (SELECT id, CAST(${1L << 32} AS BIGINT) AS r FROM pnodes),
      ${(1 to 3).map(prRoundSql).mkString(",\n      ")}"""

  private val RankSampleSeed = "rs0"
  private val RankSampleK = 40

  /** CENTRALITY-WEIGHTED corpus sampling — link-analysis curation
    * (the harmonic-centrality seed-ranking idea of CCNet/RefinedWeb
    * crawl curation, run on the in-corpus similarity graph): PageRank
    * over the kNN graph ([[graft.ops.GraphOps.pageRank]]) becomes the
    * sampling weight of the deterministic Efraimidis–Spirakis sample
    * ([[graft.ops.Sample.weightedSample]]) — central, well-connected
    * documents are proportionally more likely to be kept. The rank →
    * weight map is a FIXED integer quantization, w = min(64,
    * 1 + r div 2^30) (fixed-point ranks sit at the 2^32 scale, so
    * ordinary mass ⇒ w ≈ 5 and hubs saturate the cap) — no
    * data-dependent scalars, so the whole chain graph → 3 power
    * rounds → weights → max-of-w-draws priorities → top-k replays in
    * ONE DuckDB oracle, hash-exact. Scale shape: pageRank is linear
    * per round, the weight map and draws are map-side, and the sample
    * is one bounded-state topKBy pass — no global sort anywhere.
    */
  val qRankSample = Q(
    "q_rank_sample",
    (spark, dir) => {
      // frozen centrality artifact (the table q_pagerank computes
      // live): link-analysis scores are a published per-corpus
      // artifact in a real curation run, re-derived only when the
      // graph changes
      val ranks = graft.io.FrozenStore.frozenDf(spark, s"pr|$dir|3|3") {
        val edges = Similarity.knnGraph(Tables.embeddings(spark, dir),
            seedCentroids(spark, dir), k = 3)
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
        graft.ops.GraphOps.pageRank(edges, iters = 3)
      }
      Sample.weightedSample(ranks, col("id"),
          least(lit(64), lit(1L) + expr(s"r div ${1L << 30}")),
          k = RankSampleK, seed = RankSampleSeed)
        .orderBy("rank")
    },
    Some(s"""WITH $prChainSql,
      wt AS (SELECT id, LEAST(64, 1 + r // ${1L << 30}) AS w FROM pr3),
      wd AS (SELECT id, unnest(range(1, w + 1)) AS j FROM wt),
      wh AS (SELECT id, CAST('0x' || substring(md5('$RankSampleSeed|' ||
          CAST(id AS VARCHAR) || '|' || CAST(j AS VARCHAR)), 1, 13)
          AS BIGINT) AS hv FROM wd),
      wp AS (SELECT id, max(hv) AS priority FROM wh GROUP BY id),
      wr AS (SELECT id, priority,
          row_number() OVER (ORDER BY priority DESC, id) AS rank FROM wp)
      SELECT rank, id, priority FROM wr WHERE rank <= $RankSampleK
      ORDER BY rank""")
  )

  /** RESIDUAL IVF-PQ (see [[graft.io.AnnLayout.trainIvfPq]] with
    * `residual = true`): the classic refinement — quantize
    * x − coarseCentroid(x), decode centroid + residual. Measured
    * reason to exist: direct decoded recall 0.15 → 0.33 at equal
    * bits on clustered data (PERF.md round-11 pq). The oracle adds
    * the residual-table derivation between the coarse chain and the
    * PQ chains, and the centroid-add in scoring — still one DuckDB
    * replay, hash-exact.
    */
  val qAnnIvfPqRes = Q(
    "q_ann_ivf_pq_res",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val work = graft.io.FrozenStore.frozenPath(
        s"ivf_pq_res|$dir|$TrainedK|$TrainedIters") { pth =>
        graft.io.AnnLayout.trainIvfPq(emb, pth, kCoarse = TrainedK,
          itersCoarse = TrainedIters, pqM = 2, pqK = 4, pqIters = 2,
          residual = true)
      }
      graft.io.AnnLayout.knnIvfPq(spark, work,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, v AS cv
        FROM e ORDER BY vec_id LIMIT $TrainedK),
      ${(1 to TrainedIters).map(kmeansRoundSql).mkString(",\n      ")},
      sf AS (SELECT e.vec_id, c.cluster,
          ${sqlDot("e.v", "c.cv")} / sqrt(${sqlDot("e.v", "e.v")} * ${sqlDot("c.cv", "c.cv")}) AS cosine
        FROM e CROSS JOIN c$TrainedIters c),
      rf AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM sf),
      lab AS (SELECT vec_id, cluster AS label FROM rf WHERE rn = 1),
      rsrc AS (SELECT e.vec_id,
          list_transform(list_zip(e.v, c.cv), x -> x[1] - x[2]) AS embedding
        FROM e JOIN lab l ON l.vec_id = e.vec_id
        JOIN c$TrainedIters c ON c.cluster = l.label),
      ${pqOracleCtesFrom("rsrc")},
      dec AS (SELECT l0.vec_id, c0.cv || c1.cv AS cv
        FROM lab0 l0 JOIN c0_2 c0 ON l0.cluster = c0.cluster
        JOIN lab1 l1 ON l1.vec_id = l0.vec_id
        JOIN c1_2 c1 ON l1.cluster = c1.cluster),
      full_dec AS (SELECT d.vec_id,
          list_transform(list_zip(c.cv, d.cv), x -> x[1] + x[2]) AS cv
        FROM dec d JOIN lab l ON l.vec_id = d.vec_id
        JOIN c$TrainedIters c ON c.cluster = l.label),
      qq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      probe AS (SELECT query_id, qv, c.cluster AS label,
          row_number() OVER (PARTITION BY query_id ORDER BY
            ${sqlDot("qv", "c.cv")} / sqrt(${sqlDot("qv", "qv")} * ${sqlDot("c.cv", "c.cv")}) DESC,
            c.cluster) AS pr
        FROM qq CROSS JOIN c$TrainedIters c),
      cand AS (SELECT p.query_id, l.vec_id AS neighbor_id,
          ${sqlDot("p.qv", "d.cv")} AS adot
        FROM (SELECT query_id, qv, label FROM probe WHERE pr <= 2) p
        JOIN lab l ON l.label = p.label
        JOIN full_dec d ON d.vec_id = l.vec_id
        WHERE l.vec_id <> p.query_id),
      rr AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY adot DESC, neighbor_id) AS rank
        FROM cand)
      SELECT query_id, rank, neighbor_id, adot FROM rr
      WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** Incremental SemDeDup (see
    * [[graft.ops.Similarity.semDedupIncremental]]): vec_id % 5 == 0 is
    * the arriving batch, the rest the at-rest corpus, seeds the shared
    * codebook. The oracle replays assignment for BOTH sides and the
    * cluster-bucketed new-vs-corpus comparison; keep = no corpus
    * cluster-mate at cosine ≥ τ.
    */
  /** Shared by the batch and streaming incremental-SemDeDup faces:
    * replays assignment for BOTH sides and the cluster-bucketed
    * new-vs-corpus comparison; keep = no corpus cluster-mate at
    * cosine ≥ τ.
    */
  private lazy val SemDedupIncrOracle: String =
    s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $KmeansSeeds),
      s AS (SELECT vec_id, cluster,
          ${sqlDot("v", "cv")} / sqrt(${sqlDot("v", "v")} * ${sqlDot("cv", "cv")}) AS cosine
        FROM e CROSS JOIN c),
      r AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM s),
      a AS (SELECT vec_id, cluster FROM r WHERE rn = 1),
      av AS (SELECT a.vec_id, a.cluster, e.v FROM a JOIN e USING (vec_id)),
      newv AS (SELECT * FROM av WHERE vec_id % 5 = 0),
      corpv AS (SELECT * FROM av WHERE vec_id % 5 <> 0),
      d AS (SELECT DISTINCT n.vec_id FROM newv n JOIN corpv x
        ON n.cluster = x.cluster
        WHERE ${sqlDot("n.v", "x.v")} / sqrt(${sqlDot("n.v", "n.v")} * ${sqlDot("x.v", "x.v")}) >= $SemDedupTau)
      SELECT n.vec_id, n.cluster, d.vec_id IS NULL AS keep
      FROM newv n LEFT JOIN d ON n.vec_id = d.vec_id ORDER BY n.vec_id"""

  val qSemDedupIncr = Q(
    "q_semdedup_incr",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      Similarity.semDedupIncremental(
          emb.filter(col("vec_id") % 5 === 0),
          emb.filter(col("vec_id") % 5 =!= 0),
          seedCentroids(spark, dir), threshold = SemDedupTau)
        .orderBy("vec_id")
    },
    Some(SemDedupIncrOracle)
  )

  /** Streaming face of [[qSemDedupIncr]]: arriving embedding batches
    * run the SAME delta pass per micro-batch in `foreachBatch` against
    * the at-rest corpus and codebook, results appending to a parquet
    * log. Verdicts are per-vector against the STATIC corpus — no
    * new-vs-new comparison — so they are independent of how arrivals
    * batch, and the union of per-trigger outputs equals the one-shot
    * batch pass exactly (the CADENCE-INVARIANCE pin; StreamingSpec
    * also pins it across a forced 2-trigger split). No streaming
    * state at all: the corpus is at-rest, the codebook broadcasts —
    * which IS the production shape of a per-ingest dedup delta; when
    * the corpus itself must grow with accepted arrivals, that is a
    * checkpointed upsert of the corpus table between triggers (a
    * verdict sees the corpus as of its trigger, never later growth).
    */
  val qStreamSemDedup = Q(
    "q_stream_semdedup",
    (spark, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = java.nio.file.Files
        .createTempDirectory("stream_semdedup").toString
      val emb = Tables.embeddings(spark, dir)
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val cents = seedCentroids(spark, dir)
      val newStream = spark.readStream.schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .filter(col("vec_id") % 5 === 0)
      val q = newStream.writeStream
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Similarity.semDedupIncremental(batch, corpus, cents, SemDedupTau)
            .write.mode("append").parquet(s"$work/out")
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ParquetSchema.read(spark, s"$work/out").orderBy("vec_id")
    },
    Some(SemDedupIncrOracle)
  )

  /** Int8-quantized brute-force top-k (see
    * [[graft.ops.Similarity.knnQuantized]]): ranking on exact int64
    * code dots — the all-integer twin of q_knn's exact-double cosine.
    * The oracle reproduces the quantizer token-for-token
    * (floor(x·127.0/s), s = list_max |x|) and the same sequential
    * fold for the dot, so values hash-match exactly.
    */
  val qKnnQ8 = Q(
    "q_knn_q8",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      Similarity.knnQuantized(emb.filter(col("vec_id") < 10), emb, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sc AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) AS s FROM e),
      z AS (SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
               ELSE list_transform(v, x -> CAST(floor(x * 127.0 / s) AS BIGINT))
          END AS q
        FROM sc),
      qs AS (SELECT vec_id AS query_id, q AS qa FROM z WHERE vec_id < 10),
      pairs AS (SELECT query_id, z.vec_id AS neighbor_id,
          CAST(${sqlDot("qa", "z.q")} AS BIGINT) AS qdot
        FROM qs CROSS JOIN z WHERE z.vec_id <> query_id),
      r AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS rank
        FROM pairs)
      SELECT query_id, rank, neighbor_id, qdot FROM r
      WHERE rank <= 10 ORDER BY query_id, rank""")
  )

  /** BPE merge-pair statistics (see
    * [[graft.ops.TextOps.bpeMergePairs]]): the frequency-weighted
    * adjacent-character-pair counts of tokenizer training's first
    * merge iteration, top-50 by count. The global window runs over an
    * alphabet²-sized table (the corpus-sized work is the word-count
    * agg below it).
    */
  val qBpePairs = Q(
    "q_bpe_pairs",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("cnt").desc, col("pair"))
      TextOps.bpeMergePairs(Tables.documents(spark, dir), "text")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 50)
        .select("rank", "pair", "cnt")
        .orderBy("rank")
    },
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
        words AS (SELECT w, count(*) AS wf
          FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
        pr AS (SELECT wf, unnest(list_transform(range(1, length(w)),
            i -> w[i] || ' ' || w[i+1])) AS pair
          FROM words),
        agg AS (SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt
          FROM pr GROUP BY pair),
        r AS (SELECT pair, cnt,
            row_number() OVER (ORDER BY cnt DESC, pair) AS rank
          FROM agg)
      SELECT rank, pair, cnt FROM r WHERE rank <= 50 ORDER BY rank""")
  )

  /** Full BPE tokenizer training (see
    * [[graft.ops.TextOps.bpeTrain]]): the learned merge table after
    * 10 iterations over the documents corpus. HASH-ORACLED since
    * round 13: the trainer was always all-integer (argmax on counts,
    * (cnt DESC, pair ASC) total order); [[BpeOracle.trainSql]]
    * unrolls the 10 argmax-and-rewrite rounds into CTEs, with the
    * greedy single-pass merge application expressed set-at-a-time as
    * run-parity over matched positions. TrainingSpec additionally
    * pins the trainer against an independent plain-Scala BPE
    * reference plus a hand-computed sequence.
    */
  val qBpeTrain = Q(
    "q_bpe_train",
    (spark, dir) => {
      import spark.implicits._
      TextOps.bpeTrain(Tables.documents(spark, dir), "text", nMerges = 10)
        .zipWithIndex
        .map { case ((pair, cnt), i) => (i + 1L, pair, cnt) }
        .toDF("merge_rank", "pair", "cnt")
        .orderBy("merge_rank")
    },
    Some(BpeOracle.trainSql(nMerges = 10))
  )

  /** Unigram-LM (SentencePiece-style) tokenizer training (see
    * [[graft.ops.Unigram.train]]): seed from frequency-weighted
    * substrings, Viterbi hard-EM over the distinct-word table (the
    * per-word DP is pure Catalyst higher-order functions — one
    * codegen projection per round), gradual prune to the target
    * vocab. HASH-ORACLED since round 13: arc scores are quantized
    * integer log2s ([[graft.ops.Qlog.qlog2]]), so the whole 3-round
    * run has no floating-point state and [[UnigramOracle.hardSql]]
    * replays it in DuckDB CTE-for-CTE (recursive qlog2 + per-word
    * Viterbi DP + backtrack + prune, per round). TrainingSpec
    * additionally pins the run against an independent plain-Scala
    * Viterbi-EM implementation.
    */
  val qUnigramTrain = Q(
    "q_unigram_train",
    (spark, dir) => {
      import spark.implicits._
      graft.ops.Unigram.train(Tables.documents(spark, dir), "text",
          vocabSize = 120, iters = 3, maxPieceLen = 5)
        .toDF("piece", "cnt", "qlp")
        .orderBy(col("cnt").desc, col("piece"))
    },
    Some(UnigramOracle.hardSql(vocabSize = 120, iters = 3, maxPieceLen = 5))
  )

  /** Unigram-LM training with the FULL (soft) EM E-step
    * ([[graft.ops.Unigram.trainSoft]]): expected piece counts over
    * ALL segmentations via forward-backward — the actual
    * SentencePiece update rule — with each arc's posterior mass
    * integer-quantized (2^-20 units) before the distributed sum, so
    * the cross-row aggregation is exact and order-invariant.
    * Measured head-to-head (PERF.md round-11): no slower than
    * Viterbi hard-EM (the backtrack pass disappears), ~90% final
    * vocab agreement, and ~3% FEWER encode pieces — the better
    * estimator compresses better. HASH-ORACLED since round 13: the
    * E-step runs in block-floating-point integer arithmetic (30-bit
    * mantissa/exponent pairs — multiply, align-truncate add,
    * shift-and-divide posterior; no transcendentals anywhere), so
    * [[UnigramOracle.softSql]] replays the whole run in DuckDB with
    * the identical shifts. TrainingSpec additionally pins the run
    * against an independent plain-Scala forward-backward.
    */
  val qUnigramTrainSoft = Q(
    "q_unigram_train_soft",
    (spark, dir) => {
      import spark.implicits._
      graft.ops.Unigram.trainSoft(Tables.documents(spark, dir), "text",
          vocabSize = 120, iters = 3, maxPieceLen = 5)
        .toDF("piece", "cnt", "qlp")
        .orderBy(col("cnt").desc, col("piece"))
    },
    Some(UnigramOracle.softSql(vocabSize = 120, iters = 3, maxPieceLen = 5))
  )

  /** Corpus-scale ENCODE with the model [[qUnigramTrain]] learns
    * ([[graft.ops.Unigram.encode]]): the trained (piece, logp) table
    * travels as a plan literal and every document segments in one
    * map-side projection — per-doc subword stats plus the first
    * word's segmentation. HASH-ORACLED since round 13:
    * [[UnigramOracle.encodeSql]] replays training, segments the
    * distinct words under the final model, and reassembles documents
    * in token order. TrainingSpec pins encode's Viterbi against
    * hand-scored segmentations.
    */
  val qUnigramEncode = Q(
    "q_unigram_encode",
    (spark, dir) => {
      // frozen unigram model (FrozenStore.memo) — trained once per
      // (corpus, params); the encode face reads the artifact, the
      // q_unigram_train face keeps timing training itself
      val model = graft.io.FrozenStore.memo(s"unigram|$dir|120|3|5") {
        graft.ops.Unigram.train(Tables.documents(spark, dir),
          "text", vocabSize = 120, iters = 3, maxPieceLen = 5)
      }
      graft.ops.Unigram.encodeDocs(Tables.documents(spark, dir),
          "doc_id", "text", model.map(t => (t._1, t._3)), maxPieceLen = 5)
        .select(col("doc_id"),
          size(col("pieces")).cast("long").as("n_words"),
          aggregate(col("pieces"), lit(0L), (a, w) => a + size(w))
            .as("n_pieces"),
          array_join(element_at(col("pieces"), 1), "|")
            .as("first_word_pieces"))
        // NO sort barrier here: measured +0.15 s — the Viterbi encode
        // above is cheap enough that the sampler rerun costs less
        // than the extra exchange (Catalog.barrierSort is per-face,
        // by measurement)
        .orderBy("doc_id")
    },
    Some(UnigramOracle.encodeSql(vocabSize = 120, iters = 3, maxPieceLen = 5))
  )

  /** Corpus-scale ENCODE with the merges [[qBpeTrain]] learns
    * ([[graft.ops.TextOps.bpeEncode]]): the 10-merge list compiles
    * into one nested map-side expression — train on the vocab once,
    * encode the corpus as a shuffle-free projection. Per-doc subword
    * stats + a 3-word sample. HASH-ORACLED since round 13:
    * [[BpeOracle.encodeSql]] replays training and reads each word's
    * encoding off the final round's symbol state (== encode, the
    * TrainingSpec-pinned equivalence), then reassembles documents in
    * token order.
    */
  /** The frozen BPE merge list ([[graft.io.FrozenStore.memo]]): train
    * once per (corpus, nMerges), serve everywhere — the tokenizer
    * joins the classifier/LM/BM25/IVF family whose serving faces read
    * a published artifact instead of re-training. Driver-sized (10
    * pairs), exact-deterministic, so frozen == retrained bit-for-bit.
    */
  private def frozenBpeMerges(spark: SparkSession, dir: String,
      nMerges: Int): Seq[(String, String)] =
    graft.io.FrozenStore.memo(s"bpe_merges|$dir|$nMerges") {
      TextOps.bpeTrain(Tables.documents(spark, dir), "text", nMerges)
        .map { case (p, _) => val Array(a, b) = p.split(" ", 2); (a, b) }
    }

  val qBpeEncode = Q(
    "q_bpe_encode",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val merges = frozenBpeMerges(spark, dir, nMerges = 10)
      val enc = TextOps.bpeEncode(col("text"), merges)
      docs.select(col("doc_id"), enc.as("_enc"))
        .select(col("doc_id"),
          size(col("_enc")).cast("long").as("n_words"),
          aggregate(col("_enc"), lit(0L),
            (acc, w) => acc + size(w)).as("n_syms"),
          array_join(flatten(slice(col("_enc"), 1, 3)), " ").as("sample"))
        // map-only face: barrier the sort (see Catalog.barrierSort)
        .transform(Catalog.barrierSort(_, "doc_id"))
    },
    Some(BpeOracle.encodeSql(nMerges = 10))
  )

  /** Parts-per-million floor for [[qBpePrune]]: a merge survives iff
    * its merged symbol is ≥ this fraction (×1e-6) of all encoded
    * corpus symbols. 3000 ppm (0.3%) measured non-vacuous at sf0.001,
    * sf0.01 and sf0.1 (some of the 10 merges prune — early merges
    * consumed by later ones — and some survive; TrainingSpec pins
    * both directions on the oracle corpus).
    */
  private val BpePrunePpm = 3000L

  /** BPE MERGE-TABLE PRUNING + re-encode
    * ([[graft.ops.TextOps.bpePrune]]): the vocab-trim a shipped
    * tokenizer applies — encode the corpus under the full frozen
    * merge table, drop merges whose merged symbol falls under the
    * min-frequency floor (an exact integer ppm decision on ONE
    * conditional-sum aggregate), re-encode under the pruned list with
    * the same fused kernel. The face times the prune derivation AND
    * the re-encode (the prune is this operator's own work — the base
    * training stays frozen like q_bpe_encode's). HASH-ORACLED:
    * [[BpeOracle.pruneEncodeSql]] replays training, re-derives the
    * kept list from the identical integer threshold, and re-encodes
    * through NULL-guarded merge slots.
    */
  val qBpePrune = Q(
    "q_bpe_prune",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val merges = frozenBpeMerges(spark, dir, nMerges = 10)
      val pruned = TextOps.bpePrune(docs, "text", merges, BpePrunePpm)
      val enc = TextOps.bpeEncode(col("text"), pruned)
      docs.select(col("doc_id"), enc.as("_enc"))
        .select(col("doc_id"),
          size(col("_enc")).cast("long").as("n_words"),
          aggregate(col("_enc"), lit(0L),
            (acc, w) => acc + size(w)).as("n_syms"),
          array_join(flatten(slice(col("_enc"), 1, 3)), " ").as("sample"))
        .transform(Catalog.barrierSort(_, "doc_id"))
    },
    Some(BpeOracle.pruneEncodeSql(nMerges = 10, ppm = BpePrunePpm))
  )

  /** STREAMING tokenizer serving (29th batch/stream equivalence pin):
    * the frozen BPE merge list ([[frozenBpeMerges]] — the published
    * tokenizer artifact every trainer ships) compiled into the SAME
    * map-side [[graft.ops.TextOps.bpeEncode]] expression as
    * [[qBpeEncode]], run over the documents FILE STREAM through a
    * PARQUET SINK — the encode-at-ingest shape: stateless projection,
    * no state store, no shuffle, per-trigger cost = that trigger's
    * rows. Completes the frozen-artifact streaming-twin family
    * (classifier, LM, BM25, IVF — and now the tokenizer). Same oracle
    * as q_bpe_encode: what the stream wrote must hash-equal the batch
    * encode.
    */
  val qStreamTokenize = Q(
    "q_stream_tokenize",
    (spark, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val merges = frozenBpeMerges(spark, dir, nMerges = 10)
      val rawSchema = Tables.documents(spark, dir).schema
      val work = java.nio.file.Files
        .createTempDirectory("stream_tok").toString
      val out = s"$work/out"
      val enc = TextOps.bpeEncode(col("text"), merges)
      val q = spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"), enc.as("_enc"))
        .select(col("doc_id"),
          size(col("_enc")).cast("long").as("n_words"),
          aggregate(col("_enc"), lit(0L),
            (acc, w) => acc + size(w)).as("n_syms"),
          array_join(flatten(slice(col("_enc"), 1, 3)), " ").as("sample"))
        .writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ParquetSchema.read(spark, out).orderBy("doc_id")
    },
    Some(BpeOracle.encodeSql(nMerges = 10))
  )

  /** BATCHED BPE training — the cataloged WALL-CLOCK path for
    * realistic merge counts (see
    * [[graft.ops.TextOps.bpeTrainBatched]]: the exact trainer is
    * inherently sequential at ~0.2 s/merge ⇒ 50k merges ≈ 3 h
    * regardless of cluster size; batched top-M disjoint merges per
    * round is the standard escape). Same scan shape — ONE corpus
    * pass, then vocab-table rounds — but nMerges/batchSize driver
    * round-trips instead of nMerges. APPROXIMATE by design (a pair
    * created by an earlier in-batch merge can outrank a later one,
    * which exact BPE would reorder) — approximate vs exact BPE, but
    * fully deterministic, and HASH-ORACLED since round 13:
    * [[BpeOracle.trainBatchedSql]] unrolls the rounds with the
    * greedy disjoint-accept scan as a recursive CTE over candidate
    * rank. TrainingSpec pins batchSize=1 == [[qBpeTrain]]'s exact
    * path AND per-round pair-stat exactness of every accepted merge
    * against the exact trainer's scoring; the Probe bpe fidelity
    * curve records merge-set agreement and encode-level token-count
    * delta at real batch sizes (PERF.md).
    */
  val qBpeTrainBatched = Q(
    "q_bpe_train_batched",
    (spark, dir) => {
      import spark.implicits._
      TextOps.bpeTrainBatched(Tables.documents(spark, dir), "text",
          nMerges = 10, batchSize = 4)
        .zipWithIndex
        .map { case ((pair, cnt), i) => (i + 1L, pair, cnt) }
        .toDF("merge_rank", "pair", "cnt")
        .orderBy("merge_rank")
    },
    Some(BpeOracle.trainBatchedSql(nMerges = 10, batchSize = 4))
  )

  /** Quantized IVF against the at-rest CODE layout (see
    * [[graft.io.AnnLayout.writeIvfQ8]]): int8 codes + per-vector
    * scale stored (≈4× smaller index), probe AND rerank both score
    * the DEQUANTIZED dot `(sq·s·codedot)/127²` — the ANN-faithful
    * int8 path (recall 0.96 vs dot truth where raw code dots measure
    * 0.06; PERF.md ann_recall) — over a partition-filter scan. The
    * oracle recomputes the full path (q8+scale CTE → rep codes →
    * dequantized probe rank → dequantized rerank) token-for-token,
    * same IEEE product chain.
    */
  val qAnnIvfQ8 = Q(
    "q_ann_ivf_q8",
    (spark, dir) => {
      val work = java.nio.file.Files
        .createTempDirectory("ann_ivf_q8").toString
      val emb = Tables.embeddings(spark, dir)
      graft.io.AnnLayout.writeIvfQ8(emb, work)
      graft.io.AnnLayout.knnIvfQ8(spark, work,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sc AS (SELECT vec_id, label, v,
          list_max(list_transform(v, x -> abs(x))) AS s FROM e),
      z AS (SELECT vec_id, label, s,
          CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
               ELSE list_transform(v, x -> CAST(floor(x * 127.0 / s) AS BIGINT))
          END AS q
        FROM sc),
      reps AS (SELECT label, min(vec_id) AS rid FROM z GROUP BY label),
      repv AS (SELECT r.label, z.q AS rq, z.s AS rs
        FROM reps r JOIN z ON z.vec_id = r.rid),
      qs AS (SELECT vec_id AS query_id, s AS sa, q AS qa FROM z WHERE vec_id < 10),
      probe AS (SELECT query_id, sa, qa, label,
          row_number() OVER (PARTITION BY query_id ORDER BY
            sa * rs * CAST(CAST(${sqlDot("qa", "rq")} AS BIGINT) AS DOUBLE)
              / 16129.0 DESC, label) AS pr
        FROM qs CROSS JOIN repv),
      cand AS (SELECT p.query_id, z.vec_id AS neighbor_id,
          p.sa * z.s * CAST(CAST(${sqlDot("p.qa", "z.q")} AS BIGINT) AS DOUBLE)
            / 16129.0 AS score
        FROM (SELECT query_id, sa, qa, label FROM probe WHERE pr <= 3) p
        JOIN z ON z.label = p.label WHERE z.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        FROM cand)
      SELECT query_id, rank, neighbor_id, score FROM r
      WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** Dequantized quantized top-k (see
    * [[graft.ops.Similarity.knnQuantizedDot]]): score =
    * (sa·sb·qdot)/127² ≈ true dot — the ANN-faithful int8 path
    * (recall ~1 vs dot truth where raw code dots score 0.06 vs
    * cosine truth; PERF.md ann_recall). The oracle reproduces the
    * quantizer, the int code dot, and the exact IEEE product chain.
    */
  val qKnnQ8Dot = Q(
    "q_knn_q8dot",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      Similarity.knnQuantizedDot(emb.filter(col("vec_id") < 10), emb, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sc AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) AS s FROM e),
      z AS (SELECT vec_id, s,
          CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
               ELSE list_transform(v, x -> CAST(floor(x * 127.0 / s) AS BIGINT))
          END AS q
        FROM sc),
      qs AS (SELECT vec_id AS query_id, s AS sa, q AS qa FROM z WHERE vec_id < 10),
      pairs AS (SELECT query_id, z.vec_id AS neighbor_id,
          sa * z.s * CAST(CAST(${sqlDot("qa", "z.q")} AS BIGINT) AS DOUBLE)
            / 16129.0 AS score
        FROM qs CROSS JOIN z WHERE z.vec_id <> query_id),
      r AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        FROM pairs)
      SELECT query_id, rank, neighbor_id, score FROM r
      WHERE rank <= 10 ORDER BY query_id, rank""")
  )

  val qKnn = Q(
    "q_knn",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      Similarity.knnBruteForce(emb.filter(col("vec_id") < 10), emb, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      s AS (SELECT query_id, vec_id AS neighbor_id,
          ${sqlDot("qv", "v")} / sqrt(${sqlDot("qv", "qv")} * ${sqlDot("v", "v")}) AS cosine
        FROM e CROSS JOIN q WHERE vec_id <> query_id),
      r AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM s)
      SELECT query_id, rank, neighbor_id, cosine FROM r
      WHERE rank <= 10 ORDER BY query_id, rank""")
  )

  private val LshBits = 8
  private val CosThreshold = 0.4

  val qAnnLsh = Q(
    "q_ann_lsh",
    (spark, dir) =>
      Similarity.lshCosinePairs(Tables.embeddings(spark, dir),
        bits = LshBits, threshold = CosThreshold)
        .orderBy("i", "j"),
    Some {
      val bucket = (1 to LshBits).map(i =>
        s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            $bucket AS bucket
          FROM embeddings),
        p AS (SELECT a.vec_id AS i, b.vec_id AS j,
            ${sqlDot("a.v", "b.v")} / sqrt(${sqlDot("a.v", "a.v")} * ${sqlDot("b.v", "b.v")}) AS cosine
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT i, j, cosine FROM p WHERE cosine >= $CosThreshold
        ORDER BY i, j"""
    }
  )

  /** Min est-Jaccard for an LSH candidate pair to count as a dedup
    * edge in the clusters query (half the signature components match).
    */
  private val ClusterEstJaccard = 0.5

  /** Dedup clusters: connected components over the MinHash+LSH
    * near-dup pair graph — the realistic 100 TB pipeline (LSH
    * candidates, not the exact O(Σ df²) shingle join) — each member
    * doc labeled with its component's min doc id.
    * Oracle: recursive-CTE transitive closure + min reachable label
    * over the same band-collision pairs.
    *
    * Uses the forest-contraction CC: post-LSH pair graphs only hold
    * docs that actually collided, so distinct nodes fit one task and
    * the labeling is a single shuffle-free job — the iterative
    * min-label / star variants stay as the unbounded-node-count paths
    * (equivalence pinned in SkewCcSpec).
    */
  val qDedupClusters = Q(
    "q_dedup_clusters",
    (spark, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(spark, dir),
        "doc_id", "text", bands = Bands, rowsPerBand = RowsPerBand)
        .filter(col("est_jaccard") >= ClusterEstJaccard)
      Dedup.connectedComponentsForest(pairs).orderBy("doc_id")
    },
    Some {
      val sigExprs = (0 until NumHashes).map(sqlMinhashSig).mkString(", ")
      val bandExprs = (0 until Bands).map(b =>
        s"h${b * RowsPerBand} || '|' || h${b * RowsPerBand + 1} AS b$b").mkString(", ")
      val bandCond = (0 until Bands).map(b => s"a.b$b = c.b$b").mkString(" OR ")
      val nMatch = (0 until NumHashes).map(j =>
        s"(CASE WHEN a.h$j = c.h$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH RECURSIVE $tokCtes,
          sig AS (SELECT doc_id, $sigExprs FROM sh),
          bs AS (SELECT *, $bandExprs FROM sig),
          pairs AS (SELECT a.doc_id AS i, c.doc_id AS j
            FROM bs a JOIN bs c ON a.doc_id < c.doc_id AND ($bandCond)
            WHERE CAST($nMatch AS DOUBLE) / $NumHashes >= $ClusterEstJaccard),
          edges AS (SELECT i AS a, j AS b FROM pairs
            UNION SELECT j, i FROM pairs),
          walk(a, label) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
            UNION
            SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.a)
        SELECT a AS doc_id, min(label) AS rep_id FROM walk
        GROUP BY a ORDER BY a"""
    }
  )

  /** Quality-ranked representative per near-dup cluster (see
    * [[graft.ops.Dedup.clusterRepresentatives]]): the same LSH →
    * connected-components cluster table as q_dedup_clusters, but the
    * survivor is the LONGEST document (n_chars desc, doc_id tiebreak)
    * rather than the min id — the FineWeb keep-best convention.
    * Every document (clustered or singleton) comes back tagged
    * (cluster_id, cluster_size, kept). The oracle replays the full
    * cluster derivation and ranks inside DuckDB, so the quality
    * choice itself is hash-checked, not just the clustering.
    */
  val qDedupRep = Q(
    "q_dedup_rep",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        bands = Bands, rowsPerBand = RowsPerBand)
        .filter(col("est_jaccard") >= ClusterEstJaccard)
      val clusters = Dedup.connectedComponentsForest(pairs)
      Dedup.clusterRepresentatives(docs.select("doc_id", "n_chars"),
          clusters, "doc_id",
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select("doc_id", "cluster_id", "cluster_size", "kept")
        .orderBy("doc_id")
    },
    Some {
      val sigExprs = (0 until NumHashes).map(sqlMinhashSig).mkString(", ")
      val bandExprs = (0 until Bands).map(b =>
        s"h${b * RowsPerBand} || '|' || h${b * RowsPerBand + 1} AS b$b").mkString(", ")
      val bandCond = (0 until Bands).map(b => s"a.b$b = c.b$b").mkString(" OR ")
      val nMatch = (0 until NumHashes).map(j =>
        s"(CASE WHEN a.h$j = c.h$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH RECURSIVE $tokCtes,
          sig AS (SELECT doc_id, $sigExprs FROM sh),
          bs AS (SELECT *, $bandExprs FROM sig),
          pairs AS (SELECT a.doc_id AS i, c.doc_id AS j
            FROM bs a JOIN bs c ON a.doc_id < c.doc_id AND ($bandCond)
            WHERE CAST($nMatch AS DOUBLE) / $NumHashes >= $ClusterEstJaccard),
          edges AS (SELECT i AS a, j AS b FROM pairs
            UNION SELECT j, i FROM pairs),
          walk(a, label) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
            UNION
            SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.a),
          comp AS (SELECT a AS doc_id, min(label) AS rep FROM walk
            GROUP BY a),
          tagged AS (SELECT d.doc_id, d.n_chars,
              coalesce(c.rep, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id)),
          ranked AS (SELECT doc_id, cluster_id,
              count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
              row_number() OVER (PARTITION BY cluster_id
                ORDER BY n_chars DESC, doc_id) AS rn
            FROM tagged)
        SELECT doc_id, cluster_id,
          CAST(cluster_size AS BIGINT) AS cluster_size, rn = 1 AS kept
        FROM ranked ORDER BY doc_id"""
    }
  )

  /** IVF-style ANN: probe the nprobe clusters whose representative is
    * most query-similar, exact-rerank their members only (scan
    * fraction nprobe/clusters vs brute force).
    */
  val qAnnIvf = Q(
    "q_ann_ivf",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      Similarity.knnIvf(emb.filter(col("vec_id") < 10), emb, k = 5, nprobe = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(AnnIvfOracle)
  )

  /** Shared by q_ann_ivf and q_ann_ivf_layout: the layout variant is
    * DEFINED to be result-identical to the flat-table IVF — only the
    * bytes-read differ — so both pin against one oracle.
    */
  private lazy val AnnIvfOracle: String =
    s"""WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      reps AS (SELECT label, min(vec_id) AS rid FROM e GROUP BY label),
      repv AS (SELECT r.label, e.v AS rv FROM reps r JOIN e ON e.vec_id = r.rid),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      probe AS (SELECT query_id, qv, label,
          row_number() OVER (PARTITION BY query_id ORDER BY
            ${sqlDot("qv", "rv")} / sqrt(${sqlDot("qv", "qv")} * ${sqlDot("rv", "rv")}) DESC,
            label) AS pr
        FROM q CROSS JOIN repv),
      cand AS (SELECT p.query_id, e.vec_id AS neighbor_id,
          ${sqlDot("p.qv", "e.v")} / sqrt(${sqlDot("p.qv", "p.qv")} * ${sqlDot("e.v", "e.v")}) AS cosine
        FROM (SELECT query_id, qv, label FROM probe WHERE pr <= 3) p
        JOIN e ON e.label = p.label WHERE e.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM cand)
      SELECT query_id, rank, neighbor_id, cosine FROM r
      WHERE rank <= 5 ORDER BY query_id, rank"""

  /** IVF ANN against the AT-REST layout (see
    * [[graft.io.AnnLayout]]): the corpus is written `cluster=<id>/`
    * partitioned once, the probe list becomes a partition filter, and
    * the rerank reads only probed directories — the bytes-read
    * realization of q_ann_ivf's nprobe/clusters scan fraction.
    * Same probe ranking, rerank, and tie-breaks, so the SAME oracle
    * as q_ann_ivf; LayoutSpec additionally pins that the pruned scan's
    * inputFiles stay inside the probed partitions.
    */
  val qAnnIvfLayout = Q(
    "q_ann_ivf_layout",
    (spark, dir) => {
      val work = java.nio.file.Files
        .createTempDirectory("ann_ivf_layout").toString
      val emb = Tables.embeddings(spark, dir)
      graft.io.AnnLayout.writeIvf(emb, work)
      graft.io.AnnLayout.knnIvf(spark, work,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(AnnIvfOracle)
  )

  private final val TrainedK = 4
  private final val TrainedIters = 2

  /** One unrolled Lloyd round for the q_ann_ivf_trained oracle:
    * assign every vector to its argmax-cosine centroid of `c{i-1}`
    * (ties → lowest cluster — assignNearest's total order), then the
    * INTEGER-QUANTIZED exact mean per (cluster, component) —
    * sum(round(comp·10⁶)) / (n·10⁶), the engine-portable mean
    * Similarity.kmeans computes — with empty clusters keeping their
    * previous centroid (LEFT JOIN + COALESCE, the Lloyd fallback).
    */
  private def kmeansRoundSql(i: Int): String = {
    val p = s"c${i - 1}"
    s"""s$i AS (SELECT e.vec_id, c.cluster,
          ${sqlDot("e.v", "c.cv")} / sqrt(${sqlDot("e.v", "e.v")} * ${sqlDot("c.cv", "c.cv")}) AS cosine
        FROM e CROSS JOIN $p c),
      r$i AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM s$i),
      a$i AS (SELECT vec_id, cluster FROM r$i WHERE rn = 1),
      x$i AS (SELECT a.cluster, generate_subscripts(e.v, 1) AS pos,
          unnest(e.v) AS comp
        FROM a$i a JOIN e USING (vec_id)),
      m$i AS (SELECT cluster, pos,
          CAST(sum(CAST(round(comp * 1000000.0) AS BIGINT)) AS DOUBLE)
            / (count(*) * 1000000) AS m
        FROM x$i GROUP BY cluster, pos),
      g$i AS (SELECT cluster, list(m ORDER BY pos) AS mv FROM m$i GROUP BY cluster),
      c$i AS (SELECT p.cluster, COALESCE(g.mv, p.cv) AS cv
        FROM $p p LEFT JOIN g$i g USING (cluster))"""
  }

  /** Shared oracle for [[qAnnIvfTrained]], [[qStreamAnn]],
    * [[qAnnEpoch]] and (with `candWhere`) [[qAnnTakedown]]: the
    * first-k-seeded unrolled Lloyd chain → final assignment →
    * centroid probe → rerank. The stream face serves the SAME frozen
    * layout, so its per-trigger output replays on the identical SQL;
    * the takedown face trains on the FULL corpus (frozen codebook)
    * and then restricts the CANDIDATE rows — `candWhere` — exactly
    * as deleteTrained leaves labels frozen and removes members.
    */
  private def annIvfTrainedOracle(candWhere: String): String =
    s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, v AS cv
        FROM e ORDER BY vec_id LIMIT $TrainedK),
      ${(1 to TrainedIters).map(kmeansRoundSql).mkString(",\n      ")},
      sf AS (SELECT e.vec_id, c.cluster,
          ${sqlDot("e.v", "c.cv")} / sqrt(${sqlDot("e.v", "e.v")} * ${sqlDot("c.cv", "c.cv")}) AS cosine
        FROM e CROSS JOIN c$TrainedIters c),
      rf AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM sf),
      lab AS (SELECT vec_id, cluster AS label FROM rf WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      probe AS (SELECT query_id, qv, c.cluster AS label,
          row_number() OVER (PARTITION BY query_id ORDER BY
            ${sqlDot("qv", "c.cv")} / sqrt(${sqlDot("qv", "qv")} * ${sqlDot("c.cv", "c.cv")}) DESC,
            c.cluster) AS pr
        FROM q CROSS JOIN c$TrainedIters c),
      cand AS (SELECT p.query_id, e.vec_id AS neighbor_id,
          ${sqlDot("p.qv", "e.v")} / sqrt(${sqlDot("p.qv", "p.qv")} * ${sqlDot("e.v", "e.v")}) AS cosine
        FROM (SELECT query_id, qv, label FROM probe WHERE pr <= 2) p
        JOIN lab l ON l.label = p.label JOIN e ON e.vec_id = l.vec_id
        WHERE e.vec_id <> p.query_id AND ($candWhere)),
      r AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM cand)
      SELECT query_id, rank, neighbor_id, cosine FROM r
      WHERE rank <= 5 ORDER BY query_id, rank"""

  private lazy val AnnIvfTrainedOracle: String =
    annIvfTrainedOracle("TRUE")

  /** IVF against a TRAINED coarse quantizer (see
    * [[graft.io.AnnLayout.trainIvf]]): deterministic seeded Lloyd
    * k-means (min-id seeds, quantized exact means) learns the
    * codebook, the corpus is re-labeled by a final assignment pass
    * and written partitioned by the LEARNED label, and the centroids
    * themselves are the reps the probe ranks against. The oracle
    * replays the whole pipeline — seeds → `TrainedIters` unrolled
    * Lloyd rounds → final assignment → centroid-probe → cosine
    * rerank — arithmetic-exact (sequential-fold dots, quantized
    * means, total-order tie-breaks), which is precisely why the
    * trainer was built deterministic. LayoutSpec pins the partition-
    * pruned scan on the trained layout; PERF.md ann_recall_trained
    * records the recall this codebook buys at probe scale.
    */
  val qAnnIvfTrained = Q(
    "q_ann_ivf_trained",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      // frozen at-rest layout (FrozenStore): trained once per corpus,
      // probed by every call — the 100 TB serving shape; the trainer
      // is deterministic so frozen == retrained and the oracle's
      // replay is unchanged
      val work = graft.io.FrozenStore.frozenPath(
        s"ivf_trained|$dir|$TrainedK|$TrainedIters") { pth =>
        graft.io.AnnLayout.trainIvf(emb, pth, k = TrainedK,
          iters = TrainedIters)
      }
      graft.io.AnnLayout.knnIvf(spark, work,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(AnnIvfTrainedOracle)
  )

  /** ONLINE ANN SERVING — the 24th batch/stream equivalence pin:
    * queries arrive as a STREAM and are answered against a FROZEN
    * trained IVF layout. Build once (trainIvf — the batch job), then
    * serve per trigger inside `foreachBatch`: each micro-batch's
    * query set probes the broadcast centroid codebook and reranks
    * only the probed `cluster=<id>/` partitions — the same
    * partition-pruned read [[qAnnIvfTrained]] pins, now paid per
    * trigger on the batch's queries only. No state store anywhere:
    * the index is at-rest data, the trigger work is proportional to
    * arriving queries × probed fraction, which is what makes this
    * the 100 TB online-serving shape (a new corpus or codebook is a
    * new build published beside this one, never a mutation under
    * readers). foreachBatch is the documented Spark route for
    * per-batch top-k against static data; AvailableNow drains the
    * backlog in bounded triggers. Same oracle as q_ann_ivf_trained —
    * the stream path must lose nothing vs the batch probe.
    */
  val qStreamAnn = Q(
    "q_stream_ann",
    (spark, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = java.nio.file.Files
        .createTempDirectory("stream_ann").toString
      val emb = Tables.embeddings(spark, dir)
      // the SAME frozen layout q_ann_ivf_trained probes (shared key)
      val ivf = graft.io.FrozenStore.frozenPath(
        s"ivf_trained|$dir|$TrainedK|$TrainedIters") { pth =>
        graft.io.AnnLayout.trainIvf(emb, pth, k = TrainedK,
          iters = TrainedIters)
      }
      val qStream = spark.readStream.schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .filter(col("vec_id") < 10)
      val q = qStream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.io.AnnLayout.knnIvf(spark, ivf, batch,
              k = 5, nprobe = 2)
            .withColumn("rank", col("rank").cast("long"))
            .write.mode("append").parquet(s"$work/out")
          ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ParquetSchema.read(spark, s"$work/out").orderBy("query_id", "rank")
    },
    Some(AnnIvfTrainedOracle)
  )

  /** Trained IVF behind the EPOCH-DIRECTORY publication protocol
    * ([[graft.io.EpochLayout]]): the layout pair lives under
    * `epochs/e<N>/` and "current" is the highest epoch whose
    * `_EPOCH_COMPLETE` marker exists — publishing is one atomic file
    * create, so a reader can never resolve a half-published pair
    * (no window between two directory swaps to close).
    * The probe itself is [[qAnnIvfTrained]]'s probe against the
    * resolved epoch, and MUST answer identically — hence the shared
    * oracle. Crash invisibility, retention GC, and the
    * retrain-publishes-a-new-epoch intake loop are pinned in
    * EpochSpec; this face keeps the resolve-and-probe read path
    * oracle-checked end to end.
    */
  val qAnnEpoch = Q(
    "q_ann_epoch",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val root = graft.io.FrozenStore.frozenPath(
        s"ivf_epoch|$dir|$TrainedK|$TrainedIters") { pth =>
        graft.io.EpochLayout.trainIvf(emb, pth, k = TrainedK,
          iters = TrainedIters)
        ()
      }
      graft.io.EpochLayout.knnIvf(spark, root,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(AnnIvfTrainedOracle)
  )

  /** ANN-layout TAKEDOWN (see [[graft.io.AnnLayout.deleteTrained]]):
    * a takedown that reaches the document corpus (q_cow_merge) and
    * the lexical index (q_bm25_takedown) but not the VECTOR index
    * leaves the removed content retrievable by similarity — this
    * face closes that artifact. The layout trains on the full corpus
    * (frozen codebook), the delete set (vec_id ≡ 3 mod 7) leaves via
    * one point-fetch + per-partition copy-on-write merge, and the
    * probe answers over the survivors. Oracle: the trained-IVF chain
    * with the CANDIDATE rows restricted to the survivors — labels
    * frozen, members removed, which is exactly the operator's
    * contract. Idempotent across bench reps: re-deleting absent ids
    * is a no-op, so the frozen mutated layout keeps answering
    * identically.
    */
  val qAnnTakedown = Q(
    "q_ann_takedown",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val work = graft.io.FrozenStore.frozenPath(
        s"ivf_takedown|$dir|$TrainedK|$TrainedIters") { pth =>
        graft.io.AnnLayout.trainIvf(emb, pth, k = TrainedK,
          iters = TrainedIters)
        ()
      }
      val ids = emb.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
      graft.io.AnnLayout.deleteTrained(spark, work, ids.toIndexedSeq)
      graft.io.AnnLayout.knnIvf(spark, work,
          emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(annIvfTrainedOracle("l.vec_id % 7 <> 3"))
  )

  /** Trained-quantizer IVF in the scaled-int8 at-rest format (see
    * [[graft.io.AnnLayout.trainIvfQ8]]): the [[qAnnIvfTrained]]
    * codebook pipeline composed with [[qAnnIvfQ8]]'s storage — the
    * corpus at rest is (int8 codes, scale) partitioned by the LEARNED
    * label, the reps are the QUANTIZED CENTROIDS, probe and rerank
    * both score the dequantized (sq·s·codedot)/127². The oracle
    * chains the full unrolled Lloyd rounds, the final assignment,
    * centroid quantization, and the dequantized two-phase search —
    * every stage arithmetic-exact.
    */
  val qAnnIvfTrainedQ8 = Q(
    "q_ann_ivf_trained_q8",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val work = graft.io.FrozenStore.frozenPath(
        s"ivf_trained_q8|$dir|$TrainedK|$TrainedIters") { pth =>
        graft.io.AnnLayout.trainIvfQ8(emb, pth, k = TrainedK,
          iters = TrainedIters)
      }
      graft.io.AnnLayout.knnIvfQ8(spark, work,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, v AS cv
        FROM e ORDER BY vec_id LIMIT $TrainedK),
      ${(1 to TrainedIters).map(kmeansRoundSql).mkString(",\n      ")},
      sf AS (SELECT e.vec_id, c.cluster,
          ${sqlDot("e.v", "c.cv")} / sqrt(${sqlDot("e.v", "e.v")} * ${sqlDot("c.cv", "c.cv")}) AS cosine
        FROM e CROSS JOIN c$TrainedIters c),
      rf AS (SELECT vec_id, cluster, row_number() OVER
          (PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rn FROM sf),
      lab AS (SELECT vec_id, cluster AS label FROM rf WHERE rn = 1),
      sc AS (SELECT e.vec_id, l.label, e.v,
          list_max(list_transform(e.v, x -> abs(x))) AS s
        FROM e JOIN lab l USING (vec_id)),
      z AS (SELECT vec_id, label, s,
          CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
               ELSE list_transform(v, x -> CAST(floor(x * 127.0 / s) AS BIGINT))
          END AS q
        FROM sc),
      cq AS (SELECT cluster AS label, cv,
          list_max(list_transform(cv, x -> abs(x))) AS rs
        FROM c$TrainedIters),
      repz AS (SELECT label, rs,
          CASE WHEN rs = 0 THEN list_transform(cv, x -> CAST(0 AS BIGINT))
               ELSE list_transform(cv, x -> CAST(floor(x * 127.0 / rs) AS BIGINT))
          END AS rq
        FROM cq),
      qs AS (SELECT vec_id AS query_id, s AS sa, q AS qa FROM z WHERE vec_id < 10),
      probe AS (SELECT query_id, sa, qa, label,
          row_number() OVER (PARTITION BY query_id ORDER BY
            sa * rs * CAST(CAST(${sqlDot("qa", "rq")} AS BIGINT) AS DOUBLE)
              / 16129.0 DESC, label) AS pr
        FROM qs CROSS JOIN repz),
      cand AS (SELECT p.query_id, z.vec_id AS neighbor_id,
          p.sa * z.s * CAST(CAST(${sqlDot("p.qa", "z.q")} AS BIGINT) AS DOUBLE)
            / 16129.0 AS score
        FROM (SELECT query_id, sa, qa, label FROM probe WHERE pr <= 2) p
        JOIN z ON z.label = p.label WHERE z.vec_id <> p.query_id),
      r AS (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        FROM cand)
      SELECT query_id, rank, neighbor_id, score FROM r
      WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** Top document-frequency terms per language: explode distinct
    * tokens → two-level agg → per-lang window top-k. Scale shape: the
    * (lang, term) partial agg combines map-side, so the shuffle
    * carries one row per (partition × lang × term), and the window
    * ranks the already-aggregated (small) term table.
    */
  val qTopTerms = Q(
    "q_top_terms",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(spark, dir)
        .select(col("lang"), col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      val dfreq = tok.groupBy("lang", "term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("term"))
      dfreq.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("lang", "rank", "term", "df")
        .orderBy("lang", "rank")
    },
    Some(s"""WITH $tokCtes,
        t AS (SELECT lang, doc_id, unnest(list_distinct(ts)) AS term FROM toks),
        dfreq AS (SELECT lang, term, count(*) AS df FROM t GROUP BY lang, term),
        r AS (SELECT lang, term, df, row_number() OVER
            (PARTITION BY lang ORDER BY df DESC, term) AS rank
          FROM dfreq)
      SELECT lang, rank, term, df FROM r WHERE rank <= 5
      ORDER BY lang, rank""")
  )

  /** TF-IDF-style term scoring, top-3 terms per doc. The idf factor is
    * the log-free rational N/df (score = tf · N / df): double log is
    * not correctly rounded and differs across math libraries, so ln()
    * would break exact cross-engine hashes; the rational form is exact
    * IEEE arithmetic and preserves the ranking behavior (monotone in
    * the same ratio). The corpus size joins in as a broadcast scalar
    * row — no driver-side count.
    */
  val qTfidf = Q(
    "q_tfidf",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, dir)
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          (col("tf").cast("double") * col("n_docs")) / col("df"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    },
    Some(s"""WITH $tokCtes,
        t AS (SELECT doc_id, unnest(ts) AS term FROM toks),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        s AS (SELECT doc_id, term, tf, df,
            (CAST(tf AS DOUBLE) * n_docs) / df AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        r AS (SELECT doc_id, term, tf, df, score, row_number() OVER
            (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
          FROM s)
      SELECT doc_id, rank, term, tf, df, score FROM r WHERE rank <= 3
      ORDER BY doc_id, rank""")
  )

  /** Embedding-cosine near-dup CLUSTERS: sign-LSH candidate pairs ≥
    * cosine threshold → connected components → each vector labeled
    * with its component's min id — the embedding-space face of
    * q_dedup_clusters (text MinHash). Scale shape: candidates come
    * from the bucket equality join (never all-pairs), and the CC runs
    * on the tiny pair graph. Deliberately the STAR-contraction CC
    * (O(log n) rounds on any diameter) where q_dedup_clusters ships
    * min-label propagation — both CC paths stay driver-checked against
    * an oracle.
    */
  val qDedupEmbed = Q(
    "q_dedup_embed",
    (spark, dir) => {
      val pairs = Similarity.lshCosinePairs(Tables.embeddings(spark, dir),
        bits = LshBits, threshold = CosThreshold)
      Dedup.connectedComponentsStar(pairs)
        .select(col("doc_id").as("vec_id"), col("rep_id"))
        .orderBy("vec_id")
    },
    Some {
      val bucket = (1 to LshBits).map(i =>
        s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH RECURSIVE ev AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            $bucket AS bucket
          FROM embeddings),
        p AS (SELECT a.vec_id AS i, b.vec_id AS j,
            ${sqlDot("a.v", "b.v")} / sqrt(${sqlDot("a.v", "a.v")} * ${sqlDot("b.v", "b.v")}) AS cosine
          FROM ev a JOIN ev b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        pr AS (SELECT i, j FROM p WHERE cosine >= $CosThreshold),
        edges AS (SELECT i AS a, j AS b FROM pr
          UNION SELECT j, i FROM pr),
        walk(a, label) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
          UNION
          SELECT e2.a, w.label FROM edges e2 JOIN walk w ON e2.b = w.a)
      SELECT a AS vec_id, min(label) AS rep_id FROM walk
      GROUP BY a ORDER BY vec_id"""
    }
  )

  /** Incremental dedup: a NEW batch (hash-split 20% of docs) checked
    * against the existing corpus via LSH band-key postings — the shape
    * a 100 TB pipeline actually runs on ingest: new-batch keys (O(N)
    * rows) equality-join the stored corpus index; nothing corpus-wide
    * recomputes (here both sides derive fresh for the oracle's sake;
    * [[graft.ops.Dedup.lshBandKeys]] scaladoc covers the stored-index
    * deployment). Emits each new doc with ≥1 collision and its
    * distinct corpus-candidate count.
    */
  val qDedupIncr = Q(
    "q_dedup_incr",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val newK = Dedup.lshBandKeys(docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", Bands, RowsPerBand)
      val corpK = Dedup.lshBandKeys(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", Bands, RowsPerBand)
      newK.join(corpK.select(col("doc_id").as("corpus_id"), col("bk")), Seq("bk"))
        .groupBy("doc_id")
        .agg(countDistinct(col("corpus_id")).as("n_dup_candidates"))
        .orderBy("doc_id")
    },
    Some {
      val sigExprs = (0 until NumHashes).map(sqlMinhashSig).mkString(", ")
      val bandExprs = (0 until Bands).map(b =>
        s"h${b * RowsPerBand} || '|' || h${b * RowsPerBand + 1} AS b$b").mkString(", ")
      val bandCond = (0 until Bands).map(b => s"n.b$b = c.b$b").mkString(" OR ")
      s"""WITH $tokCtes,
          sig AS (SELECT doc_id, $sigExprs FROM sh),
          b AS (SELECT *, $bandExprs FROM sig),
          news AS (SELECT * FROM b WHERE doc_id % 5 = 0),
          corp AS (SELECT * FROM b WHERE doc_id % 5 <> 0)
        SELECT n.doc_id, count(DISTINCT c.doc_id) AS n_dup_candidates
        FROM news n JOIN corp c ON ($bandCond)
        GROUP BY n.doc_id ORDER BY n.doc_id"""
    }
  )

  /** Embedding-QA outlier gate: per-vector squared norm (the same
    * sequential fold as every cosine here — bit-identical across
    * engines) flagged against global exact 1st/99th percentiles.
    * The two-row stats result broadcasts; the vector side is map-only
    * — the q_zscore shape applied to embedding hygiene.
    */
  val qEmbedOutliers = Q(
    "q_embed_outliers",
    (spark, dir) => {
      val nrm = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"),
          Similarity.norm2(Similarity.asDouble(col("embedding"))).as("norm2"))
      val stats = nrm.agg(
        percentile(col("norm2"), lit(0.01)).as("p_lo"),
        percentile(col("norm2"), lit(0.99)).as("p_hi"))
      nrm.crossJoin(broadcast(stats))
        .withColumn("is_outlier",
          col("norm2") < col("p_lo") || col("norm2") > col("p_hi"))
        .select("vec_id", "label", "norm2", "is_outlier")
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, label, ${sqlDot("v", "v")} AS norm2
        FROM (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings)),
      s AS (SELECT quantile_cont(norm2, 0.01) AS p_lo,
          quantile_cont(norm2, 0.99) AS p_hi FROM e)
      SELECT e.vec_id, e.label, e.norm2,
        (e.norm2 < s.p_lo OR e.norm2 > s.p_hi) AS is_outlier
      FROM e CROSS JOIN s ORDER BY vec_id""")
  )

  // final val: compile-time constant, immune to object-init order
  private final val LmTopNgrams = 5000

  /** Stupid-backoff trigram LM, TRAIN face: the trigram count table
    * ([[graft.ops.NgramLm.trigramCounts]]) — the persisted model
    * artifact. Output bounded to the top `LmTopNgrams` by
    * (cnt DESC, w2, w1, tok) — a deterministic total order planned as
    * TakeOrderedAndProject (per-partition top-k + k-row driver merge),
    * never a global sort.
    */
  val qLmBackoffTrain = Q(
    "q_lm_backoff_train",
    (spark, dir) =>
      NgramLm.trigramCounts(Tables.documents(spark, dir), "doc_id", "text")
        .orderBy(col("cnt").desc, col("w2"), col("w1"), col("tok"))
        .limit(LmTopNgrams),
    Some(s"""WITH t AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      p AS (SELECT generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS tok,
          ts FROM t),
      px AS (SELECT pos, tok,
          CASE WHEN pos >= 1 THEN ts[pos] END AS w1,
          CASE WHEN pos >= 2 THEN ts[pos - 1] END AS w2 FROM p)
      SELECT w2, w1, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM px WHERE pos >= 2 GROUP BY 1, 2, 3
      ORDER BY cnt DESC, w2, w1, tok LIMIT $LmTopNgrams""")
  )

  /** Stupid-backoff trigram LM, SCORE face ([[graft.ops.NgramLm
    * .positionContribs]] → [[graft.ops.NgramLm.rollupScore]]): the
    * CCNet-fluency-filter upgrade of q_lm_score
    * — each position scores floor(2^20·c(ngram)/c(context)) at its
    * highest attested order with an exact ÷4-per-level backoff
    * penalty, so the whole train-then-score pipeline is long
    * arithmetic end to end and the oracle replays it in one chain.
    * Scores against the FROZEN published ratio tables (the same
    * artifact q_stream_lm serves; q_lm_backoff_train times training
    * itself). LmSpec additionally pins the math against a
    * plain-Scala replica.
    */
  val qLmBackoff = Q(
    "q_lm_backoff",
    (spark, dir) => {
      val (h3, h2, h1) = PipelineQ.frozenLmTables(spark, dir)
      NgramLm.rollupScore(NgramLm.positionContribs(
          Tables.documents(spark, dir), "doc_id", "text", h3, h2, h1),
        "doc_id").orderBy("doc_id")
    },
    Some(LmBackoffOracle)
  )

  /** Shared by q_lm_backoff and its streaming face q_stream_lm: the
    * frozen model the stream serves is the same self-trained count
    * chain, and per-position contributions are arrival-order-
    * independent, so both faces replay through one oracle.
    */
  private lazy val LmBackoffOracle: String =
    s"""WITH t AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      $lmScoreCtes
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(contrib) AS BIGINT) AS sb_mass,
        CAST(SUM(contrib) AS DOUBLE) / COUNT(*) AS sb_score
      FROM sc GROUP BY doc_id ORDER BY doc_id"""

  /** The stupid-backoff scoring chain as CTEs over an existing
    * `t (doc_id, ts)` tokens CTE, ending at `sc (doc_id, contrib)` —
    * shared by the LM faces here and the multi-signal ensemble gate
    * (PipelineQ), whose oracle composes this chain with the
    * classifier-training and gopher chains over ONE shared tokens
    * CTE.
    */
  private[queries] def lmScoreCtes: String = {
      val s = 1L << NgramLm.DefaultScaleBits
      s"""p AS (SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos,
          unnest(ts) AS tok, ts FROM t),
      px AS (SELECT doc_id, pos, tok,
          CASE WHEN pos >= 1 THEN ts[pos] END AS w1,
          CASE WHEN pos >= 2 THEN ts[pos - 1] END AS w2 FROM p),
      c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt1
        FROM px GROUP BY tok),
      nn AS (SELECT CAST(SUM(cnt1) AS BIGINT) AS n FROM c1),
      c2 AS (SELECT w1, tok, CAST(COUNT(*) AS BIGINT) AS cnt2
        FROM px WHERE pos >= 1 GROUP BY 1, 2),
      c3 AS (SELECT w2, w1, tok, CAST(COUNT(*) AS BIGINT) AS cnt3
        FROM px WHERE pos >= 2 GROUP BY 1, 2, 3),
      h3 AS (SELECT c3.w2, c3.w1, c3.tok, ($s * cnt3) // d.cnt2 AS b3
        FROM c3 JOIN c2 d ON d.w1 = c3.w2 AND d.tok = c3.w1),
      h2 AS (SELECT c2.w1, c2.tok, ($s * cnt2) // d.cnt1 AS b2
        FROM c2 JOIN c1 d ON d.tok = c2.w1),
      h1 AS (SELECT tok, ($s * cnt1) // nn.n AS b1 FROM c1 CROSS JOIN nn),
      sc AS (SELECT px.doc_id,
          CASE WHEN px.pos >= 2
                 THEN COALESCE(h3.b3, h2.b2 // 4, h1.b1 // 16, 0)
               WHEN px.pos = 1 THEN COALESCE(h2.b2, h1.b1 // 4, 0)
               ELSE COALESCE(h1.b1, 0) END AS contrib
        FROM px LEFT JOIN h3 ON px.w2 = h3.w2 AND px.w1 = h3.w1
            AND px.tok = h3.tok
          LEFT JOIN h2 ON px.w1 = h2.w1 AND px.tok = h2.tok
          LEFT JOIN h1 ON px.tok = h1.tok)"""
  }

  /** STREAMING LM scoring against the PERSISTED frozen model — the
    * serving face for a model too large to travel as a plan literal
    * (the trigram table is corpus-derived and unbounded, unlike the
    * B-row classifier weights q_stream_quality inlines): the batch
    * side trains once and writes the three ratio tables
    * ([[graft.ops.NgramLm.backoffTables]]) as parquet — the at-rest
    * artifact — and the document stream scores via STREAM-STATIC
    * joins against them ([[graft.ops.NgramLm.positionContribs]]):
    * posexplode + three left joins, all STATELESS (no state store, no
    * watermark; the static side is re-resolved per micro-batch, which
    * is also what makes a model refresh a simple directory swap). The
    * sink receives per-position contribution rows append-only; the
    * per-doc rollup ([[graft.ops.NgramLm.rollupScore]]) runs at read
    * — the score-annotation-stream shape, keeping the streaming plan
    * state-free where a streaming groupBy(doc) would retain one state
    * row per document forever. The 22nd batch/stream equivalence pin:
    * same oracle as q_lm_backoff — the stream path loses nothing vs
    * the batch scorer.
    */
  val qStreamLm = Q(
    "q_stream_lm",
    (spark, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = java.nio.file.Files
        .createTempDirectory("stream_lm").toString
      val docs = Tables.documents(spark, dir)
      // the frozen ratio tables are the shared published artifact
      // (graft.io.FrozenStore — parquet, stage+swap); the readers
      // below are parquet scans of it, re-resolved per micro-batch
      val (h3, h2, h1) = PipelineQ.frozenLmTables(spark, dir)
      val stream = spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val contribs = NgramLm.positionContribs(stream, "doc_id", "text",
        h3, h2, h1)
      val q = contribs.writeStream.format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      NgramLm.rollupScore(ParquetSchema.read(spark, s"$work/out"), "doc_id")
        .orderBy("doc_id")
    },
    Some(LmBackoffOracle)
  )

  /** INCREMENTAL / shard-parallel LM training — the maintenance path
    * a growing corpus needs: count each shard independently
    * ([[graft.ops.NgramLm.countTables]] — here the corpus split in
    * two by doc-id parity, standing in for "last month's model + this
    * month's batch"), MERGE the count artifacts exactly
    * ([[graft.ops.NgramLm.mergeCounts]] — a full-outer sum per order;
    * counts are additive, so shard-and-sum produces the same integers
    * as counting the concatenated corpus), then publish the ratio
    * tables once ([[graft.ops.NgramLm.ratioTables]] — the division is
    * the only non-additive step) and score. Oracle: q_lm_backoff's
    * verbatim — the incremental path must lose NOTHING vs a
    * from-scratch retrain, which is what makes "retrain monthly" an
    * O(new data) cost instead of an O(corpus) one at 100 TB. Scale
    * shape: per-shard counting is the same partial-agged shuffles as
    * direct training; each merge is one full-outer join per order on
    * pre-aggregated one-row-per-n-gram sides.
    */
  val qLmMerge = Q(
    "q_lm_merge",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val a = NgramLm.countTables(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val b = NgramLm.countTables(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      val (h3, h2, h1) = NgramLm.ratioTables(NgramLm.mergeCounts(a, b))
      NgramLm.rollupScore(
          NgramLm.positionContribs(docs, "doc_id", "text", h3, h2, h1),
          "doc_id")
        .orderBy("doc_id")
    },
    Some(LmBackoffOracle)
  )

  def all: Seq[Q] = Seq(qDedupExact, qDedupNgram, qDedupMinhash, qDedupSimhash,
    qDedupSimhashHam, qDedupClusters, qTextStats, qLangId, qTokenCount,
    qTokenBpe, qFingerprint, qQualityFilter, qRepetition,
    qRepeatCollapse, qDecontaminate,
    qDecontaminateBloom, qPack, qSampleStratified, qKnn, qAnnLsh, qAnnIvf,
    qTopTerms, qTfidf, qDedupEmbed, qDedupIncr, qEmbedOutliers, qDedupApply,
    qDupCoverage, qCapSource, qKmeansAssign, qSemDedup, qChunk, qSourceOverlap,
    qSourceOverlapKmv, qMixTemperature, qLmScore, qPipelineE2e, qDedupCanon,
    qMixTemperatureT, qDedupRep, qDedupPpjoin, qDedupEditdist, qSemDedupIncr,
    qStreamSemDedup, qDedupSpan, qAnnIvfLayout, qKnnQ8, qBpePairs,
    qBpeTrain, qBpeEncode, qAnnIvfQ8, qKnnQ8Dot, qBpeTrainBatched,
    qAnnIvfTrained, qAnnIvfTrainedQ8, qKnnGraph, qKnnGraphMp,
    qUnigramTrain, qUnigramEncode, qUnigramTrainSoft, qAnnPq, qAnnPqKnn,
    qAnnPqRerank, qAnnIvfPq, qAnnIvfPqRes, qPagerank, qLmBackoffTrain,
    qLmBackoff, qStreamLm, qLmMerge, qRankSample, qKmeansPp, qAnnIvfKpp,
    qStreamAnn, qAnnBin, qAnnBinKnn, qAnnBinCentered, qBm25, qStreamBm25,
    qBm25Merge, qBm25Phrase, qStreamPhrase, qStreamPhraseIndex,
    qBm25Prox, qDeconQuery, qHybridRrf,
    qBm25Pruned, qStreamHybrid,
    qEmbedPc1, qAnnEpoch, qAnnPqRerankRest, qBm25Takedown, qBm25Epoch,
    qHardNegatives,
    qAnnTakedown, qHtmlExtract, qUrlNorm, qStreamTokenize, qBpePrune)
}
