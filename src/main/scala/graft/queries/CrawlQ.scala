package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetSchema, Tables}
import graft.ops.{Bloom, TextOps}

/** Crawl-plane curation — the family [[TrainingQ.qUrlNorm]]'s
  * canonicalizer exists to feed: a crawler re-fetches the same page
  * under cosmetically different URLs (tracking params, case, www,
  * default ports, fragments), so corpus intake needs (1) url-keyed
  * dedup where the LATEST crawl of a canonical URL wins — the
  * reference's keep-last-per-key semantic (`internal/app/services/
  * cache/keyed.go`-style upsert, A1 in SURVEY §2) applied to the
  * crawl plane — and (2) a domain-blocklist gate (opt-out / spam
  * hosts) as an exclusion anti-join, Bloom-accelerated exactly like
  * q_decontaminate's shape.
  *
  * Synthetic crawl model (deterministic, oracle-replayable): each
  * document row is one FETCH of page `doc_id % 211` on host
  * `h(page % 17).example.com`; the raw URL varies by `doc_id % 3`
  * (clean / shouty-www-port-slash-fragment / tracking-params), all
  * three canonicalizing to `http://h<N>.example.com/p/<page>`; the
  * fetch timeline is doc_id order, so latest-crawl-wins keeps the
  * max-doc_id row per canonical URL. The oracles derive the canonical
  * URL in CLOSED FORM — independently of the normalizer — so a
  * normalization regression on ANY variant breaks the hash, not just
  * the q_url_norm pin.
  *
  * Scale shape: dedup is ONE hash shuffle on the canonical key with
  * map-side partial `max_by`/`count` (no window, no sort); the gate
  * is a map-side Bloom probe splitting provably-clean rows past the
  * exact anti-join (see [[graft.ops.Bloom.antiJoin]]) — at 100 TB the
  * blocklist sketch rides the plan while only might-contain
  * candidates shuffle.
  */
object CrawlQ {

  /** The raw fetched URL for a document row (see object doc). */
  private def rawUrl: Column = {
    val page = col("doc_id") % 211
    val hostN = page % 17
    when(col("doc_id") % 3 === 0,
        concat(lit("http://h"), hostN, lit(".example.com/p/"), page))
      .when(col("doc_id") % 3 === 1,
        concat(lit("HTTP://WWW.H"), hostN, lit(".Example.COM:80/p/"),
          page, lit("/#s")))
      .otherwise(
        concat(lit("http://h"), hostN, lit(".example.com/p/"), page,
          lit("?utm_campaign=x&gclid=9")))
  }

  /** Closed-form canonical URL / host for the oracle side. */
  private val SqlHost = "'h' || ((doc_id % 211) % 17) || '.example.com'"
  private val SqlUrl =
    "'http://h' || ((doc_id % 211) % 17) || '.example.com/p/' || (doc_id % 211)"

  private val BlockedHosts =
    Seq("h0.example.com", "h1.example.com", "h2.example.com")
  private def sqlBlockedList: String =
    BlockedHosts.map(h => s"'$h'").mkString(", ")

  private def blockedDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    BlockedHosts.toDF("bhost")
  }

  /** Host of an already-canonical URL (scheme and host are lowercase
    * by the normalizer's contract).
    */
  private def hostOf(url: Column): Column =
    regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)

  /** URL-keyed crawl dedup, latest crawl wins: canonicalize, then one
    * partial-agged `max_by` per canonical URL (doc_id is the fetch
    * order AND the unique tie-breaker). `n_crawls` is the collapsed
    * fetch count — the dedup ratio a crawl-intake dashboard reports.
    */
  val qDedupUrl = Q(
    "q_dedup_url",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      docs
        .withColumn("url", TextOps.normalizeUrl(rawUrl))
        .groupBy(col("url"))
        .agg(
          max_by(struct(col("doc_id"), col("source"), col("n_chars")),
            col("doc_id")).as("w"),
          count(lit(1)).as("n_crawls"))
        .select(col("url"), col("w.doc_id").as("doc_id"),
          col("w.source").as("source"), col("w.n_chars").as("n_chars"),
          col("n_crawls"))
        .orderBy("url")
    },
    Some(s"""WITH c AS (SELECT doc_id, source, n_chars, $SqlUrl AS url
        FROM documents)
      SELECT url, arg_max(doc_id, doc_id) AS doc_id,
        arg_max(source, doc_id) AS source,
        arg_max(n_chars, doc_id) AS n_chars, count(*) AS n_crawls
      FROM c GROUP BY url ORDER BY url""")
  )

  /** Domain-blocklist gate: fetches whose canonical host is NOT on
    * the blocklist survive. Bloom-accelerated exact anti-join
    * ([[graft.ops.Bloom.antiJoin]]): rows failing the sketch probe
    * are provably clean and bypass; only might-contain candidates pay
    * the exact join — bit-identical to the plain anti-join, which is
    * exactly what the oracle's NOT IN replays.
    */
  val qUrlBlocklist = Q(
    "q_url_blocklist",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val withUrl = docs
        .withColumn("url", TextOps.normalizeUrl(rawUrl))
        .withColumn("host", hostOf(col("url")))
      Bloom.antiJoin(withUrl, col("host"), blockedDf(spark),
          col("bhost"), expectedItems = 16)
        .select(col("doc_id"), col("url"), col("host"))
        .orderBy("doc_id")
    },
    Some(s"""WITH c AS (SELECT doc_id, $SqlUrl AS url, $SqlHost AS host
        FROM documents)
      SELECT doc_id, url, host FROM c
      WHERE host NOT IN ($sqlBlockedList)
      ORDER BY doc_id""")
  )

  /** The crawl-side end-to-end face: parse-or-quarantine (every
    * `doc_id % 19 = 0` fetch carries an unparseable URL and the
    * normalizer's NULL contract drops it), blocklist gate, latest-
    * crawl-wins dedup, then the per-host intake summary (pages kept,
    * fetches collapsed, newest fetch) a crawl-curation report wants.
    * Composes q_url_norm + q_url_blocklist + q_dedup_url in one plan:
    * two map-side projections + the Bloom-split anti-join + two
    * partial-agged shuffles, nothing else.
    */
  val qCrawlCurate = Q(
    "q_crawl_curate",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val raw = when(col("doc_id") % 19 === 0,
        concat(lit("not a url "), col("doc_id"))).otherwise(rawUrl)
      val parsed = docs
        .withColumn("url", TextOps.normalizeUrl(raw))
        .filter(col("url").isNotNull)
        .withColumn("host", hostOf(col("url")))
      val gated = Bloom.antiJoin(parsed, col("host"), blockedDf(spark),
        col("bhost"), expectedItems = 16)
      gated
        .groupBy(col("host"), col("url"))
        .agg(max(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_crawls"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_pages"),
          sum(col("n_crawls")).as("n_crawls"),
          max(col("doc_id")).as("newest_doc"))
        .orderBy("host")
    },
    Some(s"""WITH c AS (SELECT doc_id, $SqlUrl AS url, $SqlHost AS host
        FROM documents WHERE doc_id % 19 <> 0),
      g AS (SELECT * FROM c WHERE host NOT IN ($sqlBlockedList)),
      d AS (SELECT host, url, max(doc_id) AS doc_id, count(*) AS n_crawls
        FROM g GROUP BY host, url)
      SELECT host, count(*) AS n_pages,
        CAST(sum(n_crawls) AS BIGINT) AS n_crawls,
        max(doc_id) AS newest_doc
      FROM d GROUP BY host ORDER BY host""")
  )

  /** Per-host crawl-budget cap — the "at most k pages per domain"
    * intake rule a crawler enforces so one giant site cannot dominate
    * a corpus slice: after latest-crawl-wins URL dedup, keep each
    * host's k best pages under an explicit total quality order
    * (n_chars DESC, doc_id ASC tiebreak) via
    * [[graft.ops.Sample.capPerGroup]]. Shape: the dedup's partial-
    * agged hash exchange, then ONE hash-partitioned window on the
    * host whose per-group state is the host's pages — bounded by the
    * cap's own purpose (a pathological host is pre-pruned with
    * stratifiedHash, per capPerGroup's scale note).
    */
  val qCrawlBudget = Q(
    "q_crawl_budget",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val deduped = docs
        .withColumn("url", TextOps.normalizeUrl(rawUrl))
        .withColumn("host", hostOf(col("url")))
        .groupBy(col("host"), col("url"))
        .agg(max_by(struct(col("doc_id"), col("n_chars")),
          col("doc_id")).as("w"))
        .select(col("host"), col("url"), col("w.doc_id").as("doc_id"),
          col("w.n_chars").as("n_chars"))
      graft.ops.Sample.capPerGroup(deduped, Seq(col("host")),
          Seq(col("n_chars").desc, col("doc_id")), k = 5)
        .orderBy("host", "doc_id")
    },
    Some(s"""WITH c AS (SELECT doc_id, n_chars, $SqlUrl AS url,
          $SqlHost AS host FROM documents),
      d AS (SELECT host, url, arg_max(doc_id, doc_id) AS doc_id,
          arg_max(n_chars, doc_id) AS n_chars
        FROM c GROUP BY host, url),
      r AS (SELECT host, url, doc_id, n_chars,
          row_number() OVER (PARTITION BY host
            ORDER BY n_chars DESC, doc_id) AS rn
        FROM d)
      SELECT host, url, doc_id, n_chars FROM r WHERE rn <= 5
      ORDER BY host, doc_id""")
  )

  /** Site-level repeated-line boilerplate removal (see
    * [[graft.ops.Dedup.removeSiteBoilerplate]]): lines repeating
    * across ≥ minDocs distinct pages of one host are template chrome
    * and drop from every page of that host. The synthetic crawl
    * model: every fetched page carries its host's CHROME line (nav /
    * cookie-banner — the thing this filter exists for) prepended to
    * the body, and the body derives the same 3-word line structure
    * the paragraph-dedup family uses (the fused
    * [[org.apache.spark.sql.graftbridge.ParaJoin]] kernel). The
    * chrome line repeats on every page of its host (structurally
    * boilerplate at every SF); body lines repeat within a host only
    * incidentally (measured ≤3 distinct docs at the oracle SF), so
    * minDocs = 3 removes all chrome, removes the incidental
    * within-host triplets, and keeps everything else — both
    * directions pinned non-vacuous in PipelineOpsSpec. The oracle
    * replays the chrome injection and line derivation in closed
    * form.
    */
  val qBoilerplateSite = Q(
    "q_boilerplate_site",
    (spark, dir) => {
      graft.ops.Dedup.removeSiteBoilerplate(
          chromeCorpus(Tables.documents(spark, dir)), "doc_id", "text",
          "host", minDocs = 3)
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, $SqlHost AS host,
          list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents),
      pidx AS (SELECT doc_id, host, ts,
          unnest(range(-1, (len(ts) + 2) // 3)) AS idx
        FROM toks),
      l AS (SELECT doc_id, host, idx,
          CASE WHEN idx = -1 THEN 'chrome nav ' || host
            ELSE array_to_string(list_slice(ts, idx * 3 + 1, idx * 3 + 3), ' ')
          END AS line
        FROM pidx),
      b AS (SELECT host, line FROM (
          SELECT host, line, count(DISTINCT doc_id) AS nd
          FROM l GROUP BY host, line) WHERE nd >= 3),
      f AS (SELECT l.doc_id, l.host, l.idx, l.line,
          (b.line IS NOT NULL) AS boiler
        FROM l LEFT JOIN b ON l.host = b.host AND l.line = b.line)
      SELECT doc_id, host, count(*) AS n_lines,
        CAST(sum(CASE WHEN NOT boiler THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        coalesce(string_agg(CASE WHEN NOT boiler THEN line END, chr(10)
          ORDER BY idx), '') AS clean_text
      FROM f GROUP BY doc_id, host ORDER BY doc_id""")
  )

  /** The chrome-line crawl model shared by both boilerplate faces:
    * host from the canonical URL, the host's chrome line prepended to
    * the 3-word-line body (fused ParaJoin kernel). Pure column
    * expressions — applies to the batch table and the file stream
    * alike.
    */
  private def chromeCorpus(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, ParaJoin}
    docs
      .withColumn("host", hostOf(TextOps.normalizeUrl(rawUrl)))
      .withColumn("text",
        concat(lit("chrome nav "), col("host"), lit("\n"),
          ColumnBridge.column(
            ParaJoin(ColumnBridge.expression(col("text")), 3))))
  }

  /** Streaming site-boilerplate intake — the 30th batch/stream
    * equivalence pin: the STREAM accumulates the site-frequency index
    * ([[graft.ops.Dedup.siteLineCounts]] per trigger, appended to a
    * log; reads fold with one more SUM per key — exact under the
    * one-batch-per-document contract: a file stream never splits a
    * row, so per-batch distinct-doc counts sum to the global count).
    * No state store at all — the index is at-rest log-structured
    * state like the paragraph/span first-occurrence indexes, with
    * sum-merge instead of min-merge. The batch-side apply then
    * removes the thresholded lines. Oracle: identical to
    * q_boilerplate_site — the stream-accumulated index loses nothing.
    */
  val qStreamBoilerplate = Q(
    "q_stream_boilerplate",
    (spark, dir) => Catalog.withStatePartitions(spark, 8) {
      import org.apache.spark.sql.streaming.Trigger
      val work = java.nio.file.Files
        .createTempDirectory("stream_boiler").toString
      val indexDir = s"$work/index"
      val rawSchema = Tables.documents(spark, dir).schema
      val docStream = spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      // map-side line derivation rides the stream; the per-trigger
      // batch aggregation + append happens in foreachBatch
      val lineStream = graft.ops.Dedup.siteLineTable(
        chromeCorpus(docStream), "doc_id", "text", "host", "\n")
      val q = lineStream.writeStream
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            _: Long) =>
          graft.ops.Dedup.siteLineCounts(batch)
            .write.mode("append").parquet(indexDir)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val boiler = ParquetSchema.read(spark, indexDir)
        .groupBy("_sb_site", "_sb_h")
        .agg(sum(col("_sb_nd")).as("_sb_nd"))
        .filter(col("_sb_nd") >= 3)
      val lines = graft.ops.Dedup.siteLineTable(
        chromeCorpus(Tables.documents(spark, dir)),
        "doc_id", "text", "host", "\n")
      graft.ops.Dedup.applySiteBoilerplate(lines, boiler, "doc_id",
          "host", sep = "\n")
        .orderBy("doc_id")
    },
    qBoilerplateSite.oracle
  )

  def all: Seq[Q] = Seq(qDedupUrl, qUrlBlocklist, qCrawlCurate,
    qCrawlBudget, qBoilerplateSite, qStreamBoilerplate)
}
