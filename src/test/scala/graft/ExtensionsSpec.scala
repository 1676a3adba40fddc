package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Ingest, Similarity}
import graft.sources.{LogSource, TickSource}
import graft.stream.Pipeline

/** The SparkSessionExtensions path: graft_dot SQL function + the
  * HOF→native optimizer rewrite. Uses its own session (extensions are
  * install-time), same JVM.
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val shared = TestSpark.spark // ensure the shared context exists first
    // getOrCreate returns the existing default session (extensions are
    // construction-time), so temporarily clear it to force a fresh
    // session on the same SparkContext.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new org.apache.spark.sql.graftbridge.GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }

  test("GraftSession.builder yields a fully-configured session (library entry point)") {
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(parallelism = 4)
      .master("local[4]").appName("graft-session-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      // extensions installed: the native SQL function resolves
      val d = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .collect().head.getDouble(0)
      assert(d == 11.0)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("GraftSession: a second identical streaming drain compiles no generated code") {
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(parallelism = 4)
      .master("local[4]").appName("graft-codegen-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val root = Files.createTempDirectory("codegen").toString
      val logDir = s"$root/log"
      (0 until 2).foreach(p => LogSource.append(logDir, p,
        (0L until 200L).filter(_ % 2 == p).map(TickSource.frame(_, 5))))
      val dim = s.createDataFrame(Seq(("SYM0", "NYSE"), ("SYM1", "LSE")))
        .toDF("symbol", "exchange")
      // each drain is a new streaming query, so a new cloned session
      def drain(n: Int): Long = {
        val raw = s.readStream.format("graft-log").option("path", logDir)
          .option("maxOffsetsPerTrigger", "100").load()
        Pipeline.start(Ingest.parseWire(raw), dim, s"$root/append$n",
          s"$root/latest$n", Seq("name"), Seq("timestamp"), "name", "timestamp",
          s"$root/ckpt$n", trigger = Trigger.AvailableNow(), retries = 1)
          .awaitTermination()
        s.read.parquet(s"$root/append$n").count()
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val first = drain(1)
      val afterFirst = compiles.getCount
      val second = drain(2)
      assert(first > 0 && second == first)
      assert(compiles.getCount - afterFirst == 0,
        s"${compiles.getCount - afterFirst} classes compiled again by the second drain")
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("graft_dot is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect().head.getDouble(0)
    assert(r == 32.0)
  }

  test("graft_zorder is callable from SQL and matches the Column API") {
    val r = spark.sql("SELECT graft_zorder(3, 1) AS z").collect().head.getLong(0)
    assert(r == 7L) // a=0b11 on even lanes, b=0b1 on the odd lane
    // the SQL face and the Column face compute the identical key
    val both = spark.range(100).selectExpr(
        "graft_zorder(id, id * 7) AS zs",
        "id", "id * 7 AS b")
      .withColumn("zc", graft.io.Bucketing.zValue(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("b")))
    assert(both.filter("zs <> zc").count() == 0)
  }

  test("graft_simhash_votes is callable from SQL and matches the Column API") {
    // lane 0 of the packed votes = 0/1 for md5 nibble 0's top bit
    val got = spark.sql(
      "SELECT graft_simhash_votes('hello world', 16) AS v")
      .collect().head.getSeq[Long](0)
    val want = graft.functions.TextExprs
      .simhashPackedVotes(lit("hello world"), 16)
    val viaColumn = spark.range(1).select(want.as("v"))
      .collect().head.getSeq[Long](0)
    assert(got == viaColumn && got.length == 6)
    // non-literal bits is a contract error, not a silent misparse
    val e = intercept[Exception] {
      spark.sql("SELECT graft_simhash_votes('x', 1 + 15)").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("graft_minhash is callable from SQL and matches the Column API") {
    val got = spark.sql(
      "SELECT graft_minhash(array('a b c', 'b c d'), 4) AS s")
      .collect().head.getSeq[Long](0)
    val viaColumn = spark.range(1)
      .select(graft.functions.VectorExprs.minhashNative(
        array(lit("a b c"), lit("b c d")), 4).as("s"))
      .collect().head.getSeq[Long](0)
    assert(got == viaColumn && got.length == 4)
    // empty shingle array ⇒ NULL (the no-shingles-doc convention)
    assert(spark.sql(
      "SELECT graft_minhash(CAST(array() AS ARRAY<STRING>), 4) AS s")
      .collect().head.isNullAt(0))
  }

  test("graft_shingle_set is callable from SQL and matches the Column API") {
    val got = spark.sql(
      "SELECT graft_shingle_set('a b  c d', 3) AS s")
      .collect().head.getSeq[String](0)
    val viaColumn = spark.range(1)
      .select(graft.ops.TextOps.shingleSet(lit("a b  c d")).as("s"))
      .collect().head.getSeq[String](0)
    assert(got == viaColumn && got == Seq("a b c", "b c d"))
  }

  test("graft_nfc normalizes to NFC, fast-paths normalized input, matches java.text.Normalizer") {
    import org.apache.spark.sql.functions.col
    // explicit escapes (source-encoding-proof): decomposed e+U+0301 ->
    // composed U+00E9; Hangul jamo -> one syllable; q+U+0301 has no
    // composed form (stays 2 codepoints); ASCII unchanged
    val cases = Seq("e\u0301", "A\u030A", "\u1100\u1161\u11A8",
      "q\u0301", "plain ascii", "")
    val sess = spark
    import sess.implicits._
    val df = cases.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "s")
      .select(col("i"), col("s"),
        graft.functions.TextExprs.nfcNormalize(col("s")).as("n"))
    val got = df.collect().sortBy(_.getInt(0)).map(_.getString(2))
    val want = cases.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == want)
    assert(got(0) == "\u00e9" && got(2) == "\uAC01" && got(3).length == 2)
    assert(got(4) == "plain ascii" && got(5) == "")
    // SQL face agrees with the Column face; nulls pass through.
    // (NB Spark's chr() is mod-256 ASCII, unlike DuckDB's codepoint
    // chr — a unicode escape is the portable way to spell U+0301.)
    val sql = spark.sql(
      "SELECT graft_nfc('e\\u0301') AS n, graft_nfc(NULL) AS z")
      .collect().head
    assert(sql.getString(0) == "\u00e9" && sql.isNullAt(1))
  }

  test("extractMarkup: block structure, entities, link-density and minWords gates") {
    import spark.implicits._
    def ex(html: String, minWords: Int = 3, ldi: Int = 3): String =
      Seq(html).toDF("h")
        .select(graft.ops.TextOps.extractMarkup(col("h"), minWords,
          ldi))
        .head().getString(0)
    // article survives; 2-word heading and anchor-dense nav/footer drop
    val page = "<html><body>" +
      "<div><a href=\"/\">home</a> <a href=\"/x\">about us</a></div>" +
      "<h2>Short title</h2>" +
      "<p>the quick brown fox jumps over the dog</p>" +
      "<div><a href=\"/c\">contact page here</a></div>" +
      "</body></html>"
    assert(ex(page) == "the quick brown fox jumps over the dog")
    // entity decode happens AFTER tag strip (an encoded &lt;b&gt; is
    // text, not a tag to strip)
    assert(ex("<p>Tom &amp; Jo say &quot;use &lt;b&gt; tags&quot;</p>")
      == "Tom & Jo say \"use <b> tags\"")
    // &amp; decodes LAST: escaped entities must not double-decode —
    // the literal source text "&amp;lt;" is "&lt;" on screen, not "<"
    assert(ex("<p>write the entity &amp;lt; to show a less-than</p>")
      == "write the entity &lt; to show a less-than")
    // <br> and </li> are block boundaries: each side filtered alone
    assert(ex("<p>one two three four<br/>x y</p>")
      == "one two three four")
    // link density is a RATIO: one anchor inside a long paragraph is
    // an article link, not boilerplate
    val linked = "<p>read the <a href=\"/r\">full report</a> for " +
      "details on methods and results</p>"
    assert(ex(linked).startsWith("read the full report"))
    // empty/whitespace-only markup extracts to empty, no crash
    assert(ex("<div>   </div>") == "")
  }

  test("normalizeUrl: case rules, default ports, tracking params, null on non-URLs") {
    import spark.implicits._
    def n(u: String): Option[String] = {
      val r = Seq(u).toDF("u")
        .select(graft.ops.TextOps.normalizeUrl(col("u"))).head()
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }
    // host lowercased, path case PRESERVED, www/port/slash/fragment
    // dropped, tracking params out, survivors sorted
    assert(n("HTTP://WWW.Ex.COM:80/Path/To/?utm_source=x&b=2&a=1#f")
      == Some("http://ex.com/Path/To?a=1&b=2"))
    // :443 is default only for https; :80 only for http
    assert(n("https://a.io:443/x") == Some("https://a.io/x"))
    assert(n("ftp://a.io:80/x") == Some("ftp://a.io:80/x"))
    assert(n("https://a.io:80/x") == Some("https://a.io:80/x"))
    // empty path canonicalizes to /; all-tracking query drops cleanly
    assert(n("http://a.io?utm_medium=m&fbclid=1") == Some("http://a.io/"))
    // bare utm param without '=' is still tracking; 'utmost=1' is NOT
    assert(n("http://a.io/p?utm_x&utmost=1") == Some("http://a.io/p?utmost=1"))
    // non-URLs refuse with NULL, never a half-normalized key
    assert(n("not a url") == None)
    assert(n("//relative/path") == None)
  }

  test("fused BPE apply == composed-HOF formulation, corpus-wide") {
    import graft.ops.TextOps
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = TextOps.bpeTrain(docs, "text", nMerges = 10)
      .map { case (p, _) => val Array(a, b) = p.split(" ", 2); (a, b) }
    val both = docs.select(
      TextOps.bpeEncode(col("text"), merges).as("fused"),
      TextOps.bpeEncodeComposed(col("text"), merges).as("composed"))
    assert(both.filter(col("fused") =!= col("composed")).count() == 0)
    // multi-byte code points split like substr(i, 1) does
    import spark.implicits._
    val uni = Seq("héé ééh").toDF("text")
      .select(TextOps.bpeEncode(col("text"), Seq(("é", "é"))).as("e"),
        TextOps.bpeEncodeComposed(col("text"), Seq(("é", "é"))).as("c"))
      .head()
    assert(uni.getSeq[scala.collection.Seq[String]](0) ==
      uni.getSeq[scala.collection.Seq[String]](1))
    assert(uni.getSeq[scala.collection.Seq[String]](0).map(_.toSeq) ==
      Seq(Seq("h", "éé"), Seq("éé", "h")))
  }

  test("fused winnowing fingerprint == composed-HOF formulation, corpus-wide + degenerate arms") {
    import graft.ops.TextOps
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = TextOps.shingleList(col("text"), 3)
    val diff = docs.select(
        TextOps.winnowFingerprint(sh, 5).as("fused"),
        TextOps.winnowFingerprintComposed(sh, 5).as("composed"))
      .filter(col("fused") =!= col("composed")).count()
    assert(diff == 0)
    // degenerate arms: empty shingle array (short doc) and 0 < n < w
    import spark.implicits._
    val edge = Seq("a b", "a b c", "a b c d e f g h i j")
      .toDF("text")
      .select(TextOps.winnowFingerprint(TextOps.shingleList(col("text"), 3), 5).as("f"),
        TextOps.winnowFingerprintComposed(TextOps.shingleList(col("text"), 3), 5).as("c"))
      .collect()
    edge.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("fused paragraph regrouping == composed-HOF formulation, corpus-wide + degenerate arms") {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, ParaJoin}
    def fused(k: Int) = ColumnBridge.column(
      ParaJoin(ColumnBridge.expression(col("text")), k))
    def composed(k: Int) =
      graft.queries.PipelineQ.paraCorpusComposed(col("text"), k)
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    for (k <- Seq(1, 3, 7)) {
      val diff = docs.select(fused(k).as("f"), composed(k).as("c"))
        .filter(!(col("f") <=> col("c"))).count()
      assert(diff == 0, s"k=$k diverged on the corpus")
    }
    // degenerate arms: empty, spaces only, space runs, leading/
    // trailing spaces, exactly-k, k+1, multibyte tokens, null
    import spark.implicits._
    val edge = Seq("", "   ", "a", "a b c", "a b c d",
      "  a  b   c d  ", "héé ßß 日本 x y", null)
      .toDF("text")
      .select(fused(3).as("f"), composed(3).as("c"))
      .collect()
    edge.foreach(r => assert(r.get(0) == r.get(1), s"edge row: $r"))
    // spot-check the shape itself, not just parity
    val got = Seq("a b c d e").toDF("text")
      .select(fused(2)).head().getString(0)
    assert(got == "a b\nc d\ne")
  }

  test("fused hashed featurization == composed explode+groupBy, corpus-wide") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    def sortedRows(df: org.apache.spark.sql.DataFrame, id: String) =
      df.orderBy(id, "b").collect().map(_.toSeq).toSeq
    // classifier face: unigrams, seed "w"
    assert(sortedRows(graft.ops.Classify.hashedFeatures(
        docs, "doc_id", "text", 64), "_c_id") ==
      sortedRows(graft.ops.Classify.hashedFeaturesComposed(
        docs, "doc_id", "text", 64), "_c_id"))
    // DSIR face: unigrams + bigrams, seed "d"
    assert(sortedRows(graft.ops.Dsir.hashedNgramFeatures(
        docs, "doc_id", "text", 1024), "_d_id") ==
      sortedRows(graft.ops.Dsir.hashedNgramFeaturesComposed(
        docs, "doc_id", "text", 1024), "_d_id"))
  }

  test("optimizer rewrites the HOF dot-product pattern to the native expression") {
    // non-foldable input, else constant folding evaluates the whole
    // expression before the rewrite is observable
    val df = spark.range(1)
      .select(array(col("id").cast("double") + 1.0, lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
      .select(Similarity.dotHof(col("a"), col("b")).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), s"no rewrite in:\n$optimized")
    assert(df.collect().head.getDouble(0) == 11.0)
  }
}
