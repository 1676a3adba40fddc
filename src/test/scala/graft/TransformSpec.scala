package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{SymbolConfig, ValueRule}
import graft.ops.Transform

/** Pins the §2.4 transform-engine edge semantics surveyed from the
  * reference (file:line cites in Transform.scala scaladoc).
  */
class TransformSpec extends AnyFunSuite {
  // conf-mutating suite: isolated session (see TestSpark.isolated)
  lazy val spark = TestSpark.isolated()
  import spark.implicits._

  private def runCfg(payload: Map[String, String], cfg: SymbolConfig): Map[String, String] = {
    val df = Seq(1).toDF("i").withColumn("p",
      if (payload.isEmpty) map().cast("map<string,string>") else typedlit(payload))
    df.select(Transform.applySymbolConfig(col("p"), cfg).as("out"))
      .collect().head.getMap[String, String](0).toMap
  }

  test("transform order: rules address original names, overrides post-rename names") {
    val out = runCfg(
      Map("p" -> "10"),
      SymbolConfig(
        valueRules = Map("p" -> ValueRule("add", 5)),
        renameFields = Map("p" -> "q"),
        overrideFields = Map("q" -> "X")))
    assert(out == Map("q" -> "X"))
    // without the override, the renamed field carries the rule result
    val out2 = runCfg(
      Map("p" -> "10"),
      SymbolConfig(
        valueRules = Map("p" -> ValueRule("add", 5)),
        renameFields = Map("p" -> "q")))
    assert(out2 == Map("q" -> "15.0"))
  }

  test("rename onto an existing key overwrites it") {
    val out = runCfg(Map("a" -> "1", "b" -> "2"),
      SymbolConfig(renameFields = Map("a" -> "b")))
    assert(out == Map("b" -> "1"))
  }

  test("divide-by-zero and unknown op leave value unchanged") {
    val out = runCfg(Map("x" -> "7", "y" -> "7"),
      SymbolConfig(valueRules = Map(
        "x" -> ValueRule("divide", 0), "y" -> ValueRule("frobnicate", 3))))
    assert(out == Map("x" -> "7", "y" -> "7"))
  }

  test("non-numeric value untouched by rules") {
    val out = runCfg(Map("x" -> "hello"),
      SymbolConfig(valueRules = Map("x" -> ValueRule("add", 1))))
    assert(out == Map("x" -> "hello"))
  }

  test("removes address post-rename names") {
    val out = runCfg(Map("a" -> "1"),
      SymbolConfig(renameFields = Map("a" -> "b"), removeFields = Seq("b")))
    assert(out == Map.empty[String, String])
  }

  test("empty config is identity") {
    val p = Map("a" -> "1", "b" -> "zzz")
    assert(runCfg(p, SymbolConfig()) == p)
  }

  test("normalize stamps meta after payload copy (shadowing)") {
    val df = Seq(("EURUSD", 123L, "FOREX")).toDF("name", "timestamp", "exchange")
      .withColumn("payload", typedlit(Map("symbol" -> "SHADOW", "bid" -> "1.08")))
    val out = Transform.normalize(df).select("flat")
      .collect().head.getMap[String, String](0).toMap
    assert(out == Map("symbol" -> "EURUSD", "timestamp" -> "123",
      "exchange" -> "FOREX", "bid" -> "1.08"))
  }

  test("serveSnapshot: per-(client, symbol) rows equal literal expectations") {
    val snapshot = Seq(("sym1", "10"), ("sym2", "20"), ("sym3", "30"))
      .toDF("symbol", "v")
      .withColumn("flat", map(lit("v"), col("v"))).drop("v")
    val cfgDf = spark.sql(
      """SELECT * FROM VALUES
          ('alpha', 'sym1', map('v', named_struct('op', 'multiply', 'value', 2.0D)),
           CAST(NULL AS MAP<STRING,STRING>), CAST(NULL AS ARRAY<STRING>), map('src', 'alpha')),
          ('alpha', 'sym2', CAST(NULL AS MAP<STRING,STRUCT<op:STRING,value:DOUBLE>>),
           map('v', 'v2'), CAST(NULL AS ARRAY<STRING>), CAST(NULL AS MAP<STRING,STRING>)),
          ('beta', 'sym1', CAST(NULL AS MAP<STRING,STRUCT<op:STRING,value:DOUBLE>>),
           CAST(NULL AS MAP<STRING,STRING>), array('v'), CAST(NULL AS MAP<STRING,STRING>))
        AS t(client_id, symbol, rules, renames, removes, overrides)""")
    val served = Transform.serveSnapshot(snapshot, cfgDf)
      .select("client_id", "symbol", "flat").collect()
      .map(r => (r.getString(0), r.getString(1), r.getMap[String, String](2).toMap))
      .sortBy(t => (t._1, t._2)).toSeq
    // every client sees every record; unconfigured pairs pass through
    assert(served == Seq(
      ("alpha", "sym1", Map("v" -> "20.0", "src" -> "alpha")),
      ("alpha", "sym2", Map("v2" -> "20")),
      ("alpha", "sym3", Map("v" -> "30")),
      ("beta", "sym1", Map.empty[String, String]),
      ("beta", "sym2", Map("v" -> "20")),
      ("beta", "sym3", Map("v" -> "30"))))
  }

  test("override timestamp=current injects wall-clock millis") {
    val before = System.currentTimeMillis()
    val out = runCfg(Map("timestamp" -> "1"),
      SymbolConfig(overrideFields = Map("timestamp" -> "current")))
    val after = System.currentTimeMillis()
    val got = out("timestamp").toLong
    assert(got >= before && got <= after)
  }

  test("fused interpreter == composed-HOF chain, corpus-wide + edge configs") {
    // full events corpus through the q_transform_pipeline payload
    // shape (JSON nulls included) under a config exercising every
    // stage, both formulations; then the stage-skipping null-config
    // arms and a null rename target
    val ev = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
    val payload = map_concat(
      from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")),
      map(lit("v"), col("value").cast("string"), lit("tag"), lit("x"),
        lit("et"), col("event_type")))
    val rules = map(
      lit("v"), struct(lit("multiply").as("op"), lit(1.07).as("value")),
      lit("k"), struct(lit("divide").as("op"), lit(0.0).as("value")),
      lit("et"), struct(lit("add").as("op"), lit(5.0).as("value")))
    val renames = map(lit("k"), lit("k_id"))
    val removes = array(lit("tag"))
    val overrides = map(lit("src"), lit("graft"))
    def both(r: org.apache.spark.sql.Column, rn: org.apache.spark.sql.Column,
        rm: org.apache.spark.sql.Column, ov: org.apache.spark.sql.Column) = ev
      .withColumn("p", payload)
      .select(
        map_entries(Transform.interpret(col("p"), r, rn, rm, ov)).as("fused"),
        map_entries(Transform.interpretComposed(col("p"), r, rn, rm, ov))
          .as("composed"))
      .filter(!(col("fused") <=> col("composed"))).count()
    assert(both(rules, renames, removes, overrides) == 0)
    val nullRules = lit(null).cast("map<string,struct<op:string,value:double>>")
    val nullMap = lit(null).cast("map<string,string>")
    val nullArr = lit(null).cast("array<string>")
    assert(both(nullRules, renames, removes, nullMap) == 0)
    assert(both(rules, nullMap, nullArr, overrides) == 0)
    assert(both(nullRules, nullMap, nullArr, nullMap) == 0)
    // invalid config — null rename target: the composed form's
    // three-valued array_contains makes map_filter drop every
    // non-renamed entry and keep the renamed key under its original
    // name; the kernel replicates that exactly (parity on every
    // input, valid or not)
    val nullTarget = map_from_arrays(array(lit("k")),
      array(lit(null).cast("string")))
    assert(both(nullRules, nullTarget, nullArr, nullMap) == 0)
  }

  test("duplicate post-rename keys defer to the map-key dedup policy, both forms") {
    // invalid config: two payload keys renamed to ONE target. The
    // composed form's map_from_entries applies the engine dedup
    // policy — EXCEPTION (default) throws DUPLICATED_MAP_KEY,
    // LAST_WIN keeps first position / last value. The fused kernel
    // must do the SAME, not silently emit a duplicate-key map.
    val payload = map(lit("a"), lit("1"), lit("b"), lit("2"),
      lit("c"), lit("3"))
    val dupTarget = map(lit("a"), lit("t"), lit("b"), lit("t"))
    val nullRules = lit(null).cast("map<string,struct<op:string,value:double>>")
    val nullMap = lit(null).cast("map<string,string>")
    val nullArr = lit(null).cast("array<string>")
    val one = spark.range(1)
    def entriesOf(c: org.apache.spark.sql.Column): Seq[(String, String)] =
      one.select(map_entries(c).as("e")).collect()(0)
        .getSeq[org.apache.spark.sql.Row](0).map(r =>
          (r.getString(0), r.getString(1)))
    def fused() = entriesOf(
      Transform.interpret(payload, nullRules, dupTarget, nullArr, nullMap))
    def composed() = entriesOf(Transform.interpretComposed(
      payload, nullRules, dupTarget, nullArr, nullMap))
    // default policy is EXCEPTION: both forms throw the engine's
    // duplicate-map-key error
    def dupError(t: Throwable): Boolean = {
      val msgs = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .take(8).flatMap(e => Option(e.getMessage)).mkString("; ")
      msgs.contains("DUPLICATED_MAP_KEY") || msgs.contains("Duplicate map key")
    }
    assert(spark.conf.get("spark.sql.mapKeyDedupPolicy") == "EXCEPTION")
    val fe = intercept[Throwable](fused())
    assert(dupError(fe), s"fused threw the wrong error: $fe")
    val ce = intercept[Throwable](composed())
    assert(dupError(ce), s"composed threw the wrong error: $ce")
    // LAST_WIN: both forms agree on the deduped map (first position,
    // last value — 'b' renamed to 't' overwrites 'a' renamed to 't')
    val prev = spark.conf.get("spark.sql.mapKeyDedupPolicy")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    try {
      val f = fused()
      assert(f == composed())
      assert(f == Seq(("t", "2"), ("c", "3")))
    } finally spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)
  }
}
