package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, local mode). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Conf-sandboxed session for suites that MUTATE session conf
    * (broadcast thresholds, dedup policy, state-store provider, …):
    * `newSession()` shares the SparkContext (one executor pool, one
    * JVM) but owns its SessionState, so a conf set here — even one a
    * failing test never restores — cannot leak into any other suite.
    * This is the round-14 verdict's suite-isolation ask: the shared
    * mutable conf made a REAL CowTable race look like a cross-suite
    * flake for a whole session. Suites that never touch conf keep
    * sharing [[spark]].
    */
  def isolated(): SparkSession = spark.newSession()
}

class OpsSpec extends AnyFunSuite {
  import graft.ops.{Ingest, Latest}
  import org.apache.spark.sql.functions.{col, from_json, lit}
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("keepLastPerKey picks max ts with id tie-break (A1)") {
    val df = Seq(
      ("a", 1L, 10L, "x"), ("a", 3L, 30L, "y"), ("a", 2L, 30L, "z"),
      ("b", 9L, 5L, "w")
    ).toDF("name", "event_id", "ts_ms", "v")
    val out = Latest.keepLastPerKey(df, Seq("name"), Seq("ts_ms", "event_id"))
      .orderBy("name").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getString(3))).toSeq ==
      Seq(("a", 3L, "y"), ("b", 9L, "w")))
  }

  test("validate drops empty names and non-positive timestamps (F1)") {
    val df = Seq(("", 5L), ("ok", 0L), ("ok", -3L), ("ok", 1L))
      .toDF("name", "timestamp")
    val out = Ingest.validate(df).collect()
    assert(out.length == 1 && out.head.getString(0) == "ok" && out.head.getLong(1) == 1L)
  }

  test("enrichDim defaults misses to 'unknown' (P7)") {
    val facts = Seq(("EURUSD", 1), ("XXX", 2)).toDF("name", "n")
    val dim = Seq(("EURUSD", "FOREX")).toDF("symbol", "exchange")
    val out = Ingest.enrichDim(facts, dim, "name", "symbol", "exchange")
      .orderBy("n").collect()
    assert(out.map(_.getString(2)).toSeq == Seq("FOREX", "unknown"))
  }

  test("parseWire drops corrupt JSON and reads doubly nested payload (S3/F5/P1)") {
    val raw = Seq(
      """{"name":"EURUSD","timestamp":123,"data":{"data":{"bid":"1.08","ask":"1.09"}}}""",
      """not json at all"""
    ).toDF("value")
    val out = Ingest.parseWire(raw).collect()
    assert(out.length == 1)
    val m = out.head.getMap[String, String](2)
    assert(out.head.getString(0) == "EURUSD" && m("bid") == "1.08")
  }

  test("toMarketData shapes to the persisted relation and JSON round-trips (P6)") {
    val raw = Seq(
      """{"name":"EURUSD","timestamp":123,"data":{"data":{"bid":"1.08","ask":"1.09"}}}"""
    ).toDF("value")
    val enriched = Ingest.parseWire(raw).withColumn("exchange", lit("FX"))
    val md = Ingest.toMarketData(enriched)
    // exact relational shape of the persisted table
    assert(md.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      graft.model.Schemas.marketDataSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    // the JSONB column round-trips through the wire parser's map type
    val back = md.withColumn("p",
      from_json(col("data"), org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
      .select("name", "timestamp", "exchange", "p").head()
    assert(back.getString(0) == "EURUSD" && back.getLong(1) == 123L &&
      back.getString(2) == "FX")
    assert(back.getMap[String, String](3) == Map("bid" -> "1.08", "ask" -> "1.09"))
  }

  test("ttlFilter keeps rows within ttl of max ts (A2)") {
    val df = Seq(("a", 100L), ("b", 60L), ("c", 39L)).toDF("k", "ts_ms")
    val out = Latest.ttlFilter(df, "ts_ms", 60L).orderBy("k").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("sinkGuard drops zero timestamps (F2)") {
    import spark.implicits._
    val df = Seq(("a", 5L), ("b", 0L), ("c", 1L)).toDF("name", "timestamp")
    val out = graft.ops.Ingest.sinkGuard(df).orderBy("name").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "c"))
  }
}
