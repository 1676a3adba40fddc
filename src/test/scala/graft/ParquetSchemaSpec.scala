package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{CowTable, ForgetStore, FrozenStore, ParquetSchema, Tables}
import graft.ops.Dedup
import graft.stream.Pipeline

/** [[ParquetSchema]] is the one way the library learns a parquet
  * schema, so it must give exactly what Spark's own inference gives,
  * on every table shape the project reads: the generator's tables
  * (pyarrow-written, no Spark row metadata), a footer only the
  * converter can read (TIMESTAMP(NANOS), int96, unannotated binary)
  * and each graft-written layout. And building a library read must
  * then run no Spark job at all.
  */
class ParquetSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val testdata = "/root/testdata"
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** A read at the footer schema has the same output schema as a
    * plain read, partition columns, types, nullability and metadata
    * included, and the footer schema names that schema's data columns
    * (a file relation reads every data column as nullable).
    */
  private def assertSame(what: String, path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(ParquetSchema.read(spark, path).schema == inferred, what)
    val data = ParquetSchema.of(spark, path)
    assert(inferred.fieldNames.startsWith(data.fieldNames), s"$what: $data")
  }

  test("footer schema equals inference on every testdata table (nanosAsLong set as Tables sets it)") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      tables.foreach { t =>
        val path = s"$testdata/$sf/$t.parquet"
        val viaTables = Tables.table(spark, s"$testdata/$sf", t)
        assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
        assert(viaTables.schema == spark.read.parquet(path).schema, path)
        assertSame(path, path)
      }
    }
  }

  test("footer schema equals inference on a footer with no Spark schema: nanos, int96, NTZ micros, raw binary") {
    val dir = tmp("pschema_raw")
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional int64 ts_ns (TIMESTAMP(NANOS,false));
        |  optional int64 ts_us (TIMESTAMP(MICROS,false));
        |  optional int64 ts_utc (TIMESTAMP(MICROS,true));
        |  optional int96 legacy_ts;
        |  optional binary raw;
        |  optional binary name (UTF8);
        |}""".stripMargin)
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withConf(conf).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("id", 1L).append("ts_ns", 1704067798778549001L)
        .append("ts_us", 1704067798778549L)
        .append("ts_utc", 1704067798778549L)
        .append("legacy_ts", Binary.fromConstantByteArray(new Array[Byte](12)))
        .append("raw", Binary.fromString("x"))
        .append("name", "n")
      w.write(g)
    } finally w.close()
    // the legacy flag Tables sets, so TIMESTAMP(NANOS) reads as bigint
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assertSame("raw footer", dir)
    assertSame("raw footer file", s"$dir/part-0.parquet")
  }

  test("footer schema equals inference on every graft-written layout; an empty directory throws naming it") {
    val sf = s"$testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    // the append sink: batch=<id> partitions
    val ticks = Seq(("EURUSD", 1L, 10L, Map("bid" -> "1.0")),
        ("GBPUSD", 2L, 11L, Map("bid" -> "2.0")))
      .toDF("name", "event_id", "ts_ms", "data")
    val sink = tmp("pschema_sink")
    Pipeline.appendBatch(ticks, sink, 0L)
    Pipeline.appendBatch(ticks, sink, 7L)
    assertSame("append sink", sink)
    // the latest table
    val latest = tmp("pschema_latest")
    Pipeline.upsertLatest(spark, ticks, latest, Seq("name"),
      Seq("ts_ms", "event_id"))
    assertSame("latest table", s"$latest/current")
    // a CowTable base whose first partition dir is emptied, with a
    // .changelog beside it holding a delete-only batch
    val cow = tmp("pschema_cow")
    val base = docs.select("doc_id", "lang", "text")
      .withColumn("lang", when(col("doc_id") === 0, lit("aa"))
        .otherwise(col("lang")))
    base.write.mode("overwrite").partitionBy("lang").parquet(cow)
    CowTable.merge(spark, cow, Seq((0L, "aa", "delete")).toDF("doc_id",
      "lang", "op").withColumn("text", lit(null).cast("string")),
      "doc_id", "lang")
    val emptied = new java.io.File(s"$cow/lang=aa")
    assert(emptied.isDirectory && emptied.list().forall(_.startsWith(".")))
    CowTable.appendChanges(spark, cow,
      Seq((1L, "en", "delete")).toDF("doc_id", "lang", "op"),
      "doc_id", "lang")
    assertSame("CowTable base", cow)
    assertSame("delete-only changelog batch", s"$cow/.changelog/cseq=1")
    // a ForgetStore generation, its index tiers and the AnnLayout reps
    val root = tmp("pschema_forget")
    ForgetStore.init(spark, root, docs,
      Tables.embeddings(spark, sf).filter(col("vec_id") < 200))
    Seq("corpus/g1", "bm25/g1/postings", "bm25/g1/dl", "bm25/g1/df",
        "bm25/g1/meta", "pos/g1/postings", "ann/g1/corpus", "ann/g1/reps")
      .foreach(b => assertSame(b, s"$root/blobs/$b"))
    // no data file: a clear error naming the path
    val empty = tmp("pschema_empty")
    Seq((1L, 2L)).toDF("a", "b").filter(lit(false))
      .write.mode("overwrite").parquet(s"$empty/t")
    new java.io.File(s"$empty/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    Seq(s"$empty/t", s"$empty/missing").foreach { p =>
      val e = intercept[IllegalArgumentException](ParquetSchema.of(spark, p))
      assert(e.getMessage.contains(p), e.getMessage)
    }
  }

  /** Spark jobs submitted while `body` runs, drained from the listener
    * bus on both sides.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("building a library read submits zero Spark jobs") {
    val sf = s"$testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val latest = tmp("zj_latest")
    Pipeline.upsertLatest(spark,
      Seq(("EURUSD", 1L, 10L)).toDF("name", "event_id", "ts_ms"), latest,
      Seq("name"), Seq("ts_ms", "event_id"))
    val cow = tmp("zj_cow")
    docs.select("doc_id", "lang", "text").write.mode("overwrite")
      .partitionBy("lang").parquet(cow)
    CowTable.appendChanges(spark, cow,
      Seq((1L, "en", "delete")).toDF("doc_id", "lang", "op"),
      "doc_id", "lang")
    val index = tmp("zj_index") + "/index"
    Seq((1L, 2L)).toDF("_pd_h", "_pd_first").write.parquet(index)
    val key = s"zero-job spec ${java.util.UUID.randomUUID()}"
    FrozenStore.frozenDf(spark, key)(docs.select("doc_id"))
    val root = tmp("zj_forget")
    ForgetStore.init(spark, root, docs,
      Tables.embeddings(spark, sf).filter(col("vec_id") < 200))

    val builds = Seq[(String, () => Any)](
      "Tables.documents" -> (() => Tables.documents(spark, sf)),
      "Pipeline.readLatest" -> (() => Pipeline.readLatest(spark, latest)),
      "CowTable.readMor" -> (() =>
        CowTable.readMor(spark, cow, "doc_id", "lang")),
      "Dedup.readFirstOccurrenceIndex" -> (() =>
        Dedup.readFirstOccurrenceIndex(spark, index)),
      "FrozenStore.frozenDf (second call)" -> (() =>
        FrozenStore.frozenDf(spark, key)(sys.error("built twice"))),
      "ForgetStore.readCorpus" -> (() => ForgetStore.readCorpus(spark, root)))
    val jobs = builds.map { case (name, b) => name -> jobsDuring(b()) }
    assert(jobs.forall(_._2 == 0), s"jobs per build: $jobs")
  }
}
