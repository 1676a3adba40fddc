package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Latest
import graft.stream.{Broadcast, LatestStream, Metrics, Pipeline}
import graft.stream.LatestStream.Keyed

class StreamingSpec extends AnyFunSuite {
  // conf-mutating suite: isolated session (see TestSpark.isolated)
  lazy val spark = TestSpark.isolated()
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("ingest pipeline: dual sink appends batches and upserts latest (K1/K3/A3)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long, Double)]
    val ticks = in.toDF().toDF("name", "event_id", "ts_ms", "value")
    val dim = Seq(("a", "NYSE"), ("b", "NASDAQ")).toDF("symbol", "exchange")
    val appendDir = tmp("append"); val latestDir = tmp("latest")
    val q = Pipeline.start(ticks, dim, appendDir, latestDir,
      keyCols = Seq("name"), orderCols = Seq("ts_ms", "event_id"),
      nameCol = "name", tsCol = "ts_ms", checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0), retries = 1)
    in.addData(("a", 1L, 100L, 1.0), ("b", 2L, 50L, 2.0), ("", 3L, 10L, 9.9))
    q.processAllAvailable()
    in.addData(("a", 4L, 200L, 3.0), ("c", 5L, 70L, 4.0), ("bad", 6L, 0L, 0.0))
    q.processAllAvailable()
    q.stop()

    // append sink: all valid rows across batches, enriched
    val appended = spark.read.parquet(appendDir)
    assert(appended.count() == 4) // two invalid rows dropped (F1)
    assert(appended.filter(col("name") === "c").select("exchange")
      .head().getString(0) == "unknown")
    // latest: one row per key, the argmax
    val latest = Pipeline.readLatest(spark, latestDir)
      .orderBy("name").collect()
    assert(latest.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 4L), ("b", 2L), ("c", 5L)))
  }

  test("append sink is idempotent per batch id (replay safety)") {
    val dir = tmp("appendIdem")
    val df = Seq((1, "x")).toDF("id", "v")
    Pipeline.appendBatch(df, dir, 7L)
    Pipeline.appendBatch(df, dir, 7L) // replay of same batch
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("append sink writes bigint columns and map values plain; strings keep their dictionaries") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    // few distinct values in every column, so parquet-mr would keep a
    // dictionary on each of them unless the sink turns it off
    val rows = (0 until 400).map(i => (s"S${i % 3}", 1700000000000L + i % 5,
      Map("bid" -> s"${i % 4}.5", "ask" -> s"${i % 4}.75"), Seq("nse", "mcx")(i % 2)))
    val df = rows.toDF("name", "timestamp", "payload", "exchange").coalesce(1)
    val dir = tmp("appendEnc")
    Pipeline.appendBatch(df, dir, 3L)
    val conf = spark.sparkContext.hadoopConfiguration
    val out = new Path(s"$dir/batch=3")
    val files = out.getFileSystem(conf).listStatus(out).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val chunks = files.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
      finally reader.close()
    }
    def dictionary(column: String): Seq[Boolean] = {
      val cs = chunks.filter(_.getPath.toDotString == column)
      assert(cs.nonEmpty, s"no chunk for $column in ${chunks.map(_.getPath.toDotString)}")
      cs.map(c => c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary))
    }
    Seq("timestamp", "payload.key_value.value").foreach(c =>
      assert(dictionary(c).forall(!_), s"$c is dictionary-encoded"))
    Seq("name", "exchange", "payload.key_value.key").foreach(c =>
      assert(dictionary(c).forall(identity), s"$c lost its dictionary"))
    val back = spark.read.parquet(out.toString).collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getMap[String, String](2).toMap, r.getString(3)))
    assert(back.sortBy(_.toString) == rows.sortBy(_.toString))
  }

  test("JDBC sink option plumbing carries batchsize/isolation/DDL types (K1/K2)") {
    val j = Pipeline.JdbcSink("jdbc:postgresql://db:5432/md", "market_data",
      user = "u", password = "p", batchSize = 500,
      createTableColumnTypes = Some("name VARCHAR(255), timestamp BIGINT"))
    assert(j.options == Map(
      "url" -> "jdbc:postgresql://db:5432/md", "dbtable" -> "market_data",
      "user" -> "u", "password" -> "p", "batchsize" -> "500",
      "isolationLevel" -> "READ_COMMITTED",
      "createTableColumnTypes" -> "name VARCHAR(255), timestamp BIGINT"))
    // defaults mirror the reference's writer (batch 1000, read-committed)
    assert(Pipeline.JdbcSink("jdbc:h2:mem:x", "t").options("batchsize") == "1000")
  }

  test("last_used_at: keyed max upsert never regresses on out-of-order batches (C2)") {
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = tmp("lastUsed")
    val b1 = Seq(("k1", 100L), ("k2", 50L)).toDF("api_key", "ts_ms")
    Pipeline.upsertLatest(spark, graft.ops.Auth.lastUsed(b1, "api_key", "ts_ms"),
      dir, Seq("key_hash"), Seq("last_used_at"))
    val b2 = Seq(("k1", 80L), ("k3", 60L)).toDF("api_key", "ts_ms") // k1 late
    Pipeline.upsertLatest(spark, graft.ops.Auth.lastUsed(b2, "api_key", "ts_ms"),
      dir, Seq("key_hash"), Seq("last_used_at"))
    val got = Pipeline.readLatest(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got(hex("k1")) == 100L) // the late batch did not regress it
    assert(got(hex("k2")) == 50L && got(hex("k3")) == 60L)
  }

  test("upsertLatest survives a crash between the two swap renames") {
    import org.apache.hadoop.fs.Path
    val dir = tmp("latestCrash")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b1 = Seq(("a", 1L, 100L)).toDF("name", "event_id", "ts_ms")
    Pipeline.upsertLatest(spark, b1, dir, Seq("name"), Seq("ts_ms", "event_id"))
    // simulate the next upsert crashing after rename(cur→old) but before
    // rename(stage→cur): stage fully written, no `current`
    Seq(("a", 1L, 100L), ("b", 2L, 50L)).toDF("name", "event_id", "ts_ms")
      .write.mode("overwrite").parquet(s"$dir/stage")
    fs.rename(new Path(s"$dir/current"), new Path(s"$dir/old"))
    // reader falls back to the completed stage (newest state)
    assert(Pipeline.readLatest(spark, dir).count() == 2)
    // the next upsert repairs the swap; no prior per-key state is lost
    val b3 = Seq(("c", 3L, 70L)).toDF("name", "event_id", "ts_ms")
    Pipeline.upsertLatest(spark, b3, dir, Seq("name"), Seq("ts_ms", "event_id"))
    val keys = Pipeline.readLatest(spark, dir)
      .select("name").collect().map(_.getString(0)).toSet
    assert(keys == Set("a", "b", "c"))
  }

  test("upsertLatest falls back to `old` when the staged write was incomplete") {
    import org.apache.hadoop.fs.Path
    val dir = tmp("latestCrash2")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b1 = Seq(("a", 1L, 100L)).toDF("name", "event_id", "ts_ms")
    Pipeline.upsertLatest(spark, b1, dir, Seq("name"), Seq("ts_ms", "event_id"))
    // crash mid-stage-write: partial dir without _SUCCESS, current renamed
    Seq(("x", 9L, 1L)).toDF("name", "event_id", "ts_ms")
      .write.mode("overwrite").parquet(s"$dir/stage")
    fs.delete(new Path(s"$dir/stage/_SUCCESS"), false)
    fs.rename(new Path(s"$dir/current"), new Path(s"$dir/old"))
    val b3 = Seq(("c", 3L, 70L)).toDF("name", "event_id", "ts_ms")
    Pipeline.upsertLatest(spark, b3, dir, Seq("name"), Seq("ts_ms", "event_id"))
    val keys = Pipeline.readLatest(spark, dir)
      .select("name").collect().map(_.getString(0)).toSet
    assert(keys == Set("a", "c")) // old state kept, partial stage ignored
  }

  test("stateful keep-last: argmax per key, state survives restart (A1 streaming)") {
    // ProcessingTimeTimeout makes a running query re-trigger forever, so
    // drive it in two AvailableNow runs sharing a checkpoint — which also
    // proves state recovery.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Keyed]
    val ckpt = tmp("ckptState")
    def runOnce(): Seq[Keyed] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Keyed]()
      val q = LatestStream.keepLastStateful(in.toDS(), ttlMs = None)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Keyed], _: Long) =>
          ds.collect().foreach(buf.add); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toArray(Array.empty[Keyed]).toSeq
    }
    in.addData(Keyed("a", 1, 100, 1.0), Keyed("a", 2, 300, 2.0))
    assert(runOnce().map(_.id) == Seq(2L))
    in.addData(Keyed("a", 3, 200, 3.0)) // older than checkpointed state
    // recovered state (id 2, ts 300) beats the late row (ts 200)
    assert(runOnce().map(_.id) == Seq(2L))
  }

  test("stateful keep-last runs on the RocksDB state store (cluster-scale state backend)") {
    // session conf is read at query START, so toggling around one query
    // proves the provider end-to-end without a second SparkSession
    implicit val sqlCtx = spark.sqlContext
    val key = GraftSession.RocksDbStateStore._1
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, GraftSession.RocksDbStateStore._2)
    try {
      val in = MemoryStream[Keyed]
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Keyed]()
      val q = LatestStream.keepLastStateful(in.toDS(), ttlMs = None)
        .writeStream.outputMode("update")
        .option("checkpointLocation", tmp("ckptRocks"))
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Keyed], _: Long) =>
          ds.collect().foreach(buf.add); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      in.addData(Keyed("a", 1, 100, 1.0), Keyed("a", 2, 300, 2.0),
        Keyed("b", 3, 50, 3.0))
      q.awaitTermination()
      assert(buf.toArray(Array.empty[Keyed]).map(_.id).sorted.toSeq == Seq(2L, 3L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("state TTL timeout removes the key (A2, Redis expiry)") {
    val fn = LatestStream.updateLatest(Some(1000L)) _
    // normal update keeps the max record
    val st = TestGroupState.create[Keyed](
      optionalState = Optional.empty[Keyed](), timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    val emitted = fn("a", Iterator(Keyed("a", 1, 100, 1.0), Keyed("a", 2, 50, 2.0)), st).toSeq
    assert(emitted.map(_.id) == Seq(1L))
    assert(st.get.id == 1L)
    // timeout fires: state removed, nothing emitted
    val st2 = TestGroupState.create[Keyed](
      optionalState = Optional.of(Keyed("a", 1, 100, 1.0)),
      timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 99999L, eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val emitted2 = fn("a", Iterator.empty, st2).toSeq
    assert(emitted2.isEmpty && !st2.exists)
  }

  test("A4 quarantine: append-sink exhaustion lands the batch in _quarantine, query keeps running") {
    implicit val sqlCtx = spark.sqlContext
    val m = Metrics.attach(spark)
    val in = MemoryStream[(String, Long, Long, Double)]
    val ticks = in.toDF().toDF("name", "event_id", "ts_ms", "value")
    val dim = Seq(("a", "NYSE")).toDF("symbol", "exchange")
    val appendDir = tmp("appendQ"); val latestDir = tmp("latestQ")
    // a JDBC sink with no registered driver: every append attempt throws
    val badSink = Pipeline.JdbcSink("jdbc:graftnodriver://nowhere/db", "t")
    val q = Pipeline.start(ticks, dim, appendDir, latestDir,
      keyCols = Seq("name"), orderCols = Seq("ts_ms", "event_id"),
      nameCol = "name", tsCol = "ts_ms", checkpointDir = tmp("ckptQ"),
      trigger = Trigger.ProcessingTime(0), retries = 2, retrySleepMs = 1,
      appendSink = Some(badSink), metrics = Some(m))
    in.addData(("a", 1L, 100L, 1.0), ("b", 2L, 50L, 2.0))
    q.processAllAvailable()
    in.addData(("a", 3L, 200L, 3.0))
    q.processAllAvailable() // the query survived the failed batch
    q.stop()
    // both batches quarantined with all their rows
    assert(spark.read.parquet(s"$appendDir/_quarantine").count() == 3)
    // the latest upsert was unaffected by the append-sink outage
    assert(Pipeline.readLatest(spark, latestDir).count() == 2)
    assert(m.errorsSink.sum() == 4) // 2 attempts x 2 batches
    assert(m.batchesQuarantined.sum() == 2)
    // outage over: replay into a working parquet sink, quarantine drains
    val replayed = Pipeline.replayQuarantine(spark, appendDir,
      Pipeline.ParquetSink(appendDir))
    assert(replayed.sorted == Seq(0L, 1L))
    assert(spark.read.parquet(appendDir).count() == 3)
    val qdir = new java.io.File(s"$appendDir/_quarantine")
    assert(!qdir.exists || qdir.list().forall(!_.startsWith("batch=")))
    spark.streams.removeListener(m)
  }

  test("stopping the ingest query mid-append is not a sink failure") {
    implicit val sqlCtx = spark.sqlContext
    val m = Metrics.attach(spark)
    val in = MemoryStream[(String, Long, Long, Double)]
    // the first row the append job evaluates parks its task until the
    // job is cancelled; later jobs pass straight through
    val park = udf { (v: Double) => StopMidAppend.park(); v }
    val ticks = in.toDF().toDF("name", "event_id", "ts_ms", "value")
      .withColumn("value", park(col("value")))
    val dim = Seq(("a", "NYSE")).toDF("symbol", "exchange")
    val appendDir = tmp("appendStop")
    val q = Pipeline.start(ticks, dim, appendDir, tmp("latestStop"),
      keyCols = Seq("name"), orderCols = Seq("ts_ms", "event_id"),
      nameCol = "name", tsCol = "ts_ms", checkpointDir = tmp("ckptStop"),
      trigger = Trigger.ProcessingTime(0), retries = 1, retrySleepMs = 1,
      metrics = Some(m))
    try {
      in.addData(("a", 1L, 100L, 1.0))
      assert(StopMidAppend.entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      q.stop()
    } finally {
      StopMidAppend.release()
      spark.streams.removeListener(m)
    }
    assert(m.errorsSink.sum() == 0L, "a stop-cancelled append counted as a sink error")
    assert(!new java.io.File(s"$appendDir/_quarantine").exists,
      "a stop-cancelled batch was quarantined; it replays on restart")
    assert(q.exception.isEmpty, s"stop surfaced as a failure: ${q.exception}")
  }

  test("per-error-class counters: unmarshal and validation drops counted (K5 errors_total)") {
    implicit val sqlCtx = spark.sqlContext
    val m = Metrics.attach(spark)
    val in = MemoryStream[String]
    val decoded = graft.ops.Ingest.parseWire(in.toDF().toDF("value"), counted = true)
    val dim = Seq(("a", "NYSE")).toDF("symbol", "exchange")
    val q = Pipeline.start(decoded, dim, tmp("appendE"), tmp("latestE"),
      keyCols = Seq("name"), orderCols = Seq("timestamp"),
      nameCol = "name", tsCol = "timestamp", checkpointDir = tmp("ckptE"),
      trigger = Trigger.ProcessingTime(0), retries = 1, metrics = Some(m))
    in.addData(
      """{"name":"a","timestamp":100,"data":{"data":{"bid":"1"}}}""",
      """not json at all""", // unmarshal drop
      """{"nope":1}""", // unmarshal drop (no name field)
      """{"name":"","timestamp":5,"data":{"data":{}}}""", // validation drop
      """{"name":"b","timestamp":0,"data":{"data":{}}}""") // validation drop
    q.processAllAvailable()
    q.stop()
    // observed metrics arrive via async listener events — poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while ((m.errorsUnmarshal.sum() < 2 || m.errorsValidation.sum() < 2)
        && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(m.snapshot("errors_total_unmarshal") == 2)
    assert(m.snapshot("errors_total_validation") == 2)
    spark.streams.removeListener(m)
  }

  test("rebuildLatest recovers per-key state from the append sink after a lost upsert") {
    val appendDir = tmp("appendRb"); val latestDir = tmp("latestRb")
    val b0 = Seq(("a", 1L, 100L), ("b", 2L, 50L)).toDF("name", "event_id", "ts_ms")
    val b1 = Seq(("a", 3L, 200L), ("c", 4L, 70L)).toDF("name", "event_id", "ts_ms")
    Pipeline.appendBatch(b0, appendDir, 0L)
    Pipeline.appendBatch(b1, appendDir, 1L)
    // batch 0's upsert succeeded; batch 1's upsert "failed" (never ran)
    Pipeline.upsertLatest(spark, b0, latestDir, Seq("name"), Seq("ts_ms", "event_id"))
    assert(Pipeline.readLatest(spark, latestDir).count() == 2)
    // recovery: argmax over the durable append history catches state up
    Pipeline.rebuildLatest(spark, appendDir, latestDir,
      Seq("name"), Seq("ts_ms", "event_id"))
    val got = Pipeline.readLatest(spark, latestDir).orderBy("name").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 3L), ("b", 2L), ("c", 4L)))
    // a quarantined batch replayed into the append dir also lands in
    // the rebuild (quarantine → replay → rebuild closes the loop)
    Seq(("d", 9L, 10L)).toDF("name", "event_id", "ts_ms")
      .write.mode("overwrite").parquet(s"$appendDir/_quarantine/batch=2")
    Pipeline.replayQuarantine(spark, appendDir, Pipeline.ParquetSink(appendDir))
    Pipeline.rebuildLatest(spark, appendDir, latestDir,
      Seq("name"), Seq("ts_ms", "event_id"))
    assert(Pipeline.readLatest(spark, latestDir).count() == 4)
    // incremental: fromBatch bounds the replay to the outage window
    // (partition-pruned); existing state keeps the untouched keys
    Pipeline.rebuildLatest(spark, appendDir, latestDir,
      Seq("name"), Seq("ts_ms", "event_id"), fromBatch = Some(1L))
    assert(Pipeline.readLatest(spark, latestDir).count() == 4) // b survives via existing
    // without existing state, only the replayed range's keys remain
    Pipeline.rebuildLatest(spark, appendDir, latestDir,
      Seq("name"), Seq("ts_ms", "event_id"),
      includeExisting = false, fromBatch = Some(1L))
    val keys = Pipeline.readLatest(spark, latestDir)
      .select("name").collect().map(_.getString(0)).toSet
    assert(keys == Set("a", "c", "d")) // batch 0's b is outside the range
  }

  test("metrics listener counts rows and batches (K5)") {
    implicit val sqlCtx = spark.sqlContext
    val m = Metrics.attach(spark)
    val in = MemoryStream[Int]
    val q = in.toDS().writeStream.format("memory")
      .queryName("metrics_sink").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    in.addData(1, 2, 3)
    q.processAllAvailable()
    q.stop()
    spark.streams.awaitAnyTermination(2000)
    val snap = m.snapshot
    assert(snap("messages_processed") >= 3)
    assert(snap("batch_inserts") >= 1)
    assert(snap("queries_started") >= 1)
    spark.streams.removeListener(m)
  }

  test("broadcast serving query re-serves transformed snapshots per tick (A6/K4)") {
    val latestDir = tmp("latestServe")
    // seed the latest table: one row per symbol with a map payload
    val snapshot = Seq(("sym1", 100L, 2.0), ("sym2", 200L, 3.0))
      .toDF("symbol", "ts_ms", "value")
      .withColumn("exchange", lit("unknown"))
      .withColumn("payload", map(lit("v"), col("value").cast("string")))
    val shaped = graft.ops.Transform.normalize(
      snapshot, "symbol", "ts_ms", "exchange")
      .select("symbol", "flat")
    Pipeline.upsertLatest(spark, shaped, latestDir, Seq("symbol"), Seq("flat.timestamp"))
    val configs = spark.sql(
      """SELECT 'alpha' AS client_id, 'sym1' AS symbol,
           map('v', named_struct('op', 'multiply', 'value', 2.0D)) AS rules,
           CAST(NULL AS MAP<STRING,STRING>) AS renames,
           CAST(NULL AS ARRAY<STRING>) AS removes,
           CAST(NULL AS MAP<STRING,STRING>) AS overrides""")
    val served = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val q = Broadcast.start(spark, latestDir, configs, tmp("ckptServe"),
      sink = (df, _) => df.select("client_id", "symbol", "flat")
        .collect().foreach(r => served.add((r.getString(0), r.getString(1),
          r.getMap[String, String](2)("v")))),
      period = "1 second")
    val deadline = System.currentTimeMillis() + 30000
    while (served.size() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200)
    q.stop()
    val got = served.toArray(Array.empty[(String, String, String)]).toSet
    // alpha sees both symbols; sym1 transformed (v*2), sym2 passthrough
    assert(got.contains(("alpha", "sym1", "4.0")))
    assert(got.contains(("alpha", "sym2", "3.0")))
  }

  test("registry gates the serving fan-out to connected clients (C3)") {
    // unit semantics: per-connection counting, last disconnect unregisters
    val r = new graft.stream.Registry
    r.connect("alpha"); r.connect("alpha"); r.connect("beta")
    r.disconnect("alpha")
    assert(r.connected == Set("alpha", "beta"))
    r.disconnect("alpha")
    assert(r.connected == Set("beta"))
    r.disconnect("alpha") // a stray disconnect never re-registers
    assert(r.connected == Set("beta"))

    // serving loop consults the registry per tick: a client connecting
    // mid-stream starts receiving on the next tick
    val latestDir = tmp("latestReg")
    val snapshot = Seq(("sym1", 100L, 2.0)).toDF("symbol", "ts_ms", "value")
      .withColumn("exchange", lit("unknown"))
      .withColumn("payload", map(lit("v"), col("value").cast("string")))
    val shaped = graft.ops.Transform.normalize(
      snapshot, "symbol", "ts_ms", "exchange").select("symbol", "flat")
    Pipeline.upsertLatest(spark, shaped, latestDir, Seq("symbol"), Seq("flat.timestamp"))
    val nulls = """CAST(NULL AS MAP<STRING,STRUCT<op:STRING,value:DOUBLE>>),
      CAST(NULL AS MAP<STRING,STRING>), CAST(NULL AS ARRAY<STRING>),
      CAST(NULL AS MAP<STRING,STRING>)"""
    val configs = spark.sql(
      s"""SELECT * FROM VALUES ('alpha', 'sym1', $nulls), ('gamma', 'sym1', $nulls)
        AS t(client_id, symbol, rules, renames, removes, overrides)""")
    val reg = new graft.stream.Registry
    reg.connect("alpha")
    val served = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = Broadcast.start(spark, latestDir, configs, tmp("ckptReg"),
      sink = (df, _) => df.select("client_id").collect()
        .foreach(row => served.add(row.getString(0))),
      period = "1 second", registry = Some(reg))
    val d1 = System.currentTimeMillis() + 30000
    while (!served.contains("alpha") && System.currentTimeMillis() < d1) Thread.sleep(200)
    assert(served.contains("alpha") && !served.contains("gamma"))
    reg.connect("gamma") // connects mid-stream
    val d2 = System.currentTimeMillis() + 30000
    while (!served.contains("gamma") && System.currentTimeMillis() < d2) Thread.sleep(200)
    q.stop()
    assert(served.contains("gamma"))
  }

  test("serve loop counts skipped ticks and fails after N consecutive failures") {
    val m = Metrics.attach(spark)
    try {
      // persistently broken shape fn: every tick throws. With the
      // failure ceiling the query must FAIL (not serve nothing
      // forever), and each skipped tick must be counted.
      val latestDir = tmp("latestBroken") + "/latest"
      Seq(("sym1", 1L)).toDF("symbol", "ts").write.parquet(latestDir)
      val q = Broadcast.start(spark, latestDir,
        configs = spark.range(1).selectExpr("'alpha' AS client_id"),
        checkpointDir = tmp("ckptBroken"),
        sink = (_, _) => fail("sink must never run: shape throws first"),
        period = "250 milliseconds",
        shape = _ => throw new RuntimeException("broken shape"),
        metrics = Some(m), maxConsecutiveTickFailures = 2)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(60000); fail("query should have failed")
      }
      def causes(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes(ex).exists(_.getMessage.contains("consecutive ticks")), ex.getMessage)
      assert(m.snapshot("serve_tick_failures") >= 2L)
    } finally spark.streams.removeListener(m)
  }

  test("watermarked tumbling window drops late data, append emits closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)] // (ts_ms, value)
    val windowed = in.toDF().toDF("ts_ms", "value")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("w"), col("n"))
    val q = windowed.writeStream.format("memory").queryName("win_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val m = 60000L
    // window [0,5m): two rows; then advance event time far enough that
    // the watermark (max - 10m) passes 5m and the window closes
    in.addData((1 * m, 1.0), (3 * m, 1.0))
    q.processAllAvailable()
    in.addData((20 * m, 1.0)) // watermark -> 10m; closes [0,5m)
    q.processAllAvailable()
    in.addData((2 * m, 9.9)) // late beyond watermark: dropped
    in.addData((21 * m, 1.0))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("win_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // [0,5m) finalized with exactly the 2 on-time rows; the late row
    // never reopens it
    assert(closed.get(0L).contains(2L))
  }

  test("streaming OHLC window state survives restart; closed bars emit exactly once (A8)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)] // (ts_ms, event_id, value)
    val ckpt = tmp("ckptOhlc")
    def run(): Seq[(Long, Double, Double, Long)] = {
      val bars = in.toDF().toDF("ts_ms", "event_id", "value")
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .withColumn("o",
          col("ts_ms") * lit(graft.ops.Bars.TiePack) + col("event_id"))
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "5 minutes"))
        .agg(min_by(col("value"), col("o")).as("open"),
          max_by(col("value"), col("o")).as("close"),
          count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("w"),
          col("open"), col("close"), col("n"))
      val buf =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double, Long)]()
      val q = bars.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (ds: org.apache.spark.sql.DataFrame, _: Long) =>
          ds.collect().foreach(r =>
            buf.add((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toArray(Array.empty[(Long, Double, Double, Long)]).toSeq
    }
    val m = 60000L
    in.addData((1 * m, 1L, 5.0), (3 * m, 2L, 7.0)) // [0,5m) open
    assert(run().isEmpty, "no window closed yet")
    // restart from checkpoint: a third in-window row must MERGE into the
    // recovered window state (open stays the recovered 5.0, n reaches 3),
    // then the 20m row pushes the watermark past 5m and closes the bar
    in.addData((2 * m, 3L, 6.0), (20 * m, 4L, 9.0))
    assert(run() === Seq((0L, 5.0, 7.0, 3L)))
    // a further restart with no input re-emits NOTHING (append-once)
    assert(run().isEmpty, "closed bar re-emitted after restart")
    // and the still-open [20,25m) bar closes later with its own extremes
    in.addData((40 * m, 5L, 1.0))
    assert(run() === Seq((20 * m, 9.0, 9.0, 1L)))
  }

  test("streaming sliding windows: one row lands in every overlapping window (A-family, q_slide_window's streaming face)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)] // (ts_ms, value)
    val m = 60000L
    val windowed = in.toDF().toDF("ts_ms", "value")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("w"), col("n"))
    val q = windowed.writeStream.format("memory").queryName("slide_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // t=7m lands in [0,10m) AND [5m,15m); t=2m only in [-5m,5m) + [0,10m)
    in.addData((7 * m, 1.0), (2 * m, 1.0))
    q.processAllAvailable()
    in.addData((40 * m, 1.0)) // watermark 30m: all three early windows close
    q.processAllAvailable()
    in.addData((41 * m, 1.0))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("slide_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(closed.get(-5 * m).contains(1L)) // t=2m only
    assert(closed.get(0L).contains(2L))     // both rows overlap here
    assert(closed.get(5 * m).contains(1L))  // t=7m only
  }

  test("streaming session windows merge within gap and close past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)] // (user, ts_ms)
    val m = 60000L
    val sessions = in.toDF().toDF("user", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(col("user"), session_window(col("event_time"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), unix_millis(col("session_window.start")).as("s"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // one session: events 1m and 4m apart merge (gaps < 5m)
    in.addData(("u1", 0L), ("u1", 1 * m), ("u1", 5 * m))
    q.processAllAvailable()
    // jump event time far ahead: watermark passes, session closes
    in.addData(("u1", 60 * m))
    q.processAllAvailable()
    in.addData(("u1", 61 * m))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sess_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the first session [0, 5m+gap) finalized with all 3 events merged
    assert(closed.contains(("u1", 0L, 3L)))
  }

  test("session append eviction at the exact watermark tie: end == wm emits (<= convention)") {
    // q_stream_session's oracle keeps sessions with end + gap <= wm;
    // this pins that Spark's eviction predicate agrees AT the tie —
    // a session whose end sits exactly on the watermark is emitted,
    // and one strictly past it is not.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)] // (user, ts_ms)
    val m = 60000L
    val sessions = in.toDF().toDF("user", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(col("user"), session_window(col("event_time"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), unix_millis(col("session_window.start")).as("s"))
    val q = sessions.writeStream.format("memory").queryName("sess_tie")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    in.addData(("u1", 0L), ("u2", 1 * m)) // ends: u1 5m, u2 6m
    q.processAllAvailable()
    // max event 15m pins the FINAL watermark at exactly 5m = u1's end
    // (processAllAvailable runs the trailing no-data batch that
    // applies the advanced watermark to state eviction)
    in.addData(("u3", 15 * m))
    q.processAllAvailable()
    val atTie = spark.table("sess_tie").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    q.stop()
    assert(atTie.contains(("u1", 0L)),
      "session ending exactly AT the watermark must be emitted (oracle's <= convention)")
    assert(!atTie.exists(_._1 == "u2"),
      "session ending strictly past the watermark must still be open")
  }

  test("stream-stream interval join: trades pick up quotes within the time bound") {
    // the streaming face of the batch range join: two watermarked
    // streams, state bounded by watermark + join interval on both sides
    implicit val sqlCtx = spark.sqlContext
    val trades = MemoryStream[(Long, String, Long, Double)] // (id, sym, ts_ms, qty)
    val quotes = MemoryStream[(Long, String, Long, Double)] // (id, sym, ts_ms, px)
    val m = 60000L
    val t = trades.toDF().toDF("trade_id", "t_sym", "t_ts", "qty")
      .withColumn("t_time", timestamp_millis(col("t_ts")))
      .withWatermark("t_time", "10 minutes")
    val qs = quotes.toDF().toDF("quote_id", "q_sym", "q_ts", "px")
      .withColumn("q_time", timestamp_millis(col("q_ts")))
      .withWatermark("q_time", "10 minutes")
    // equality on symbol (stream-stream joins require an equi-key —
    // it is also what bounds the state partitioning) + the time bound
    val joined = t.join(qs,
      expr("t_sym = q_sym AND q_time BETWEEN t_time - INTERVAL 5 MINUTES AND t_time"))
      .select("trade_id", "quote_id", "qty", "px")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    quotes.addData((100L, "A", 1 * m, 10.0), (101L, "A", 3 * m, 11.0),
      (110L, "B", 3 * m, 99.0))
    trades.addData((1L, "A", 4 * m, 5.0)) // both A-quotes in [-1m, 4m]; B filtered by key
    q.processAllAvailable()
    quotes.addData((102L, "A", 30 * m, 12.0))
    trades.addData((2L, "A", 31 * m, 7.0)) // only quote 102 in [26m, 31m]
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (1L, 101L), (2L, 102L)))
  }

  test("streaming EWMA folds across micro-batches like one batch fold") {
    // two in-order micro-batches through checkpointed state must equal
    // the single fold over the concatenated series (the incremental
    // contract), and the mid-stream emission is the prefix fold
    implicit val sqlCtx = spark.sqlContext
    import graft.stream.EwmaStream
    import graft.stream.EwmaStream.Tick
    val in = MemoryStream[Tick]
    val ckpt = tmp("ckptEwma")
    def runOnce(): Seq[EwmaStream.EwmaOut] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[EwmaStream.EwmaOut]()
      val q = EwmaStream.ewmaStateful(in.toDS(), alpha = 0.125)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[EwmaStream.EwmaOut], _: Long) =>
          ds.collect().foreach(buf.add); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toArray(Array.empty[EwmaStream.EwmaOut]).toSeq
    }
    // series for key 7: 10, 20, 40 (deliberately id-inverted in batch 1)
    in.addData(Tick(7L, 2L, 5L, 20.0), Tick(7L, 1L, 0L, 10.0))
    val first = runOnce()
    assert(first == Seq(EwmaStream.EwmaOut(7L, 0.875 * 10.0 + 0.125 * 20.0, 2L)))
    in.addData(Tick(7L, 3L, 9L, 40.0))
    val second = runOnce()
    val full = Seq(20.0, 40.0).foldLeft(10.0)((a, x) => a * 0.875 + x * 0.125)
    assert(second == Seq(EwmaStream.EwmaOut(7L, full, 3L)))
  }

  test("state-partition migration: checkpoint freezes the count; rebuild + initialState restarts at a new count with identical semantics") {
    implicit val sqlCtx = spark.sqlContext
    def statePartitions(ckpt: String): Int = {
      val d = new java.io.File(s"$ckpt/state/0")
      if (!d.exists()) -1
      else d.listFiles().count(f => f.isDirectory && f.getName.forall(_.isDigit))
    }
    def withShufflePartitions[A](n: Int)(body: => A): A = {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prev)
    }
    val logDir = tmp("mig_log")

    // Phase A: stateful keep-last at 4 partitions, durable update log.
    val ckptA = tmp("mig_ckptA")
    withShufflePartitions(4) {
      val in = MemoryStream[Keyed]
      val q = LatestStream.keepLastStateful(in.toDS(), ttlMs = None)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckptA)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Keyed], _: Long) =>
          b.write.mode("append").parquet(logDir)
        }
        .trigger(Trigger.ProcessingTime(0)).start()
      in.addData(Keyed("a", 1L, 100L, 1.0), Keyed("b", 2L, 50L, 2.0))
      q.processAllAvailable()
      q.stop()
    }
    assert(statePartitions(ckptA) == 4, "phase A froze 4 state partitions")

    // Migration: the old checkpoint is ABANDONED (restarting it under
    // a different conf would silently keep 4). Rebuild per-key state
    // from the durable log, start FRESH at 8 partitions with the
    // rebuilt state injected.
    val rebuilt = graft.ops.Latest.keepLastPerKey(
      spark.read.parquet(logDir), Seq("key"), Seq("tsMs", "id")).as[Keyed]
    val ckptB = tmp("mig_ckptB")
    val outB = tmp("mig_outB")
    withShufflePartitions(8) {
      val in = MemoryStream[Keyed]
      val q = LatestStream.keepLastStateful(in.toDS(), ttlMs = None,
          initialState = Some(rebuilt))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckptB)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Keyed], _: Long) =>
          b.write.mode("append").parquet(outB)
        }
        .trigger(Trigger.ProcessingTime(0)).start()
      // b's stale tick (ts 40 < the migrated 50) proves the rebuilt
      // state participates: the emitted update must be the OLD argmax.
      in.addData(Keyed("a", 4L, 200L, 3.0), Keyed("b", 6L, 40L, 9.9),
        Keyed("c", 5L, 70L, 4.0))
      q.processAllAvailable()
      q.stop()
    }
    assert(statePartitions(ckptB) == 8, "migrated query runs 8 state partitions")
    val updates = spark.read.parquet(outB).as[Keyed].collect()
      .map(k => k.key -> (k.tsMs, k.id)).toMap
    assert(updates == Map("a" -> (200L, 4L), "b" -> (50L, 2L), "c" -> (70L, 5L)),
      "post-migration updates continue from the rebuilt argmax state")
  }

  test("streaming paragraph index: per-trigger emission bounded by batch keys, compacted index equals batch (scale-shaped q_stream_para_dedup)") {
    import graft.ops.Dedup
    // Three-file corpus with overlapping paragraphs: file1 = {A, B},
    // file2 = {B, C} (B already indexed), file3 = {A} (all seen).
    val docsDir = tmp("paraidx_docs")
    val batches = Seq(
      Seq((1L, "A\nB"), (2L, "A")), // keys {A, B}
      Seq((3L, "B\nC"), (4L, "C")), // keys {B, C}
      Seq((5L, "A"))) //              keys {A}
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = tmp(s"paraidx_stage$i")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        new java.io.File(docsDir, s"file$i.parquet").toPath)
    }

    val work = tmp("paraidx_work")
    val emitted = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
    val q = Dedup.firstOccurrenceStreamIndex(
      Dedup.paragraphTable(stream, "doc_id", "text"),
      indexDir = s"$work/index", checkpointDir = s"$work/ckpt",
      onBatch = (id, n) => { emitted.put(id, n); () })
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    val perTrigger = emitted.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(perTrigger.count(_ > 0) == 3, s"expected 3 data triggers: $perTrigger")
    // Bounded emission: each trigger emits at most ITS batch's distinct
    // keys (≤ 2 here). Complete-mode re-emission would emit the full
    // 3-key accumulated index on its final trigger under any file order.
    assert(perTrigger.forall(_ <= 2),
      s"per-trigger emission exceeds batch key count (complete-mode shape?): $perTrigger")
    assert(perTrigger.sum <= 5, s"total emission exceeds touched-key total: $perTrigger")

    // Compacted index == batch-built index, and reassembly == batch dedup.
    val allDocs = batches.flatten.toDF("doc_id", "text")
    val batchIndex = Dedup.firstParagraphOccurrence(
        Dedup.paragraphTable(allDocs, "doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getInt(1))).toSet
    val streamIndex = Dedup.readFirstOccurrenceIndex(spark, s"$work/index")
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getInt(1))).toSet
    assert(streamIndex == batchIndex)
    val got = Dedup.reassembleParagraphs(
        Dedup.paragraphTable(allDocs, "doc_id", "text"),
        Dedup.readFirstOccurrenceIndex(spark, s"$work/index"), "doc_id")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    val want = Dedup.dedupParagraphs(allDocs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(got == want)
    assert(want == Seq((1L, "A\nB"), (2L, ""), (3L, "C"), (4L, ""), (5L, "")))
  }

  test("streaming index compaction: read-equivalent mid-stream, on-disk file count bounded across triggers") {
    import graft.ops.Dedup
    // Same overlapping-paragraph corpus as above, but MANY triggers
    // (one doc per file) so the append log would otherwise accumulate
    // a file set per trigger. Threshold 2 (the smallest the
    // compactFiles = 1 floor admits): every trigger that leaves more
    // than two files compacts, so compaction interleaves WITH later
    // appends — the read-equivalence claim is exercised mid-stream,
    // not just at the end. Threshold 0 never compacts.
    val docs = Seq(
      (1L, "A\nB"), (2L, "A"), (3L, "B\nC"), (4L, "C"),
      (5L, "A\nD"), (6L, "D\nB"), (7L, "E"), (8L, "E\nA"))
    def runStream(threshold: Int): String = {
      val docsDir = tmp(s"cmpidx_docs$threshold")
      docs.zipWithIndex.foreach { case ((id, text), i) =>
        val stage = tmp(s"cmpidx_stage${threshold}_$i")
        Seq((id, text)).toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath,
          new java.io.File(docsDir, s"file$i.parquet").toPath)
      }
      val work = tmp(s"cmpidx_work$threshold")
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(docsDir)
      val q = Dedup.firstOccurrenceStreamIndex(
        Dedup.paragraphTable(stream, "doc_id", "text"),
        indexDir = s"$work/index", checkpointDir = s"$work/ckpt",
        compactFiles = 1, compactWhenFilesOver = threshold)
      q.awaitTermination()
      s"$work/index"
    }
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    def indexSet(dir: String): Set[(String, Long, Int)] =
      Dedup.readFirstOccurrenceIndex(spark, dir).collect()
        .map(r => (r.getString(0), r.getStruct(1).getLong(0),
          r.getStruct(1).getInt(1))).toSet

    val compacted = runStream(threshold = 2)
    val uncompacted = runStream(threshold = 0)
    val batchIndex = Dedup.firstParagraphOccurrence(
        Dedup.paragraphTable(docs.toDF("doc_id", "text"), "doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getInt(1))).toSet
    // both read to the exact batch-built index
    assert(indexSet(compacted) == batchIndex)
    assert(indexSet(uncompacted) == batchIndex)
    // bounded growth: the threshold is checked after every trigger's
    // append, so the log never ends a trigger above it; the
    // uncompacted log keeps every trigger's file set
    val nC = parquetFiles(compacted)
    val nU = parquetFiles(uncompacted)
    assert(nU >= 8, s"uncompacted log should hold >= 1 file per trigger, got $nU")
    assert(nC < nU && nC <= 2,
      s"compacted log not bounded: $nC files vs uncompacted $nU")
    // one more OFFLINE compaction pass is read-idempotent and lands
    // exactly at compactFiles files
    val before = indexSet(compacted)
    Dedup.compactFirstOccurrenceIndex(spark, compacted, numFiles = 1)
    assert(indexSet(compacted) == before)
    assert(parquetFiles(compacted) == 1)
  }

  test("streaming index append repairs a crashed compaction swap before recreating the log") {
    import graft.ops.Dedup
    val docs1 = Seq((1L, "A\nB"), (2L, "A"), (3L, "B\nC"), (4L, "C"))
    val docs2 = Seq((5L, "A\nD"), (6L, "D\nB"), (7L, "E"), (8L, "E\nA"))
    val docsDir = tmp("crashidx_docs")
    def addFiles(docs: Seq[(Long, String)], off: Int): Unit =
      docs.zipWithIndex.foreach { case ((id, text), i) =>
        val stage = tmp(s"crashidx_stage${off + i}")
        Seq((id, text)).toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath,
          new java.io.File(docsDir, s"file${off + i}.parquet").toPath)
      }
    val work = tmp("crashidx_work")
    def drain(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(docsDir)
      Dedup.firstOccurrenceStreamIndex(
        Dedup.paragraphTable(stream, "doc_id", "text"),
        indexDir = s"$work/index", checkpointDir = s"$work/ckpt")
        .awaitTermination()
    }
    addFiles(docs1, 0)
    drain()
    Dedup.compactFirstOccurrenceIndex(spark, s"$work/index", numFiles = 1)
    // simulate a crash BETWEEN compaction's two swap renames while the
    // stream is down: target gone, backup holding the whole index
    val idx = new org.apache.hadoop.fs.Path(s"$work/index")
    val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(idx, new org.apache.hadoop.fs.Path(s"$work/index.old")))
    // restart with more files: the append path must RESTORE the backup
    // before recreating the directory — append-first would strand the
    // backed-up index and silently truncate it to the new batch
    addFiles(docs2, 4)
    drain()
    val got = Dedup.readFirstOccurrenceIndex(spark, s"$work/index")
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getInt(1))).toSet
    val want = Dedup.firstParagraphOccurrence(
        Dedup.paragraphTable((docs1 ++ docs2).toDF("doc_id", "text"),
          "doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getInt(1))).toSet
    assert(got == want)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/index.old")))
  }

  test("streaming media near-dup: cadence-invariant, equals batch incremental, bounded per-trigger emission") {
    import graft.ops.Multimodal
    // 4 corpus images; each spawns a near twin (Hamming 2 — drop) and
    // a far twin (Hamming 9 across bands — keep) in the NEW stream
    val corpusHashes = Seq(
      (1L, 0x0123456789abcdL), (2L, 0x0fedcba9876543L),
      (3L, 0x0aaaaaaaaaaaaaL), (4L, 0x0555555555555fL))
    val newRows = corpusHashes.flatMap { case (id, h) =>
      Seq((id + 100L, h ^ 3L), (id + 200L, h ^ 0x111111111L)) }
    val corpusDf = corpusHashes.toDF("media_id", "ahash")
    val docsDir = tmp("media_stream_docs")
    newRows.zipWithIndex.foreach { case ((id, h), i) =>
      val stage = tmp(s"media_stream_stage$i")
      Seq((id, h)).toDF("media_id", "ahash").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        new java.io.File(docsDir, s"file$i.parquet").toPath)
    }
    val postings = Multimodal.imageBandPostings(corpusDf).persist()
    def runStream(tag: String, maxFilesPerTrigger: Option[Int])
        : (Seq[(Long, Long, Boolean)], Seq[Long]) = {
      val work = tmp(s"media_stream_work$tag")
      var reader = spark.readStream.schema("media_id LONG, ahash LONG")
      maxFilesPerTrigger.foreach(n =>
        reader = reader.option("maxFilesPerTrigger", n.toString))
      val perTrigger = scala.collection.mutable.ArrayBuffer[Long]()
      val q = Multimodal.imageNearDupsStream(
        reader.parquet(docsDir), postings,
        outDir = s"$work/out", checkpointDir = s"$work/ckpt",
        onBatch = (_, n) => { perTrigger += n; () })
      q.awaitTermination()
      val got = spark.read.parquet(s"$work/out")
        .orderBy("media_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSeq
      (got, perTrigger.toSeq)
    }
    val (oneByOne, triggers1) = runStream("single", Some(1))
    val (allAtOnce, _) = runStream("all", None)
    // cadence invariance: per-file triggers == one big trigger
    assert(oneByOne == allAtOnce)
    // and both equal the batch incremental on the same split
    val batch = Multimodal.imageNearDupsIncremental(
        newRows.toDF("media_id", "ahash"), corpusDf)
      .orderBy("media_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
    assert(oneByOne == batch)
    // verdicts: every near twin dropped, every far twin kept
    assert(oneByOne.count { case (id, _, keep) => id < 200L && !keep } == 4)
    assert(oneByOne.count { case (id, _, keep) => id >= 200L && keep } == 4)
    // bounded emission: one verdict row per input row per trigger
    assert(triggers1.size == newRows.size && triggers1.forall(_ == 1L))
    postings.unpersist()
    ()
  }

  // the session's shuffle-partition setting caps one trigger's append
  // file count in the threshold-policy test below
  private def statePartitionsForTest: Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("interrupted compaction swap self-repairs on the next compaction") {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.{col, lit, md5, struct}
    val work = tmp("swaprepair")
    val dir = s"$work/index"
    (1L to 20L).map(i => (i, i % 7)).toDF("a", "b")
      .select(md5(col("a").cast("string").cast("binary")).as("_pd_h"),
        struct(col("a").as("_pd_id"), col("b").cast("int").as("_pd_idx"))
          .as("_pd_first"))
      .write.mode("append").parquet(dir)
    val before = Dedup.readFirstOccurrenceIndex(spark, dir)
      .collect().map(_.toString).toSet
    Dedup.compactFirstOccurrenceIndex(spark, dir, numFiles = 1)
    // simulate a crash between the two swap renames: target moved to
    // backup, stage never renamed in
    val d = new java.io.File(dir)
    val bak = new java.io.File(dir + ".old")
    assert(d.renameTo(bak))
    assert(!d.exists && bak.exists)
    // the single writer's next compaction must first restore the
    // backup, then complete — and the index reads identically
    Dedup.compactFirstOccurrenceIndex(spark, dir, numFiles = 1)
    assert(d.exists && !bak.exists)
    val after = Dedup.readFirstOccurrenceIndex(spark, dir)
      .collect().map(_.toString).toSet
    assert(after == before)
  }

  test("threshold-policy compaction: log file count stays bounded by threshold + one trigger's appends") {
    import graft.ops.Dedup
    val docs = (1L to 12L).map(i => (i, s"P$i\nSHARED"))
    val docsDir = tmp("thridx_docs")
    docs.zipWithIndex.foreach { case ((id, text), i) =>
      val stage = tmp(s"thridx_stage$i")
      Seq((id, text)).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        new java.io.File(docsDir, s"file$i.parquet").toPath)
    }
    val work = tmp("thridx_work")
    val threshold = 6
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
    val q = Dedup.firstOccurrenceStreamIndex(
      Dedup.paragraphTable(stream, "doc_id", "text"),
      indexDir = s"$work/index", checkpointDir = s"$work/ckpt",
      compactFiles = 1, compactWhenFilesOver = threshold)
    q.awaitTermination()
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    // 12 triggers, no cadence: only the threshold fires. The count can
    // sit at threshold + one trigger's appends right after a trigger
    // that didn't tip it, never beyond.
    val n = parquetFiles(s"$work/index")
    assert(n <= threshold + statePartitionsForTest,
      s"threshold compaction failed to bound the log: $n files")
    // and the index is still exactly the batch-built one
    val batchIndex = Dedup.firstParagraphOccurrence(
        Dedup.paragraphTable(docs.toDF("doc_id", "text"), "doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getInt(1))).toSet
    val got = Dedup.readFirstOccurrenceIndex(spark, s"$work/index")
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getInt(1))).toSet
    assert(got == batchIndex)
  }

  test("streaming semantic dedup: per-trigger delta passes union to the one-shot batch verdicts (cadence invariance)") {
    import graft.ops.Similarity
    import spark.implicits._
    // 2 centroids on the axes; corpus vectors hug them; arrivals split
    // across two files so the stream sees two triggers.
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cluster", "cv")
    val corpus = Seq(
      (100L, Array(0.9f, 0.1f)), (101L, Array(0.1f, 0.9f)),
      (102L, Array(0.8f, 0.2f))).toDF("vec_id", "embedding")
    val arrivals = Seq(
      Seq((200L, Array(0.95f, 0.05f)), (201L, Array(-1.0f, 0.3f))),
      Seq((202L, Array(0.05f, 0.95f)), (203L, Array(0.4f, -1.0f))))
    val newDir = tmp("semdd_new")
    arrivals.zipWithIndex.foreach { case (rows, i) =>
      val stage = tmp(s"semdd_stage$i")
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        new java.io.File(newDir, s"file$i.parquet").toPath)
    }
    val tau = 0.9
    val work = tmp("semdd_work")
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(newDir)
    val q = stream.writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.semDedupIncremental(batch, corpus, cents, tau)
          .write.mode("append").parquet(s"$work/out")
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$work/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val oneShot = Similarity.semDedupIncremental(
        arrivals.flatten.toDF("vec_id", "embedding"), corpus, cents, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(streamed == oneShot, "cadence changed the verdicts")
    // and the verdicts are the expected ones: near-corpus arrivals
    // dropped, off-axis arrivals kept
    assert(oneShot == Set((200L, 0L, false), (201L, 1L, true),
      (202L, 1L, false), (203L, 0L, true)))
  }

  test("streaming latest equals batch argmax oracle (batch/stream equivalence)") {
    val got = SparkEntry.queries("q_stream_latest")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = {
      val ev = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
        .select("user_id", "event_id", "ts_ms", "event_type", "value")
      Latest.keepLastPerKey(graft.ops.Ingest.validate(ev, "event_type", "ts_ms"),
        Seq("user_id"), Seq("ts_ms", "event_id"))
        .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(got.toSeq == want.toSeq)
  }
}

/** Parks the first task that reaches [[park]] until its job is
  * cancelled (the task thread is interrupted) or [[release]].
  */
object StopMidAppend {
  val entered = new java.util.concurrent.CountDownLatch(1)
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
  @volatile private var released = false

  def park(): Unit =
    if (armed.getAndSet(false)) {
      entered.countDown()
      while (!released) Thread.sleep(10)
    }

  def release(): Unit = released = true
}
