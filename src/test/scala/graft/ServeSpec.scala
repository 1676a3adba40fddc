package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WsClient
import graft.stream.{Broadcast, Metrics, OpsServer, Pipeline, Registry, WsServer}

/** End-to-end serve plane (C1/C4 + A6/K4/C3): a REAL RFC 6455 server
  * in front of the per-second snapshot broadcaster, driven by the
  * repo's own [[WsClient]] — the transport mirror of WsSourceSpec on
  * the ingest side. Pins reference server.go:43-174: auth-before-
  * upgrade, per-second transformed fan-out, multi-connection clients,
  * and dead-connection pruning.
  */
class ServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val apiKeys = Map("key-alpha" -> "alpha", "key-beta" -> "beta")

  /** Latest-table + configs fixture shared by the tests: sym1/sym2
    * snapshots, alpha doubling sym1's v.
    */
  private def serveFixture(): (String, org.apache.spark.sql.DataFrame) = {
    val latestDir = tmp("latestWs")
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
    (latestDir, configs)
  }

  test("upgrade requires a valid X-API-Key (server.go:57-67)") {
    val server = new WsServer(apiKeys.get)
    try {
      // missing key → 401 before any WS handshake
      val e1 = intercept[java.io.IOException](
        WsClient.connect("127.0.0.1", server.boundPort, "/ws"))
      assert(e1.getMessage.contains("401"), e1.getMessage)
      // unknown key → 401
      val e2 = intercept[java.io.IOException](
        WsClient.connect("127.0.0.1", server.boundPort, "/ws",
          headers = Map("X-API-Key" -> "nope")))
      assert(e2.getMessage.contains("401"), e2.getMessage)
      assert(server.registry.connected.isEmpty)
    } finally server.stop()
  }

  test("connected client receives per-second transformed snapshots over a live socket") {
    val (latestDir, configs) = serveFixture()
    val server = new WsServer(apiKeys.get)
    val client = WsClient.connect("127.0.0.1", server.boundPort, "/ws",
      headers = Map("X-API-Key" -> "key-alpha"), readTimeoutMs = 20000)
    val q = Broadcast.start(spark, latestDir, configs, tmp("ckptWs"),
      sink = WsServer.fanOutSink(server),
      period = "1 second", registry = Some(server.registry))
    try {
      assert(server.registry.connected == Set("alpha"))
      // read until both symbols arrive (ticks repeat, so bounded reads
      // suffice); payloads are the reference's flattened JSON rows
      val seen = scala.collection.mutable.Map.empty[String, String]
      val deadline = System.currentTimeMillis() + 30000
      while (seen.size < 2 && System.currentTimeMillis() < deadline)
        client.readText().foreach { msg =>
          val sym = "\"symbol\":\"(sym[0-9])\"".r.findFirstMatchIn(msg).map(_.group(1))
          sym.foreach(s => seen(s) = msg)
        }
      // sym1 transformed (v: 2.0 * 2 = 4.0), sym2 passthrough (3.0)
      assert(seen.get("sym1").exists(_.contains("\"v\":\"4.0\"")), seen.toString)
      assert(seen.get("sym2").exists(_.contains("\"v\":\"3.0\"")), seen.toString)
    } finally {
      q.stop(); client.close(); server.stop()
    }
  }

  test("multi-connection client counts; dead connection is pruned (server.go:132-174)") {
    val server = new WsServer(apiKeys.get, readDeadlineMs = 2000)
    try {
      val c1 = WsClient.connect("127.0.0.1", server.boundPort, "/ws",
        headers = Map("X-API-Key" -> "key-alpha"))
      val c2 = WsClient.connect("127.0.0.1", server.boundPort, "/ws",
        headers = Map("X-API-Key" -> "key-alpha"))
      val c3 = WsClient.connect("127.0.0.1", server.boundPort, "/ws",
        headers = Map("X-API-Key" -> "key-beta"))
      def await(cond: => Boolean): Boolean = {
        val deadline = System.currentTimeMillis() + 15000
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
        cond
      }
      assert(await(server.registry.connected == Set("alpha", "beta")))
      // close one alpha connection: client stays registered on the other
      // (the per-connection count itself is StreamingSpec's registry case)
      c1.close()
      // beta goes silent past the read deadline with no close frame (a
      // pulled cable) while alpha keeps traffic flowing — any inbound
      // frame re-arms alpha's deadline, beta's expires and prunes it
      val deadline = System.currentTimeMillis() + 15000
      while (server.registry.connected != Set("alpha") &&
          System.currentTimeMillis() < deadline) {
        c2.sendText("keepalive"); Thread.sleep(200)
      }
      // c1's close frame was pruned long before beta's deadline expired
      assert(server.registry.connected == Set("alpha"),
        s"beta not pruned, or alpha dropped with c1: ${server.registry.connected}")
      c2.close(); c3.close()
      assert(await(server.registry.connected.isEmpty))
    } finally server.stop()
  }

  test("full reference topology: log ingest -> pipeline -> latest -> broadcast -> live WS client") {
    // the reference's whole lifecycle in one test (README.md:17-36):
    // feed -> decode/validate/enrich -> append + keep-last cache ->
    // per-second broadcaster -> per-client transform -> WebSocket out
    import graft.ops.{Ingest, Transform}
    import graft.sources.LogSource
    val logDir = tmp("e2e_log"); val appendDir = tmp("e2e_append")
    val latestDir = tmp("e2e_latest"); val serveDir = tmp("e2e_serve")
    val dimDf = Seq(("SYM1", "NYSE"), ("SYM2", "NASDAQ")).toDF("symbol", "exchange")
    def frame(sym: String, ts: Long, v: Double) =
      s"""{"name":"$sym","timestamp":$ts,"data":{"data":{"v":"$v"}}}"""
    // SYM1 updates twice (keep-last must serve v=2.5), SYM2 once
    LogSource.append(logDir, 0, Seq(frame("SYM1", 1000, 1.5), frame("SYM2", 1500, 7.0)))
    LogSource.append(logDir, 1, Seq(frame("SYM1", 2000, 2.5)))

    // ingest plane: durable log through the production pipeline
    val raw = spark.readStream.format("graft-log").option("path", logDir).load()
    val iq = Pipeline.start(Ingest.parseWire(raw), dimDf, appendDir, latestDir,
      keyCols = Seq("name"), orderCols = Seq("timestamp"),
      nameCol = "name", tsCol = "timestamp", checkpointDir = tmp("e2e_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      retries = 1)
    try iq.processAllAvailable() finally iq.stop()

    // serve shape: the reference flattens AT SERVE TIME
    // (normalizeMarketData, server.go:110-111) — normalize the cached
    // records once into the serving cache
    val shaped = Transform.normalize(Pipeline.readLatest(spark, latestDir))
      .select(col("name").as("symbol"), col("flat"))
    Pipeline.upsertLatest(spark, shaped, serveDir, Seq("symbol"), Seq("flat.timestamp"))

    // serve plane: per-second broadcast through a live WS server;
    // alpha's config doubles SYM1's v, SYM2 passes through
    val configs = spark.sql(
      """SELECT 'alpha' AS client_id, 'SYM1' AS symbol,
           map('v', named_struct('op', 'multiply', 'value', 2.0D)) AS rules,
           CAST(NULL AS MAP<STRING,STRING>) AS renames,
           CAST(NULL AS ARRAY<STRING>) AS removes,
           CAST(NULL AS MAP<STRING,STRING>) AS overrides""")
    val server = new WsServer(apiKeys.get)
    val client = WsClient.connect("127.0.0.1", server.boundPort, "/ws",
      headers = Map("X-API-Key" -> "key-alpha"), readTimeoutMs = 20000)
    val bq = Broadcast.start(spark, serveDir, configs, tmp("e2e_bckpt"),
      sink = WsServer.fanOutSink(server),
      period = "1 second", registry = Some(server.registry))
    try {
      val seen = scala.collection.mutable.Map.empty[String, String]
      val deadline = System.currentTimeMillis() + 30000
      while (seen.size < 2 && System.currentTimeMillis() < deadline)
        client.readText().foreach { msg =>
          "\"symbol\":\"(SYM[0-9])\"".r.findFirstMatchIn(msg)
            .foreach(m => seen(m.group(1)) = msg)
        }
      // keep-last won (timestamp 2000), transform applied (2.5 * 2),
      // enrichment flowed through the whole path
      val sym1 = seen.getOrElse("SYM1", fail("SYM1 never served"))
      assert(sym1.contains("\"v\":\"5.0\""), sym1)
      assert(sym1.contains("\"timestamp\":\"2000\""), sym1)
      assert(sym1.contains("\"exchange\":\"NYSE\""), sym1)
      val sym2 = seen.getOrElse("SYM2", fail("SYM2 never served"))
      assert(sym2.contains("\"v\":\"7.0\""), sym2) // no config: passthrough
      assert(sym2.contains("\"exchange\":\"NASDAQ\""), sym2)
    } finally {
      bq.stop(); client.close(); server.stop()
    }
  }

  test("live refresh: a tick serves new data while ingest keeps running") {
    // ingest and serve run CONCURRENTLY — the broadcaster's per-tick
    // cache re-read (server.go:98-103) must surface a frame that lands
    // mid-stream, with the serve-time flatten applied inside the tick
    import graft.ops.Ingest
    import graft.sources.LogSource
    val logDir = tmp("live_log"); val appendDir = tmp("live_append")
    val latestDir = tmp("live_latest")
    val dimDf = Seq(("SYM1", "NYSE")).toDF("symbol", "exchange")
    def frame(ts: Long, v: Double) =
      s"""{"name":"SYM1","timestamp":$ts,"data":{"data":{"v":"$v"}}}"""
    LogSource.append(logDir, 0, Seq(frame(1000, 2.5)))
    val raw = spark.readStream.format("graft-log").option("path", logDir).load()
    val iq = Pipeline.start(Ingest.parseWire(raw), dimDf, appendDir, latestDir,
      keyCols = Seq("name"), orderCols = Seq("timestamp"),
      nameCol = "name", tsCol = "timestamp", checkpointDir = tmp("live_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"),
      retries = 1)
    val configs = spark.sql(
      """SELECT 'alpha' AS client_id, 'SYM1' AS symbol,
           map('v', named_struct('op', 'multiply', 'value', 2.0D)) AS rules,
           CAST(NULL AS MAP<STRING,STRING>) AS renames,
           CAST(NULL AS ARRAY<STRING>) AS removes,
           CAST(NULL AS MAP<STRING,STRING>) AS overrides""")
    val server = new WsServer(apiKeys.get)
    val client = WsClient.connect("127.0.0.1", server.boundPort, "/ws",
      headers = Map("X-API-Key" -> "key-alpha"), readTimeoutMs = 20000)
    iq.processAllAvailable() // first frame through before the first tick
    val bq = Broadcast.start(spark, latestDir, configs, tmp("live_bckpt"),
      sink = WsServer.fanOutSink(server), period = "1 second",
      registry = Some(server.registry), shape = Broadcast.normalizeShape())
    try {
      def readUntil(marker: String, limitMs: Long = 30000): Boolean = {
        val deadline = System.currentTimeMillis() + limitMs
        var found = false
        while (!found && System.currentTimeMillis() < deadline)
          found = client.readText().exists(_.contains(marker))
        found
      }
      // initial frame served transformed: 2.5 * 2
      assert(readUntil("\"v\":\"5.0\""), "initial value never served")
      // a NEWER frame lands while both queries keep running; within a
      // few ticks the served snapshot must reflect it: 4.0 * 2
      LogSource.append(logDir, 0, Seq(frame(2000, 4.0)))
      assert(readUntil("\"v\":\"8.0\""), "mid-stream update never served")
    } finally {
      bq.stop(); iq.stop(); client.close(); server.stop()
    }
  }

  test("wss:// serve endpoint: TLS upgrade, auth, and frame round trip") {
    import scala.sys.process._
    // self-signed server identity + client trust store, JDK keytool —
    // the mirror of WsSourceSpec's ingest-side TLS fixture
    val dir = Files.createTempDirectory("graft-serve-tls")
    val serverKs = dir.resolve("server.p12").toString
    val cert = dir.resolve("serve.cer").toString
    val trustKs = dir.resolve("trust.p12").toString
    val pass = "graftpass"
    assert(Seq("keytool", "-genkeypair", "-alias", "serve", "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12", "-keystore", serverKs,
      "-storepass", pass, "-keypass", pass, "-dname", "CN=127.0.0.1",
      "-validity", "1").! == 0)
    assert(Seq("keytool", "-exportcert", "-alias", "serve", "-keystore", serverKs,
      "-storepass", pass, "-file", cert).! == 0)
    assert(Seq("keytool", "-importcert", "-alias", "serve", "-file", cert,
      "-keystore", trustKs, "-storetype", "PKCS12", "-storepass", pass,
      "-noprompt").! == 0)
    val server = new WsServer(apiKeys.get,
      serverSocket = Some(WsServer.tlsServerSocket(serverKs, pass)))
    try {
      val client = WsClient.connect("127.0.0.1", server.boundPort, "/ws",
        headers = Map("X-API-Key" -> "key-alpha"), readTimeoutMs = 15000,
        socketFactory = Some(graft.sources.WsTls.clientSocketFactory(
          Some(trustKs), Some(pass))))
      val deadline = System.currentTimeMillis() + 15000
      while (!server.registry.connected("alpha") &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(server.registry.connected == Set("alpha"))
      // an encrypted broadcast frame arrives intact
      server.broadcast(Map("alpha" -> Seq("""{"hello":"tls"}""")))
      assert(client.readText().contains("""{"hello":"tls"}"""))
      client.close()
    } finally server.stop()
  }

  test("read limit closes a connection that sends an oversized frame (server.go:162)") {
    val server = new WsServer(apiKeys.get, readLimitBytes = 512)
    try {
      val c = WsClient.connect("127.0.0.1", server.boundPort, "/ws",
        headers = Map("X-API-Key" -> "key-alpha"))
      val deadline = System.currentTimeMillis() + 15000
      while (!server.registry.connected("alpha") &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(server.registry.connected == Set("alpha"))
      c.sendText("x" * 600) // over the 512-byte read limit
      while (server.registry.connected("alpha") &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(server.registry.connected.isEmpty,
        "oversized frame must close and prune the connection")
      c.close()
    } finally server.stop()
  }

  test("ops HTTP plane serves /health and Prometheus /metrics (C5, main.go:47-59)") {
    def get(port: Int, path: String): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
      val code = conn.getResponseCode
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      conn.disconnect()
      (code, body)
    }
    val metrics = Metrics.attach(spark)
    val registry = new Registry
    registry.connect("alpha"); registry.connect("beta")
    val ops = new OpsServer(metrics, Some(registry))
    val codegenRe = "graft_codegen_compilations_total (\\d+)".r
    def compilations(body: String): Long =
      codegenRe.findFirstMatchIn(body).map(_.group(1).toLong)
        .getOrElse(fail(s"no graft_codegen_compilations_total line: $body"))
    try {
      val compiledBefore = compilations(get(ops.boundPort, "/metrics")._2)
      // drive one real streaming batch so the counters are non-zero
      implicit val sqlCtx = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val q = in.toDS().writeStream.format("memory").queryName("ops_probe")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
      in.addData(1, 2, 3)
      q.processAllAvailable()
      q.stop()

      assert(get(ops.boundPort, "/health") == ((200, "OK")))
      val (code, body) = get(ops.boundPort, "/metrics")
      assert(code == 200)
      // counters present in exposition format, fed by real progress
      assert(body.contains("# TYPE graft_messages_processed_total counter"))
      assert("graft_messages_processed_total (\\d+)".r.findFirstMatchIn(body)
        .exists(_.group(1).toLong >= 3L), body)
      assert(body.contains("""graft_errors_total{type="unmarshal"}"""))
      assert(body.contains("graft_serve_tick_failures_total"))
      assert(body.contains("graft_connected_clients 2"))
      // a JVM-wide counter read at scrape time: never decreases
      assert(body.contains("# TYPE graft_codegen_compilations_total counter"))
      assert(compilations(body) >= compiledBefore)
      // K5 histogram parity (metrics.go:29-33): bucketed latency
      // exposition with the Prometheus default bounds — _bucket lines
      // cumulative and monotone, +Inf == _count, observations real
      // (>= 1 batch just ran)
      assert(body.contains("# TYPE graft_processing_latency_seconds histogram"))
      val bucketRe =
        """graft_processing_latency_seconds_bucket\{le="([^"]+)"\} (\d+)""".r
      val buckets = bucketRe.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toLong).toSeq
      assert(buckets.map(_._1) == Seq("0.005", "0.01", "0.025", "0.05",
        "0.1", "0.25", "0.5", "1", "2.5", "5", "10", "+Inf"),
        s"bucket bounds: ${buckets.map(_._1)}")
      assert(buckets.map(_._2) == buckets.map(_._2).sorted,
        s"bucket counts must be cumulative/monotone: $buckets")
      val count = "graft_processing_latency_seconds_count (\\d+)".r
        .findFirstMatchIn(body).map(_.group(1).toLong)
      assert(count.contains(buckets.last._2), s"+Inf bucket != count: $body")
      assert(count.exists(_ >= 1L), "no latency observations recorded")
      assert(body.contains("graft_processing_latency_seconds_sum"))
    } finally {
      ops.stop()
      spark.streams.removeListener(metrics)
    }
  }

  test("duplicate config rows serve the same rows as the clean table") {
    val (latestDir, configs) = serveFixture()
    val snapshot = Pipeline.readLatest(spark, latestDir)
      .select("symbol", "flat")
    // a multiset, so a doubled record would show
    def served(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String)] =
      df.collect().map { r =>
        (r.getString(r.fieldIndex("client_id")),
          r.getString(r.fieldIndex("symbol")),
          r.getMap[String, String](r.fieldIndex("flat")).getOrElse("v", ""))
      }.toSeq.sorted
    val clean = served(graft.ops.Transform.serveSnapshot(snapshot, configs))
    assert(clean == Seq(("alpha", "sym1", "4.0"), ("alpha", "sym2", "3.0")))
    // duplicate (client, symbol) rows are malformed config: a
    // self-union serves each record once, directly and in a serve tick
    val dup = configs.unionByName(configs)
    assert(served(graft.ops.Transform.serveSnapshot(snapshot, dup)) == clean)
    val tick = scala.concurrent.Promise[Seq[(String, String, String)]]()
    val q = Broadcast.start(spark, latestDir, dup, tmp("ckptDup"),
      sink = (df, _) => tick.trySuccess(served(df)),
      period = "100 milliseconds")
    try {
      import scala.concurrent.duration._
      assert(scala.concurrent.Await.result(tick.future, 60.seconds) == clean)
    } finally q.stop()
  }

  test("a null-valued rule passes the raw value through (identity)") {
    val (latestDir, _) = serveFixture()
    val snapshot = Pipeline.readLatest(spark, latestDir)
      .select("symbol", "flat")
    // value_rules entry with a null value: from_json fills missing
    // struct fields with null; the interpreter passes the raw value
    // through instead of failing
    val nullRule = spark.sql(
      """SELECT 'alpha' AS client_id, 'sym1' AS symbol,
           map('v', named_struct('op', 'multiply',
                                 'value', CAST(NULL AS DOUBLE))) AS rules,
           CAST(NULL AS MAP<STRING,STRING>) AS renames,
           CAST(NULL AS ARRAY<STRING>) AS removes,
           CAST(NULL AS MAP<STRING,STRING>) AS overrides""")
    val v = graft.ops.Transform.serveSnapshot(snapshot, nullRule)
      .collect().map { r =>
        r.getString(r.fieldIndex("symbol")) ->
          r.getMap[String, String](r.fieldIndex("flat")).getOrElse("v", "")
      }.toMap
    assert(v == Map("sym1" -> "2.0", "sym2" -> "3.0"),
      "null-valued rule must pass the raw value through unchanged")
  }

  test("a tick cut short by the query's own stop is not a serve failure") {
    val (latestDir, configs) = serveFixture()
    val metrics = new Metrics
    val entered = new java.util.concurrent.CountDownLatch(1)
    // the sink blocks until stop() interrupts the tick
    val q = Broadcast.start(spark, latestDir, configs, tmp("ckptStop"),
      sink = (_, _) => { entered.countDown(); Thread.sleep(600000L) },
      period = "100 milliseconds", metrics = Some(metrics),
      maxConsecutiveTickFailures = 1)
    try assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    finally q.stop()
    assert(metrics.serveTickFailures.sum() == 0L)
    assert(q.exception.isEmpty, s"stop surfaced as a failure: ${q.exception}")
  }
}

