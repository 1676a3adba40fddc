package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.ops.Transform
import graft.sources.WsClient
import graft.stream.{Broadcast, Metrics, Pipeline, WsServer}

/** `serve_fanout`: the latest table at rest, served by `Broadcast.start`
  * at its 1 s period through `WsServer.fanOutSink` to four WebSocket
  * clients whose configs cover every symbol with all four rule kinds,
  * so `Transform.serveSnapshotAuto` takes its interpreted path.
  */
object ServeFanout {
  // one connection and one reader thread per client, at most one per core
  val Clients = math.min(4, Runtime.getRuntime.availableProcessors)
  /** Tick time falls over the first ten or so ticks (about 5.7 s cold,
    * 1.8 s on the second, 1.1 s by the seventh), so the timed ticks
    * start after this many.
    */
  val WarmTicks = 8
  val ReplayTicks = 5
  val Rows = Inputs.Symbols.size

  final case class Rule(op: String, value: Double)

  /** One load-generator connection: records each text frame with its
    * arrival time.
    */
  final class Client(id: String, port: Int) {
    val frames = new ConcurrentLinkedQueue[(Long, String)]()
    private val received = new java.util.concurrent.atomic.AtomicInteger
    private val ws = WsClient.connect("127.0.0.1", port, "/", Map("X-API-Key" -> id))
    val thread = new Thread(() => {
      try {
        var msg = ws.readText()
        while (msg.isDefined) {
          frames.add((System.nanoTime(), msg.get))
          received.incrementAndGet()
          msg = ws.readText()
        }
      } catch { case _: java.io.IOException => () } // closed at the end of the run
    }, s"perfbench-client-$id")
    thread.setDaemon(true)
    thread.start()
    def count: Int = received.get
    def close(): Unit = { ws.close(); thread.join(5000) }
  }

  private def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > end) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }

  def run(ctx: Ctx, t0Ms: Double): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = Inputs.latestRows(ctx.seed)
    val clientIds = Vector.tabulate(Clients)(i => s"c$i")
    val cfgs = Inputs.configs(ctx.seed, clientIds, Inputs.Symbols)
    val latestDir = ctx.dir("latest")
    Pipeline.upsertLatest(spark,
      rows.map(r => (r.name, r.ts, r.payload.toMap, r.exchange))
        .toDF("name", "timestamp", "payload", "exchange"),
      latestDir, Seq("name"), Seq("timestamp"))
    val configs = cfgs.map(c => (c.client, c.symbol,
      c.rules.map { case (k, (op, v)) => k -> Rule(op, v) }, c.renames.toMap,
      c.removes, c.overrides.toMap))
      .toDF("client_id", "symbol", "rules", "renames", "removes", "overrides")

    val server = new WsServer(key => Some(key).filter(clientIds.contains),
      readDeadlineMs = 600000)
    val clients = clientIds.map(id => new Client(id, server.boundPort))
    waitFor("clients to register", 10000)(server.registry.connected.size == Clients)

    val fan = WsServer.fanOutSink(server)
    // (batch id, sink start, sink end, process CPU at sink end) per tick
    val sinkLog = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val a = System.nanoTime()
      fan(df, id)
      sinkLog.add((id, a, System.nanoTime(), Jvm.cpuNs))
      ()
    }
    val metrics = Metrics.attach(spark)
    val shape = Broadcast.normalizeShape()
    val q = Broadcast.start(spark, latestDir, configs, ctx.dir("ckpt"), sink,
      registry = Some(server.registry), shape = shape, metrics = Some(metrics))

    try {
      ctx.mark("broadcast started")
      waitFor("warm-up ticks", 120000)(sinkLog.size >= WarmTicks)
      ctx.mark("warm-up ticks done")
      val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
      val anchorMs = System.currentTimeMillis(); val anchorNs = System.nanoTime()
      def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
      val fail0 = metrics.serveTickFailures.sum()
      val c0 = ctx.counts.read()
      val w = new Jvm.Window
      // a fixed count of whole ticks, one per second of the 1 s period,
      // so every run times the same work
      val nTimed = ctx.seconds
      waitFor("timed ticks", 120000)(sinkLog.size >= WarmTicks + nTimed)
      val gcMs = w.gcMsDelta
      val jitMs = w.jitMsDelta
      val jitCpuMs = w.jitCpuMsDelta
      val c1 = ctx.counts.read()
      val failed = metrics.serveTickFailures.sum() - fail0
      q.stop()
      val ticks = sinkLog.asScala.toVector
      waitFor("clients to receive every tick", 30000)(
        clients.forall(_.count >= ticks.size * Rows))
      ctx.mark("timed ticks done")
      // the host's speed, taken once the serve query has stopped
      SpeedProbe.warm()
      val probeMs = SpeedProbe.medianMs(5)
      val heapMb = Jvm.liveHeapMb

      // per timed tick: trigger start (progress timestamp) to the last
      // client's receipt of that tick's last frame
      val started = ctx.progress.of("graft-broadcast").map(p => p.batchId -> p.startMs).toMap
      val recv = clients.map(_.frames.asScala.toVector)
      def lastRecvNs(k: Int): Long = recv.map(fs => fs((k + 1) * Rows - 1)._1).max
      val timedIdx = (WarmTicks until WarmTicks + nTimed).filter(k => started.contains(ticks(k)._1))
      val lagMs = timedIdx.map(k => epochMs(lastRecvNs(k)) - started(ticks(k)._1))
      val items = nTimed.toDouble * Rows * Clients
      // wall and CPU over whole tick cycles: from the last warm-up
      // tick's end to the last timed tick's end, so a tick that overruns
      // the period shows as lost throughput
      val first = ticks(WarmTicks - 1); val last = ticks(WarmTicks + nTimed - 1)
      val cycleS = (last._3 - first._3) / 1e9
      val tickCpuS = (last._4 - first._4) / 1e9
      ctx.ops("serve_ticks", nTimed + failed, failed)
      ctx.ops("client_deliveries", items.toLong, 0L)

      val e2e = ListMap(
        "setup_s" -> setupS,
        "items_per_s" -> items / cycleS,
        "latency_p50_ms" -> Stats.median(lagMs),
        "cpu_us_per_item" -> SpeedProbe.scale(tickCpuS * 1e6 / items, probeMs),
        "cpu_raw_us_per_item" -> tickCpuS * 1e6 / items,
        "speed_probe_ms" -> probeMs,
        "live_heap_mb" -> heapMb)

      val outcome =
        if (!ctx.trace) Outcome(e2e)
        else {
          val perTick = (c1.zip(c0)).map { case (a, b) => (a - b).toDouble / math.max(1, nTimed) }
          val tickProgress = ctx.progress.of("graft-broadcast")
            .filter(p => timedIdx.exists(k => ticks(k)._1 == p.batchId))
          val replayCpuS = replay(ctx, server, clients, latestDir, configs, shape)
          val wsBytes = timedIdx.map(k => recv.map(fs =>
            fs.slice(k * Rows, (k + 1) * Rows).map(_._2.getBytes("UTF-8").length.toLong).sum).sum)
          val perLayer = ListMap(
            "sources.latest_offset_ms" -> Stats.mean(tickProgress.map(_.d("latestOffset"))),
            "ops.serve_transform_ms" -> Stats.median(ctx.tracer.named("ops.serve_transform")),
            "stream.add_batch_ms" -> Stats.mean(tickProgress.map(_.d("addBatch"))),
            "stream.planning_ms" -> Stats.mean(tickProgress.map(_.d("queryPlanning"))),
            "stream.checkpoint_ms" -> Stats.mean(tickProgress
              .map(p => p.d("walCommit") + p.d("commitOffsets"))),
            "stream.read_latest_ms" -> Stats.median(ctx.tracer.named("stream.read_latest")),
            "stream.fanout_ms" -> Stats.median(timedIdx.map(k => (ticks(k)._3 - ticks(k)._2) / 1e6)),
            "stream.ws_write_ms" -> Stats.median(ctx.tracer.named("stream.ws_write")),
            "stream.client_recv_ms" -> Stats.median(timedIdx.map(k => (lastRecvNs(k) - ticks(k)._3) / 1e6)),
            "stream.jobs_per_op" -> perTick(0),
            "stream.tasks_per_op" -> perTick(1),
            "stream.bytes_written_per_item" -> perTick(2) / (Rows * Clients),
            "stream.shuffle_bytes_per_op" -> perTick(3),
            "stream.ws_bytes_per_tick" -> Stats.median(wsBytes.map(_.toDouble)),
            "jvm.gc_ms" -> gcMs,
            "jvm.jit_ms" -> jitMs,
            "jvm.jit_cpu_ms" -> jitCpuMs) ++ Main.fromUntraced(e2e)
          // the replay runs its ticks back to back, not at the 1 s
          // period, so it has no throughput to compare
          val tracedE2e = Map(
            "latency_p50_ms" -> Stats.median(ctx.tracer.named("stream.tick")),
            "cpu_us_per_item" -> SpeedProbe.scale(replayCpuS * 1e6 / (ReplayTicks * Rows * Clients), probeMs))
          Outcome(perLayer, ListMap("overhead" -> Main.overhead(e2e, tracedE2e)))
        }

      // every tick (timed, warm-up and replayed) delivered one frame per
      // (client, symbol), each equal to the rules applied in plain Scala
      val served = ticks.size + (if (ctx.trace) ReplayTicks else 0)
      waitFor("clients to receive replayed ticks", 30000)(clients.forall(_.count >= served * Rows))
      checkFrames(ctx, clients.map(_.frames.asScala.toVector.map(_._2)), clientIds, rows, cfgs, served)
      outcome
    } finally {
      if (q.isActive) q.stop()
      server.stop()
      clients.foreach(_.close())
      spark.streams.removeListener(metrics)
    }
  }

  /** Serve ticks made by the benchmark itself, the broadcast body's
    * public calls one at a time, each in a span. Returns their process
    * CPU time in seconds.
    */
  private def replay(ctx: Ctx, server: WsServer, clients: Seq[Client], latestDir: String,
      configs: DataFrame, shape: DataFrame => DataFrame): Double = {
    val t = ctx.tracer
    t.enabled = true
    val w = new Jvm.Window
    (0 until ReplayTicks).foreach { k =>
      val g = s"replay-tick-$k"
      val target = clients.map(_.count + Rows)
      t.span("stream.tick", "stream", g) {
        val snap = t.span("stream.read_latest", "stream", g) {
          Pipeline.readLatest(ctx.spark, latestDir)
        }
        val ids = server.registry.connected.toSeq
        val active = configs.filter(col("client_id").isin(ids: _*))
        val out = t.span("ops.serve_transform", "ops", g) {
          val d = Transform.serveSnapshotAuto(shape(snap), active).persist()
          ctx.force(d)
          d
        }
        val payloads = t.span("stream.render_collect", "stream", g) {
          val cols = out.columns.filterNot(_ == "client_id").toIndexedSeq
          out.select(col("client_id").cast("string"), to_json(struct(cols.map(col): _*)))
            .collect().groupBy(_.getString(0)).map { case (c, rs) => c -> rs.toSeq.map(_.getString(1)) }
        }
        out.unpersist()
        t.span("stream.ws_write", "stream", g)(server.broadcast(payloads))
        t.span("stream.client_recv", "stream", g) {
          waitFor("replayed tick", 30000)(clients.zip(target).forall { case (c, n) => c.count >= n })
        }
      }
    }
    w.cpuS
  }

  private def checkFrames(ctx: Ctx, frames: Seq[Vector[String]], clientIds: Seq[String],
      rows: Vector[Inputs.LatestRow], cfgs: Vector[Inputs.Cfg], ticks: Int): Unit = {
    val rowOf = rows.map(r => r.name -> r).toMap
    val cfgOf = cfgs.map(c => (c.client, c.symbol) -> c).toMap
    def parse(s: String): (String, Map[String, String]) = {
      val n = Json.mapper.readTree(s)
      n.get("symbol").asText() -> n.get("flat").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }
    var bad = Option.empty[String]
    var wrongRejected = false
    frames.zip(clientIds).foreach { case (fs, client) =>
      (0 until ticks).foreach { k =>
        val tick = fs.slice(k * Rows, (k + 1) * Rows).map(parse)
        val symbols = tick.map(_._1)
        if (bad.isEmpty && symbols.sorted != Inputs.Symbols)
          bad = Some(s"client $client tick $k: ${symbols.distinct.size} distinct symbols in ${symbols.size} frames")
        tick.foreach { case (sym, flat) =>
          rowOf.get(sym).foreach { r =>
            val want = Expect.served(r, cfgOf.get((client, sym)))
            if (bad.isEmpty && want != flat)
              bad = Some(s"client $client tick $k symbol $sym: want $want got $flat")
            if (Expect.served(r, None) != flat) wrongRejected = true
          }
        }
      }
      if (bad.isEmpty && fs.size != ticks * Rows)
        bad = Some(s"client $client received ${fs.size} frames for $ticks ticks")
    }
    ctx.check("every tick serves one transformed frame per client and symbol", bad)
    // a wrong expectation (the untransformed payload) must not match
    ctx.selfCheck("served values", if (wrongRejected) Some("untransformed payloads differ") else None)
  }
}
