package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.{Ingest, Latest}
import graft.sources.{LogOffset, LogSource}
import graft.stream.{Metrics, Pipeline}

/** `ingest_drain`: a bulk-written `graft-log` drained by `Pipeline.start`
  * under `Trigger.AvailableNow` into the parquet append sink and the
  * latest table, with nothing served. One pass drains the whole log
  * into fresh sink directories; the timed phase repeats whole passes.
  */
object IngestDrain {
  val Partitions = 4
  /** One segment per partition, 20,000 lines: a batch admits a quarter
    * of `MaxOffsetsPerTrigger` per partition (10,000 lines), so every
    * segment spans two batches and the second one starts mid-segment.
    */
  val SegmentsPerPartition = 1
  val FramesPerPass = 80000
  val MaxOffsetsPerTrigger = 40000
  /** Warm-up passes over the same log before the timed phase; the
    * first is the cold one. The timed passes are the third and later.
    */
  val WarmPasses = 2

  /** The timed phase is a fixed number of whole passes, about `seconds`
    * long here (a warm pass takes 3.5–4.5 s on 4 cores), so every run
    * times the same work.
    */
  def timedPasses(seconds: Int): Int = math.max(2, math.round(seconds / 4.5).toInt)

  final case class Pass(wallS: Double, cpuS: Double, batches: Vector[Progress],
      appended: Long, quarantined: Long, unmarshalErrors: Long, validationErrors: Long,
      jobs: Long, tasks: Long, bytesWritten: Long, shuffleBytes: Long)

  def run(ctx: Ctx, t0Ms: Double): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val frames = Inputs.frames(ctx.seed, FramesPerPass)
    // frame i goes to partition i % 4, cut into segments
    val byPartition = Vector.tabulate(Partitions)(p =>
      frames.indices.filter(_ % Partitions == p).map(frames(_)))
    val logDir = ctx.dir("log")
    byPartition.zipWithIndex.foreach { case (fs, p) =>
      fs.grouped((fs.size + SegmentsPerPartition - 1) / SegmentsPerPartition)
        .foreach(seg => LogSource.append(logDir, p, seg.map(_.text)))
    }
    val dim = Inputs.dim.toSeq.toDF("symbol", "exchange")
    ctx.mark("logs written")

    var passNo = 0
    def pass(): Pass = {
      passNo += 1
      val out = ctx.dir(s"pass$passNo")
      ctx.delete(ctx.dir(s"pass${passNo - 1}"))
      val metrics = Metrics.attach(spark)
      ctx.progress.clear()
      val c0 = ctx.counts.read()
      val w = new Jvm.Window
      val raw = spark.readStream.format("graft-log")
        .option("path", logDir)
        .option("maxOffsetsPerTrigger", MaxOffsetsPerTrigger.toString)
        .load()
      val q = Pipeline.start(Ingest.parseWire(raw, counted = true), dim,
        s"$out/append", s"$out/latest", Seq("name"), Seq("timestamp"),
        "name", "timestamp", s"$out/ckpt", trigger = Trigger.AvailableNow(),
        metrics = Some(metrics))
      q.awaitTermination()
      val wall = w.wallS
      val cpu = w.cpuS
      val jit = w.jitMsDelta
      val jitCpu = w.jitCpuMsDelta / 1000
      val classes = java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
      val c1 = ctx.counts.read()
      spark.streams.removeListener(metrics)
      val batches = ctx.progress.of("graft-ingest").filter(_.inputRows > 0).sortBy(_.batchId)
      val appended = spark.read.parquet(s"$out/append").count()
      System.err.println(f"[perfbench] pass $passNo: ${batches.size} batches, wall $wall%.3f s, cpu less jit $cpu%.3f s, jit $jit%.0f ms, jit cpu $jitCpu%.3f s, classes $classes")
      Pass(wall, cpu, batches, appended, metrics.batchesQuarantined.sum(),
        metrics.errorsUnmarshal.sum(), metrics.errorsValidation.sum(),
        c1(0) - c0(0), c1(1) - c0(1), c1(2) - c0(2), c1(3) - c0(3))
    }

    (1 to WarmPasses).foreach(_ => pass())
    SpeedProbe.warm()
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val gcJit = new Jvm.Window
    val (timed, probeMs) = SpeedProbe.around(timedPasses(ctx.seconds))(pass())
    val gcMs = gcJit.gcMsDelta
    val jitMs = gcJit.jitMsDelta
    val jitCpuMs = gcJit.jitCpuMsDelta
    ctx.mark("timed passes done")
    val heapMb = Jvm.liveHeapMb

    // ---- accounting and checks, on the last pass's outputs ----
    val nValid = frames.count(_.valid).toLong
    timed.foreach { p =>
      ctx.ops("frames", FramesPerPass.toLong, 0L)
      ctx.ops("valid_frames_appended", nValid, nValid - p.appended)
      ctx.ops("ingest_batches", p.batches.size.toLong, p.quarantined)
    }
    val last = timed.last
    val out = ctx.dir(s"pass$passNo")
    val got = spark.read.parquet(s"$out/append")
    val wantDigest = Expect.appended(frames)
    // digested partition by partition, so the rows are not collected
    val gotDigest = got.select("name", "timestamp", "exchange", "payload").rdd
      .mapPartitions(rows => Iterator(Expect.digest(rows.map(r => Expect.canonical(r.getString(0),
        r.getLong(1), r.getString(2), r.getMap[String, String](3))))))
      .fold(Expect.Digest(0, 0, 0))(_ + _)
    ctx.check("append sink holds every valid frame once", Expect.sameDigest(wantDigest, gotDigest))
    // the wrong expectation drops one valid frame (dropping an invalid
    // one would leave the digest unchanged)
    ctx.selfCheck("append digest",
      Expect.sameDigest(Expect.appended(frames.patch(frames.indexWhere(_.valid), Nil, 1)), gotDigest))
    val batchIds = got.select("batch").distinct().as[Long].collect().toSet
    ctx.check("one append directory per batch",
      if (batchIds == last.batches.map(_.batchId).toSet) None
      else Some(s"append batches $batchIds vs progress ${last.batches.map(_.batchId)}"))
    val latest = spark.read.parquet(s"$out/latest/current").collect()
      .map(r => r.getAs[String]("name") -> Expect.canonical(r.getAs[String]("name"),
        r.getAs[Long]("timestamp"), r.getAs[String]("exchange"),
        r.getAs[scala.collection.Map[String, String]]("payload"))).toMap
    val wantLatest = Expect.latest(frames)
    ctx.check("latest table is the newest valid frame per symbol",
      Expect.sameMap("latest", wantLatest, latest))
    ctx.selfCheck("latest", Expect.sameMap("latest", Expect.latest(frames.dropRight(5000)), latest))
    val corrupt = frames.count(_.text.startsWith("{corrupt")).toLong
    ctx.check("decode errors counted",
      if (last.unmarshalErrors == corrupt) None
      else Some(s"errors_unmarshal ${last.unmarshalErrors} want $corrupt"))
    val invalid = frames.count(f => !f.valid).toLong - corrupt
    ctx.check("validation errors counted",
      if (last.validationErrors == invalid) None
      else Some(s"errors_validation ${last.validationErrors} want $invalid"))

    val allBatches = timed.flatMap(_.batches).toVector
    val items = FramesPerPass.toDouble * timed.size
    val cpuUs = timed.map(_.cpuS).sum * 1e6 / items
    val e2e = ListMap(
      "setup_s" -> setupS,
      "items_per_s" -> items / timed.map(_.wallS).sum,
      "latency_p50_ms" -> Stats.median(allBatches.map(_.d("triggerExecution"))),
      "cpu_us_per_item" -> SpeedProbe.scale(cpuUs, probeMs),
      "cpu_raw_us_per_item" -> cpuUs,
      "speed_probe_ms" -> probeMs,
      "live_heap_mb" -> heapMb)

    ctx.mark("checks done")
    if (!ctx.trace) Outcome(e2e)
    else traced(ctx, byPartition, dim, timed, e2e, gcMs, jitMs, jitCpuMs)
  }

  /** The traced replay: the foreachBatch body's public calls made one by
    * one over the last timed pass's batch boundaries, each in a span.
    */
  private def traced(ctx: Ctx,
      byPartition: Vector[IndexedSeq[Inputs.Frame]], dim: DataFrame,
      timed: Vector[Pass], e2e: ListMap[String, Double], gcMs: Double, jitMs: Double,
      jitCpuMs: Double): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    t.enabled = true
    val out = ctx.dir("replay")
    val schema = StructType(Seq(StructField("value", StringType)))
    val bounds = timed.last.batches.map(p => p.batchId -> LogOffset.parse(p.endOffset).offsets)
    var start = Map.empty[Int, Long]
    val w = new Jvm.Window
    bounds.foreach { case (batchId, end) =>
      val rows = (0 until Partitions).flatMap { p =>
        byPartition(p).slice(start.getOrElse(p, 0L).toInt, end.getOrElse(p, 0L).toInt)
      }.map(f => Row(f.text))
      start = end
      val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, Partitions), schema)
      val g = s"batch-$batchId"
      t.span("stream.batch", "stream", g) {
        val batch = t.span("ops.decode_enrich", "ops", g) {
          val df = Ingest.enrichDim(Ingest.validate(Ingest.parseWire(raw)), dim,
            "name", "symbol", "exchange").persist()
          ctx.force(df)
          df
        }
        t.span("stream.append", "stream", g) {
          Pipeline.appendBatch(batch, s"$out/append", batchId)
        }
        // keep-last over (previous latest ∪ batch), materialized on its
        // own: the upsert below repeats it and writes the result
        t.span("ops.keep_last", "ops", g) {
          val cur = new java.io.File(s"$out/latest/current")
          val prev = if (cur.exists) spark.read.parquet(cur.toString).unionByName(batch) else batch
          ctx.force(Latest.keepLastPerKey(prev, Seq("name"), Seq("timestamp")))
        }
        t.span("stream.upsert_latest", "stream", g) {
          Pipeline.upsertLatest(spark, batch, s"$out/latest", Seq("name"), Seq("timestamp"))
        }
        batch.unpersist()
      }
    }
    val replayWallS = w.wallS
    val replayCpuS = w.cpuS
    val last = timed.last
    val n = last.batches.size.toDouble
    val body = Seq("ops.decode_enrich", "stream.append", "stream.upsert_latest")
      .map(t.named(_).sum).sum
    val addBatch = last.batches.map(_.d("addBatch")).sum
    val perLayer = ListMap(
      "sources.latest_offset_ms" -> Stats.mean(timed.flatMap(_.batches).map(_.d("latestOffset"))),
      "ops.decode_enrich_ms" -> Stats.median(t.named("ops.decode_enrich")),
      "ops.keep_last_ms" -> Stats.median(t.named("ops.keep_last")),
      "stream.add_batch_ms" -> Stats.mean(timed.flatMap(_.batches).map(_.d("addBatch"))),
      "stream.planning_ms" -> Stats.mean(timed.flatMap(_.batches).map(_.d("queryPlanning"))),
      "stream.checkpoint_ms" -> Stats.mean(timed.flatMap(_.batches)
        .map(p => p.d("walCommit") + p.d("commitOffsets"))),
      "stream.append_ms" -> Stats.median(t.named("stream.append")),
      "stream.upsert_latest_ms" -> Stats.median(t.named("stream.upsert_latest")),
      "stream.replay_over_add_batch" -> body / addBatch,
      "stream.jobs_per_op" -> last.jobs / n,
      "stream.tasks_per_op" -> last.tasks / n,
      "stream.bytes_written_per_item" -> last.bytesWritten.toDouble / FramesPerPass,
      "stream.shuffle_bytes_per_op" -> last.shuffleBytes / n,
      "jvm.gc_ms" -> gcMs,
      "jvm.jit_ms" -> jitMs,
      "jvm.jit_cpu_ms" -> jitCpuMs) ++ Main.fromUntraced(e2e)
    val tracedE2e = Map(
      "items_per_s" -> FramesPerPass / replayWallS,
      "latency_p50_ms" -> Stats.median(t.named("stream.batch")),
      "cpu_us_per_item" -> SpeedProbe.scale(replayCpuS * 1e6 / FramesPerPass, e2e("speed_probe_ms")))
    Outcome(perLayer, ListMap(
      "replay_sum_ms" -> body, "untraced_add_batch_sum_ms" -> addBatch,
      "overhead" -> Main.overhead(e2e, tracedE2e)))
  }
}
