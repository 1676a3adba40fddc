package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run shares across its phases: the session, its work
  * directory, the listeners, the tracer and the tallies of checks and
  * operations.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val trace: Boolean, t0Ms: Double) {
  val counts = new SparkCounts(spark.sparkContext)
  val progress = new ProgressLog
  spark.streams.addListener(progress)
  /** Off until a traced run's replay or traced passes begin. */
  val tracer = new Tracer(false)

  private val checkLog = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val opLog = mutable.LinkedHashMap.empty[String, (Long, Long)]

  def dir(name: String): String = work.resolve(name).toString

  /** Log a point of the run's timeline, in seconds since JVM launch. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1f s: $what")

  /** Record an output check: `diff` is None when the output matched. */
  def check(name: String, diff: Option[String]): Unit = {
    checkLog += ((name, diff.isEmpty, diff.getOrElse("")))
    diff.foreach(d => System.err.println(s"[perfbench] CHECK FAILED $name: $d"))
  }

  /** Record that a check rejects a deliberately wrong expectation. */
  def selfCheck(name: String, diffOnWrong: Option[String]): Unit =
    check(s"selfcheck.$name",
      if (diffOnWrong.isDefined) None else Some("accepted a wrong expectation"))

  /** Count operations of one kind: how many were attempted, how many failed. */
  def ops(kind: String, attempted: Long, failed: Long): Unit = {
    val (a, f) = opLog.getOrElse(kind, (0L, 0L))
    opLog(kind) = (a + attempted, f + failed)
  }

  def checks: Seq[(String, Boolean, String)] = checkLog.toSeq
  def opCounts: ListMap[String, (Long, Long)] = ListMap.from(opLog)

  /** Run every row of `df` through the executed plan without writing
    * it anywhere; returns the row count.
    */
  def force(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator(n)
    }.fold(0L)(_ + _)

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }
}

/** What a workload hands back: end-to-end metrics (untraced runs) or
  * per-layer metrics (traced runs), plus anything for the trace artifact.
  */
final case class Outcome(metrics: Map[String, Double], artifact: Map[String, Any] = Map.empty)

object Main {

  /** Units of every metric the benchmark reports. The end-to-end ones
    * are those that stay steady on a shared host: set-up time, CPU time
    * per item (process CPU time, which leaves out the time the host
    * takes the CPUs away, less JIT compilation, scaled to a host of
    * reference speed by `SpeedProbe`) and live heap. Wall-clock
    * throughput and latency moved by 55-84 % between identical runs
    * there, so the traced run reports them, as `wall.*`, without a bound.
    */
  val EndToEnd: ListMap[String, String] = ListMap(
    "setup_s" -> "s",
    "cpu_us_per_item" -> "us",
    "live_heap_mb" -> "MB")

  val Faces: Vector[String] = Vector("q_cow_tombstone")

  val PerLayer: ListMap[String, String] = ListMap(
    "sources.latest_offset_ms" -> "ms",
    "ops.decode_enrich_ms" -> "ms",
    "ops.keep_last_ms" -> "ms",
    "ops.serve_transform_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms",
    "stream.checkpoint_ms" -> "ms",
    "stream.append_ms" -> "ms",
    "stream.upsert_latest_ms" -> "ms",
    "stream.replay_over_add_batch" -> "ratio",
    "stream.read_latest_ms" -> "ms",
    "stream.fanout_ms" -> "ms",
    "stream.ws_write_ms" -> "ms",
    "stream.client_recv_ms" -> "ms",
    "stream.jobs_per_op" -> "count",
    "stream.tasks_per_op" -> "count",
    "stream.bytes_written_per_item" -> "B",
    "stream.shuffle_bytes_per_op" -> "B",
    "stream.ws_bytes_per_tick" -> "B",
    "io.build_s" -> "s",
    "io.plan_s" -> "s",
    "io.exec_s" -> "s",
    "io.jobs" -> "count",
    "io.tasks" -> "count",
    "io.bytes_written" -> "B",
    "io.shuffle_bytes" -> "B") ++
    Faces.map(f => s"io.face.${f}_s" -> "s") ++ ListMap(
    "jvm.gc_ms" -> "ms",
    "jvm.jit_ms" -> "ms",
    "jvm.jit_cpu_ms" -> "ms",
    "jvm.cpu_raw_us_per_item" -> "us",
    "jvm.speed_probe_ms" -> "ms",
    "wall.items_per_s" -> "1/s",
    "wall.latency_p50_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.get("trace").contains("1")
    val work = Paths.get(opts("work"))
    // process start as taken by the launcher, so set-up counts JVM start
    val t0Ms = opts.get("t0-ms").map(_.toDouble).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)

    val cpus = Runtime.getRuntime.availableProcessors.min(4).toString
    val spark = graft.GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      // keep Spark's own status history small, so the heap a run ends
      // with is the program's and not a trail of finished jobs
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .config("spark.sql.streaming.numRecentProgressUpdates", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, seed, seconds, trace, t0Ms)
    ctx.mark("Spark session started")

    val workloads: Map[String, (Ctx, Double) => Outcome] = Map(
      "ingest_drain" -> IngestDrain.run,
      "serve_fanout" -> ServeFanout.run,
      "store_maint" -> StoreMaint.run)
    val outcome =
      try workloads(workload)(ctx, t0Ms)
      catch { case e: Throwable =>
        e.printStackTrace()
        ctx.check("workload completed", Some(e.toString))
        Outcome(Map.empty)
      }

    Seq("speed_probe_ms", "cpu_raw_us_per_item").filter(outcome.metrics.contains)
      .foreach(k => System.err.println(s"[perfbench] $k ${outcome.metrics(k)}"))
    val units = if (trace) PerLayer else EndToEnd
    // a traced run reports every per-layer metric; a layer the workload
    // never calls reads 0
    val metrics =
      if (trace && outcome.metrics.nonEmpty) PerLayer.map { case (k, _) => k -> outcome.metrics.getOrElse(k, 0.0) }
      else outcome.metrics
    val artifact =
      if (!trace) outcome.artifact
      else outcome.artifact ++ ListMap(
        "self_ms_by_layer" -> ctx.tracer.selfMsByLayer,
        "spans" -> ctx.tracer.toJson,
        "progress" -> ctx.progress.all.map(p => ListMap("query" -> p.query, "batch" -> p.batchId,
          "start_ms" -> p.startMs, "rows" -> p.inputRows, "duration_ms" -> p.durations)))
    val result = ListMap(
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> trace,
      "checks" -> ctx.checks.map { case (n, ok, d) => ListMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "ops" -> ctx.opCounts.map { case (k, (a, f)) => k -> ListMap("attempted" -> a, "failed" -> f) },
      "metrics" -> units.collect { case (name, unit) if metrics.contains(name) =>
        name -> ListMap("value" -> metrics(name), "unit" -> unit)
      },
      "artifact" -> artifact)
    Files.write(work.resolve("result.json"), Json(result).getBytes("UTF-8"))
    ctx.mark("result written")
    spark.stop()
  }

  /** Figures of the untraced phase that the traced run reports without
    * a bound: wall-clock throughput and latency, and the CPU time per
    * item before `SpeedProbe` scaled it, with the probe's time.
    */
  def fromUntraced(untraced: Map[String, Double]): ListMap[String, Double] = ListMap(
    "wall.items_per_s" -> untraced("items_per_s"),
    "wall.latency_p50_ms" -> untraced("latency_p50_ms"),
    "jvm.cpu_raw_us_per_item" -> untraced("cpu_raw_us_per_item"),
    "jvm.speed_probe_ms" -> untraced("speed_probe_ms"))

  /** Traced minus untraced, for each untraced figure the traced phase
    * also gave (the probe time is the same one on both sides).
    */
  def overhead(untraced: ListMap[String, Double], traced: Map[String, Double]): Map[String, Any] =
    ListMap.from(untraced.keys.filter(k => traced.contains(k) && k != "speed_probe_ms").map { k =>
      k -> ListMap("untraced" -> untraced(k), "traced" -> traced(k),
        "traced_minus_untraced" -> (traced(k) - untraced(k)))
    })
}
