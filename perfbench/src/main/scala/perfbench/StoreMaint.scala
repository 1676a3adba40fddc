package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame

import graft.queries.Catalog

/** `store_maint`: the catalog's at-rest maintenance faces over generated
  * corpus tables, each prestaged outside the timing (its mutable working
  * copy instantiated through `Catalog.prestages`) and then built,
  * planned and materialized through `Catalog.queries`. The timed phase
  * repeats whole passes over the faces.
  */
object StoreMaint {
  val Docs = 500

  /** Warm-up passes over the faces before the timed phase; the first is
    * the cold one, and the next few still run slower than later passes.
    */
  val WarmPasses = 4

  /** A fixed number of whole passes, one per second of `seconds` (a warm
    * pass over the faces takes 1.2–2.5 s on 4 cores), so every run times
    * the same work.
    */
  def timedPasses(seconds: Int): Int = math.max(2, seconds)

  /** Untraced passes first, then this many with every call in a span,
    * for the tracing overhead.
    */
  val TracedPasses = 2

  final case class FaceRun(buildS: Double, planS: Double, execS: Double, rows: Long) {
    def totalS: Double = buildS + planS + execS
  }

  /** One pass over the faces: each face's run, and the wall and CPU time
    * of the whole pass, prestages included.
    */
  final case class PassRun(faces: ListMap[String, FaceRun], wallS: Double, cpuS: Double,
      counts: Vector[Long]) {
    def maintS: Double = faces.values.map(_.totalS).sum
  }

  def run(ctx: Ctx, t0Ms: Double): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val tables = ctx.dir("tables")
    Inputs.documents(ctx.seed, Docs)
      .map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$tables/documents.parquet")

    ctx.mark("tables written")
    val queries = Catalog.queries
    val prestages = Catalog.prestages
    // only the latest pass's outputs are kept, so that the heap a run
    // ends with does not grow with the number of passes
    val lastOutput = scala.collection.mutable.Map.empty[String, DataFrame]
    def face(name: String, group: String): FaceRun = {
      val p0 = System.nanoTime()
      prestages.get(name).foreach(_(spark, tables))
      System.err.println(f"[perfbench] $group: prestage ${(System.nanoTime() - p0) / 1e9}%.3f s")
      val t = ctx.tracer
      val a = System.nanoTime()
      val df = t.span("io.build", "io", group)(queries(name)(spark, tables))
      val b = System.nanoTime()
      t.span("io.plan", "io", group)(df.queryExecution.executedPlan)
      val c = System.nanoTime()
      val rows = t.span("io.exec", "io", group)(ctx.force(df))
      val d = System.nanoTime()
      System.err.println(f"[perfbench] $group: build ${(b - a) / 1e9}%.3f plan ${(c - b) / 1e9}%.3f exec ${(d - c) / 1e9}%.3f s")
      lastOutput(name) = df
      FaceRun((b - a) / 1e9, (c - b) / 1e9, (d - c) / 1e9, rows)
    }
    var passNo = 0
    def pass(): PassRun = {
      passNo += 1
      val c0 = ctx.counts.read()
      val w = new Jvm.Window
      val faces = ListMap.from(Main.Faces.map(f => f -> face(f, s"pass$passNo/$f")))
      val wallS = w.wallS
      val cpuS = w.cpuS
      val c1 = ctx.counts.read()
      PassRun(faces, wallS, cpuS, c1.zip(c0).map { case (x, y) => x - y })
    }
    def endToEnd(passes: Vector[PassRun], probeMs: Double): ListMap[String, Double] = {
      val runs = passes.size.toDouble * Main.Faces.size
      val cpuUs = passes.map(_.cpuS).sum * 1e6 / runs
      ListMap(
        "items_per_s" -> runs / passes.map(_.wallS).sum,
        "latency_p50_ms" -> Stats.median(passes.map(_.maintS)) * 1000,
        "cpu_us_per_item" -> SpeedProbe.scale(cpuUs, probeMs),
        "cpu_raw_us_per_item" -> cpuUs,
        "speed_probe_ms" -> probeMs)
    }

    (1 to WarmPasses).foreach(_ => pass())
    SpeedProbe.warm()
    ctx.mark("warm-up passes done")
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val w = new Jvm.Window
    val (timed, probeMs) = SpeedProbe.around(timedPasses(ctx.seconds))(pass())
    val gcMs = w.gcMsDelta
    val jitMs = w.jitMsDelta
    val jitCpuMs = w.jitCpuMsDelta
    ctx.mark("timed passes done")
    val heapMb = Jvm.liveHeapMb

    def medianOf(f: FaceRun => Double)(face: String): Double =
      Stats.median(timed.map(p => f(p.faces(face))))
    val faceMedians = Main.Faces.map(f => f -> medianOf(_.totalS)(f))
    timed.foreach(_ => ctx.ops("face_passes", 1L, 0L))
    ctx.ops("face_runs", timed.size.toLong * Main.Faces.size, 0L)

    // outputs of the last timed pass, for the DuckDB oracle compare the
    // launcher runs once this JVM has exited; written before any traced
    // pass re-prestages the faces' working copies
    val outputs = ctx.dir("outputs")
    val oracle = Catalog.oracleSql
    lastOutput.foreach { case (name, df) => df.write.parquet(s"$outputs/$name") }
    val compare = ListMap(
      "tables" -> tables,
      "faces" -> ListMap.from(Main.Faces.map(f => f -> ListMap(
        "sql" -> oracle(f), "out" -> s"$outputs/$f", "rows" -> timed.last.faces(f).rows))))

    val e2e = ListMap("setup_s" -> setupS) ++ endToEnd(timed, probeMs) ++ ListMap("live_heap_mb" -> heapMb)
    if (!ctx.trace) Outcome(e2e, ListMap("oracle" -> compare))
    else {
      ctx.tracer.enabled = true
      val traced = Vector.fill(TracedPasses)(pass())
      def perPass(i: Int): Double = Stats.median(timed.map(_.counts(i).toDouble))
      val sumMedian = (f: FaceRun => Double) => Main.Faces.map(medianOf(f)).sum
      val perLayer = ListMap(
        "stream.jobs_per_op" -> perPass(0) / Main.Faces.size,
        "stream.tasks_per_op" -> perPass(1) / Main.Faces.size,
        "stream.shuffle_bytes_per_op" -> perPass(3) / Main.Faces.size,
        "io.build_s" -> sumMedian(_.buildS),
        "io.plan_s" -> sumMedian(_.planS),
        "io.exec_s" -> sumMedian(_.execS),
        "io.jobs" -> perPass(0),
        "io.tasks" -> perPass(1),
        "io.bytes_written" -> perPass(2),
        "io.shuffle_bytes" -> perPass(3)) ++
        faceMedians.map { case (f, s) => s"io.face.${f}_s" -> s } ++ ListMap(
        "jvm.gc_ms" -> gcMs,
        "jvm.jit_ms" -> jitMs,
        "jvm.jit_cpu_ms" -> jitCpuMs) ++ Main.fromUntraced(e2e)
      Outcome(perLayer, ListMap("oracle" -> compare,
        "overhead" -> Main.overhead(e2e, endToEnd(traced, probeMs))))
    }
  }
}
