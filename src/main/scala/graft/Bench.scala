package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** 1-minute system load average (-1.0 where unsupported). */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Concurrently running JVMs on this box (self included) — the
    * "is someone else benching right now" signal. /proc scan; -1 on
    * non-Linux.
    */
  private def javaProcs(): Int =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
        .iterator().asScala.count { p =>
          p.getFileName.toString.forall(_.isDigit) &&
            (try new String(java.nio.file.Files.readAllBytes(
                p.resolve("comm"))).trim == "java"
             catch { case _: Throwable => false })
        }
    } catch { case _: Throwable => -1 }

  def main(args: Array[String]): Unit = {
    // environment metadata FIRST, before the session spins up its 32
    // threads: the start numbers are the ambient contention a reader
    // needs to judge whether totals are comparable across rounds
    // (tools/bench_gate.py refuses a "closing" label above threshold)
    val loadStart = loadAvg()
    val jvmsStart = javaProcs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.SharedCodegen._1, GraftSession.SharedCodegen._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated query filter for focused iteration; the
    // driver leaves it unset so round benchmarks always cover everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }
    // MATERIALIZING force (round 14): time what a consumer actually
    // pays. `.count()` lets Catalyst prune every unconsumed column, so
    // a pure-projection face (tokenizer encode, text scoring, NFC…)
    // timed its scan and none of its expressions — q_bpe_encode
    // recorded 0.16 s while any real reader of its output paid 12 s
    // (PERF.md round-14). Consuming the executed plan's UnsafeRow
    // iterator forces every output column through the projection —
    // the same work a sink pays, no bytes written — and still yields
    // the row count. Aggregating/sorting faces are unaffected (their
    // columns were never prunable); only pruned projections get
    // honest. Discontinuity vs pre-round-14 pins documented in
    // PERF.md and re-pinned at the round-14 close.
    def force(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator(n)
      }.fold(0L)(_ + _)
    // warmup: run every query once at the smallest SF so each plan's
    // whole-stage codegen is compiled before timing (cold-start JIT
    // otherwise dominates sub-second queries) — excluded from timings
    val warmDir = "/root/testdata/sf0.001"
    queries.foreach { case (_, fn) =>
      try { force(fn(spark, warmDir)) } catch { case _: Throwable => () }
    }
    // repeat-and-median: single runs at sub-second scale are dominated
    // by machine noise (observed ±5 s across identical round totals);
    // the median of SPARK_GRAFT_BENCH_REPS runs per query makes
    // round-over-round comparisons meaningful. 5 reps unlocks honest
    // p25/p75 spreads below.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    // INTERLEAVED rep-major order: all reps of a query back-to-back
    // couple its timings to whatever JIT/GC state the previous query
    // left behind (a measured 8x floor shift on q_kmv_distinct traced
    // to exactly this). Running rep r of EVERY query before rep r+1 of
    // any, with the start point rotated each rep, decorrelates a
    // query's reps from any single neighbor.
    val names = queries.keys.toVector
    val timings = scala.collection.mutable.Map.empty[String, Vector[(Double, Long)]]
      .withDefaultValue(Vector.empty)
    for (r <- 0 until reps) {
      val rot = if (names.isEmpty) names
                else names.drop((r * names.length) / math.max(reps, 1) % names.length) ++
                     names.take((r * names.length) / math.max(reps, 1) % names.length)
      rot.foreach { name =>
        val fn = queries(name)
        // untimed instantiation of mutable working state (snapshot
        // copies, staged CDC input) for mutation-measuring faces —
        // the face times the MUTATION against an existing artifact,
        // the way a deployment pays it; see queries.Staged
        try graft.queries.Catalog.prestages.get(name)
          .foreach(_(spark, sfDir))
        catch { case t: Throwable =>
          // a failed prestage falls back to inline instantiation in
          // the timed run — the rep stays valid, just pays setup;
          // say so instead of silently reverting the measurement
          System.err.println(s"[bench] prestage($name) failed: $t")
        }
        val t0 = System.nanoTime()
        val n = try force(fn(spark, sfDir))
                catch { case _: Throwable => -1L }
        timings(name) = timings(name) :+ (((System.nanoTime() - t0) / 1e9, n))
      }
    }
    // FLOOR DECOMPOSITION (SPARK_GRAFT_BENCH_FLOOR=1): split each
    // query's median into the three phases a total-seconds reader
    // conflates — build (the fn() call: DataFrame construction plus
    // any driver-side work the face performs eagerly: streams drained,
    // artifacts mutated, models trained), plan (analysis + optimization
    // + physical planning + codegen of the RETURNED frame), and exec
    // (the toRdd drain). Purpose: the round-14 close and a same-tree
    // re-run landed 205.5 s vs 229.6 s with every per-query excursion
    // in the jitter class — the TOTAL moves with box state because it
    // sums 214 per-query floors. This mode measures those floors so
    // catalog growth and drift stop contaminating cross-round reads:
    // compare per-query exec medians against the pin; treat
    // build+plan as the catalog-size-proportional overhead line.
    // Extra runs per query, so it's opt-in and writes its own
    // artifact (bench_floor.json), never bench_out.json.
    if (sys.env.get("SPARK_GRAFT_BENCH_FLOOR").contains("1")) {
      val floor = names.map { name =>
        val fn = queries(name)
        try graft.queries.Catalog.prestages.get(name)
          .foreach(_(spark, sfDir))
        catch { case _: Throwable => () }
        // floor measurements tolerate failures like the timed loop
        // does (-1 sentinel per phase): one broken face must not
        // abort main before bench_out.json/bench_floor.json are
        // written — the timed artifact is the round's record
        try {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force planning
          val t2 = System.nanoTime()
          force(df)
          val t3 = System.nanoTime()
          name -> ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        } catch { case t: Throwable =>
          System.err.println(s"[bench] floor($name) failed: $t")
          name -> ((-1.0, -1.0, -1.0))
        }
      }.toMap
      val fl = floor.map { case (k, (b, p, e)) =>
        s"\"" + k + s"\":[$b,$p,$e]"
      }.mkString("{", ",", "}")
      val floorLine =
        s"""{"metric":"floor","phases":["build","plan","exec"],"per_query":$fl,"sf":"$sfDir"}"""
      println(floorLine)
      // same guard as bench_out.json below: a FILTERED floor run
      // must not clobber the full-record artifact
      if (only.isEmpty)
        try java.nio.file.Files.write(
          java.nio.file.Paths.get("bench_floor.json"),
          (floorLine + "\n").getBytes("UTF-8"))
        catch { case _: Throwable => () }
    }
    // failed reps must stay visible: a rep that throws is excluded from
    // the median and counted in "errors"; a query with zero successful
    // reps records -1 so broken queries can't masquerade as fast ones
    val results = queries.map { case (name, _) =>
      val runs = timings(name)
      val good = runs.collect { case (t, n) if n >= 0 => t }
      // honest spread labelling: with < 5 successful reps the quartile
      // indices collapse to (min, max), so the interval is only called
      // p25/p75 when there are enough reps to mean it
      val spread = if (good.length >= 3) {
        val s = good.sorted
        Some((s(s.length / 4), s(s.length - 1 - s.length / 4)))
      } else None
      val spreadIsQuartile = good.length >= 5
      // row count of the last successful rep: a query that silently
      // starts returning 0 rows would otherwise look "fast and green"
      val rows = runs.map(_._2).filter(_ >= 0).lastOption.getOrElse(-1L)
      name -> (if (good.nonEmpty) median(good) else -1.0,
        reps - good.length, spread, rows, spreadIsQuartile)
    }
    val qs = results.map { case (k, (v, _, _, _, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, (_, e, _, _, _)) if e > 0 => s"\"" + k + "\":" + e }
      .mkString("{", ",", "}")
    val total = results.values.collect { case (v, _, _, _, _) if v >= 0 => v }.sum
    // per-query spread: machine load on this box varies enough that
    // medians alone can't show which numbers to trust. (min,max) of the
    // successful reps below 5 reps, (p25,p75) at 5+.
    val iqr = results.collect { case (k, (_, _, Some((lo, hi)), _, _)) =>
      s"\"" + k + "\":[" + lo + "," + hi + "]"
    }.mkString("{", ",", "}")
    val rows = results.map { case (k, (_, _, _, n, _)) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val spreadKind = if (results.values.exists(_._5)) "p25p75" else "minmax"
    val env = s""""env":{"load_avg_start":$loadStart,"load_avg_end":${loadAvg()},"java_procs_start":$jvmsStart,"java_procs_end":${javaProcs()},"cpus":"$cpus"}"""
    // self-assessed quiet-box verdict EMBEDDED in the artifact (the
    // round-12 lesson one step further downstream: the driver's
    // post-round re-run started at load 7.96 and its numbers were
    // recorded as BENCH_r12.json anyway — tools/bench_gate.py refused
    // it, but nothing consuming the artifact could see that without
    // re-running the gate). Same thresholds as the gate: a consumer
    // comparing totals across rounds must check gate.quiet first.
    val quiet = loadStart >= 0.0 && loadStart < 4.0 && jvmsStart <= 2
    val gate = s""""gate":{"quiet":$quiet,"max_load":4.0,"note":"totals are cross-round comparable only when quiet=true; per-query medians remain usable relatively"}"""
    if (!quiet)
      System.err.println(s"[bench] CONTENDED RUN: load_avg_start=$loadStart" +
        s", java_procs_start=$jvmsStart — totals not comparable across rounds")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"spread":$iqr,"spread_kind":"$spreadKind","rows":$rows,"sf":"$sfDir","reps":$reps,$gate,$env}"""
    println(line)
    // persist the record in-repo: round artifacts should not depend on
    // the driver's stdout tail capture (observed truncated mid-JSON).
    // A FILTERED run must not clobber the full-record artifact — the
    // same guard Verify applies to verify_out.json.
    if (only.isEmpty)
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
          (line + "\n").getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    spark.stop()
    // Hard gate (round-7 postmortem: rc=0 with 55 queries timed -1 let
    // a broken run wear the closing-bench label). The JSON line and
    // bench_out.json are already written; the nonzero exit refuses the
    // "every declared query ran" claim — tools/bench_gate.py applies
    // the same rule to the recorded artifact.
    val broken = results.collect { case (k, (v, _, _, _, _)) if v < 0 => k }
    if (broken.nonEmpty) {
      System.err.println(
        s"[bench] ${broken.size}/${results.size} queries errored every rep: " +
          broken.mkString(", "))
      sys.exit(1)
    }
  }
}
