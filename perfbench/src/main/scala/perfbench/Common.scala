package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** JSON for the result and trace files; Scala maps keep their insertion
  * order when given a ListMap / VectorMap.
  */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** JVM-wide counters read at the edges of the timed phase. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time less the JIT compiler threads' (`jitCpuNs`): the
    * CPU the program's work and its garbage collection take. JIT
    * compilation never settles in this program (about half the process
    * CPU of a timed ingest pass, shrinking from pass to pass), so it is
    * reported on its own, as `jvm.jit_cpu_ms`.
    */
  def cpuNs: Long = os.getProcessCpuTime - jitCpuNs
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** CPU time of the JIT compiler threads, from their `/proc/self/task`
    * entries (Linux; 0 elsewhere). The launcher keeps the compiler
    * threads alive for the whole run, so none of their time is lost
    * with an exited thread.
    */
  def jitCpuNs: Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("comm"))).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
          // fields after the ")" that closes the name: utime and stime are the 12th and 13th
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L // clock ticks of 10 ms
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** Heap in use right after a full collection, in MB: the pools'
    * after-collection usage, so that what threads allocate between the
    * collection and the reading does not count. Spark releases finished
    * broadcasts from its cleaner thread once a collection has found
    * them unreachable, so the collection runs again after that thread
    * has had its turn.
    */
  def liveHeapMb: Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Deltas of CPU, GC and JIT time over a window. */
  final class Window {
    private val cpu0 = cpuNs
    private val gc0 = gcMs
    private val jit0 = jitMs
    private val jitCpu0 = jitCpuNs
    private val wall0 = System.nanoTime()
    def cpuS: Double = (cpuNs - cpu0) / 1e9
    def gcMsDelta: Double = (gcMs - gc0).toDouble
    def jitMsDelta: Double = (jitMs - jit0).toDouble
    def jitCpuMsDelta: Double = (jitCpuNs - jitCpu0) / 1e6
    def wallS: Double = (System.nanoTime() - wall0) / 1e9
  }
}

/** Spark job/task counts and task I/O metrics, read as deltas around a
  * unit of work (an ingest batch, a serve tick, a face).
  */
final class SparkCounts(sc: SparkContext) extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val bytesWritten = new AtomicLong
  val shuffleBytes = new AtomicLong
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = { tasks.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    ()
  }

  /** (jobs, tasks, bytes written, shuffle bytes) so far, after the
    * listener bus has delivered every pending event.
    */
  def read(): Vector[Long] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Vector(jobs.get, tasks.get, bytesWritten.get, shuffleBytes.get)
  }
}

/** One micro-batch's public progress data. */
final case class Progress(query: String, batchId: Long, startMs: Long,
    inputRows: Long, durations: Map[String, Long], endOffset: String) {
  def d(k: String): Double = durations.getOrElse(k, 0L).toDouble
}

/** Collects every streaming query's progress events. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    q.add(Progress(Option(p.name).getOrElse(""), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.sources.headOption.map(_.endOffset).getOrElse("")))
    ()
  }
  def all: Vector[Progress] = q.asScala.toVector
  def of(query: String): Vector[Progress] = all.filter(_.query == query)
  def clear(): Unit = q.clear()
}

/** In-memory span recorder for the traced run: a span per call into a
  * layer, with its parent and the id of the batch/tick/face it served.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    group: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Tracer(@volatile var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String, layer: String, group: String)(f: => T): T =
    if (!enabled) f else record(name, layer, group)(f)

  private def record[T](name: String, layer: String, group: String)(f: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, parent, name, layer, group, t0, t1) }
    }
  }

  def all: Vector[Span] = synchronized(spans.toVector)
  def named(name: String): Vector[Double] = all.filter(_.name == name).map(_.ms)

  /** Per-layer self time in ms: each span's duration minus the time its
    * direct children cover.
    */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJson: Vector[Map[String, Any]] = all.map(s => scala.collection.immutable.ListMap(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "group" -> s.group, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** How fast the host runs this process's threads just now. The host
  * shares its cores with other machines, and when they are busy the same
  * work takes more CPU time (in one set of ten `store_maint` runs the CPU
  * time per face run ranged 1.25-1.61 s and rose with the runs' wall
  * time, while under 3 % of the VM's time was steal). The probe is a
  * fixed piece of JVM work — boxed-key hashing, string building, sorting
  * and allocation, the same on every run and independent of the seed —
  * run on four threads at once; its CPU time, taken between the timed
  * units, scales the program's CPU time to a host of reference speed.
  */
object SpeedProbe {
  /** The probe's CPU time, in ms, on a host of the reference speed
    * (about its time on the 4-core VM when no other machine is busy).
    */
  val ReferenceMs = 300.0
  private val Threads = 4

  private def work(): Long = {
    val rnd = new java.util.SplittableRandom(42)
    val m = new java.util.HashMap[java.lang.Long, String]()
    var acc = 0L
    var i = 0
    while (i < 100000) {
      val k = rnd.nextLong(50000)
      val prev = m.put(k, java.lang.Long.toString(k, 36) + ":" + i)
      if (prev != null) acc += prev.length
      i += 1
    }
    val arr = Array.fill(200000)(rnd.nextLong())
    java.util.Arrays.sort(arr)
    acc + arr(arr.length / 2) + m.size
  }

  /** One probe: its CPU time summed over the threads, in ms. */
  def cpuMs(): Double = {
    val mx = ManagementFactory.getThreadMXBean
    val total = new AtomicLong
    val sink = new AtomicLong // keeps the work's result live
    val ts = Vector.fill(Threads)(new Thread(() => {
      val c0 = mx.getCurrentThreadCpuTime
      sink.addAndGet(work())
      total.addAndGet(mx.getCurrentThreadCpuTime - c0)
      ()
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    total.get / 1e6
  }

  /** Runs the probe until its code is compiled; part of set-up. */
  def warm(): Unit = (1 to 5).foreach(_ => cpuMs())

  def medianMs(n: Int): Double = Stats.median(Vector.fill(n)(cpuMs()))

  /** `n` timed units with three probes before the first and after
    * each (a probe takes about 0.1 s): the units, and the probes' median
    * in ms.
    */
  def around[T](n: Int)(unit: => T): (Vector[T], Double) = {
    val probes = ArrayBuffer.fill(3)(cpuMs())
    val units = Vector.fill(n) { val u = unit; probes ++= Vector.fill(3)(cpuMs()); u }
    (units, Stats.median(probes.toSeq))
  }

  /** A CPU time measured while the probe took `probeMs`, at the
    * reference speed.
    */
  def scale(cpu: Double, probeMs: Double): Double = cpu * ReferenceMs / probeMs
}
