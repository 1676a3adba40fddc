package graft

import org.apache.spark.sql.SparkSession

/** One-call session setup for library users: a SparkSession builder
  * pre-configured the way every graft operator expects —
  *
  *  - `GraftExtensions` registered (native `graft_dot` SQL function +
  *    the HOF→native dot-product rewrite rule);
  *  - AQE on (runtime coalescing + skew-join split — the default skew
  *    answer, see Skew.saltedJoin for the explicit fallback);
  *  - runtime bloom-filter injection pinned on (Catalyst's automatic
  *    half of the Bloom story: a selective filter on one shuffle-join
  *    side gets a sketch prefilter injected on the other;
  *    [[graft.ops.Bloom]] is the explicit half, for SEMANTIC
  *    exclusion sets the optimizer cannot discover);
  *  - `spark.sql.shuffle.partitions` sized to the given parallelism
  *    instead of the 200 default (at cluster scale, set it to a small
  *    multiple of total executor cores, or let AQE coalesce);
  *  - parquet TIMESTAMP(NANOS) readable (SPARK-40819 legacy flag);
  *  - UTC session timezone (all engine/oracle time arithmetic is
  *    epoch-millis);
  *  - per-session artifact isolation off ([[SharedCodegen]]): graft
  *    adds no session artifacts, and with isolation on every
  *    streaming query's tasks run in a class loader of their own, so
  *    each query recompiles the same generated code.
  *
  * Callers chain further config before `getOrCreate()`:
  * {{{
  *   val spark = GraftSession.builder(parallelism = 32)
  *     .master("local[32]").getOrCreate()
  * }}}
  */
object GraftSession {

  def builder(parallelism: Int): SparkSession.Builder =
    SparkSession.builder()
      // withExtensions (not the spark.sql.extensions static conf):
      // applies even when a SparkContext already exists in the JVM
      .withExtensions(new org.apache.spark.sql.graftbridge.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(SharedCodegen._1, SharedCodegen._2)

  /** Per-session artifact isolation off. Spark caches compiled
    * generated code per (class loader, source); every
    * `writeStream.start()` runs on a cloned session with a new id, and
    * with isolation on (the default) executors give each such session
    * its own class loader, so every new streaming query recompiles the
    * same classes in Janino and runs them interpreted until the JIT
    * catches up again. graft never adds artifacts to a session (no
    * `addArtifact`, no per-session jars), so with isolation off all
    * queries share the executor's default loader and the JVM-wide
    * codegen cache hits across queries. Read at session creation —
    * set it on the builder, not on a running session.
    */
  val SharedCodegen: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  /** The default HDFSBackedStateStore keeps every streaming key's state
    * in executor HEAP — fine for bench-scale keyed state, an OOM at
    * 100 TB key cardinality (keep-last over hundreds of millions of
    * symbols·users, watermark dedup state, windowed bars). This conf
    * swaps in the RocksDB provider (built into Spark since 3.2): state
    * lives off-heap/on-disk with incremental checkpointing, bounding
    * executor memory by the RocksDB cache, not by key count.
    * Per-SESSION conf, read at query start — set it on the builder (or
    * `spark.conf.set` before `.start()`); StreamingSpec proves the
    * stateful keep-last path end-to-end on RocksDB in-container.
    */
  val RocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The one session of every measurement and dump main: Bench,
    * Verify, and the test-tree Explain, Probe and ScaleProbe. Local
    * mode on [[harnessCpus]] cores with the shuffle width pinned to
    * them, UTC, no UI, [[SharedCodegen]], WARN logging. A number
    * taken by any of them is taken under the benchmark's confs.
    */
  def harness(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$harnessCpus]")
      .config("spark.sql.shuffle.partitions", harnessCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(SharedCodegen._1, SharedCodegen._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores of the [[harness]] session: SPARK_GRAFT_CPUS, default 4. */
  def harnessCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
}
