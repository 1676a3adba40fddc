package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.Transform

/** The §3.3 serving plane (A6/K4): the reference's 1-second broadcaster
  * re-reads the full cache every tick and fans the transformed snapshot
  * out to every client (server.go:88-130).
  *
  * Spark mapping: a 1 row/sec `rate` source is the ticker; each tick's
  * foreachBatch re-reads the latest-state table, applies the per-client
  * config-driven transform (one broadcast-join plan for all clients),
  * and hands the result to a sink callback (the WS fan-out stand-in).
  *
  * The full-snapshot-per-tick shape is intentionally preserved from the
  * reference (it is the observable semantic); the incremental
  * alternative is LatestStream's update stream, which emits only
  * changed keys.
  */
object Broadcast {

  /** `registry`, when given, scopes each tick's fan-out to currently
    * CONNECTED clients (C3) — the reference only iterates its live
    * client map (server.go:105-127); a config row for a disconnected
    * client costs nothing until it reconnects.
    *
    * `shape` runs on the snapshot INSIDE each tick, mirroring the
    * reference normalizing per tick in the broadcaster itself
    * (normalizeMarketData, server.go:110-111): serve the ingest
    * pipeline's latest table directly with `shape = Broadcast
    * .normalizeShape()` — no intermediate serve-shaped copy, so a
    * tick picks up whatever the CONCURRENTLY-running ingest query
    * last swapped in. Defaults to identity for pre-shaped caches.
    *
    * `metrics`, when given, counts every skipped tick
    * (`serve_tick_failures`, surfaced on the ops `/metrics` plane) so
    * a broken serve loop is visible, not silent.
    * `maxConsecutiveTickFailures` distinguishes the benign transient
    * (the snapshot-swap race below, self-healing next tick) from
    * persistent breakage (bad shape function, schema mismatch): once
    * that many ticks fail IN A ROW the query itself fails instead of
    * serving nothing forever. 0 disables (reference parity:
    * server.go:99-103 logs and continues unconditionally).
    */
  def start(
      spark: SparkSession,
      latestDir: String,
      configs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      period: String = "1 second",
      registry: Option[Registry] = None,
      shape: DataFrame => DataFrame = identity,
      metrics: Option[Metrics] = None,
      maxConsecutiveTickFailures: Int = 0): StreamingQuery = {
    val consecutiveFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    val ticker = spark.readStream.format("rate")
      .option("rowsPerSecond", 1).load()
    val q = ticker.writeStream
      .queryName("graft-broadcast")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(period))
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        // a failed tick is LOGGED AND SKIPPED, never fatal — the
        // reference's broadcaster does exactly this when its cache
        // read fails (server.go:99-103: log + continue). The one
        // expected failure here is benign: a CONCURRENTLY-running
        // ingest upsert can swap the latest directory between this
        // tick's file listing and its read, dangling the listed
        // paths; the next tick re-plans against the new snapshot.
        try {
          val snapshot = shape(Pipeline.readLatest(spark, latestDir))
          val active = registry.fold(configs) { r =>
            val ids = r.connected.toSeq
            configs.filter(org.apache.spark.sql.functions.col("client_id")
              .isin(ids.map(x => x: Any): _*))
          }
          sink(Transform.serveSnapshot(snapshot, active), batchId)
          consecutiveFailures.set(0)
        } catch {
          // the query's own stop() cuts a running tick short: it marks
          // the query terminated, then cancels its jobs and interrupts
          // this thread. A clean shutdown, not a serve failure.
          case _: Exception if query.get != null && !query.get.isActive => ()
          case e: Exception =>
            metrics.foreach(_.serveTickFailures.increment())
            val streak = consecutiveFailures.incrementAndGet()
            System.err.println(
              s"[graft] serve tick $batchId skipped: ${e.getMessage}")
            if (maxConsecutiveTickFailures > 0 &&
                streak >= maxConsecutiveTickFailures)
              throw new IllegalStateException(
                s"serve loop failed $streak consecutive ticks", e)
        }
      }
      .start()
    query.set(q)
    q
  }

  /** The serve-time flatten for a latest table in the ingest
    * pipeline's shape (name/timestamp/payload/exchange) — P1 applied
    * per tick, exactly where the reference applies it.
    */
  def normalizeShape(nameCol: String = "name", tsCol: String = "timestamp",
      exchangeCol: String = "exchange", payloadCol: String = "payload")
      : DataFrame => DataFrame = df =>
    Transform.normalize(df, nameCol, tsCol, exchangeCol, payloadCol)
      .select(org.apache.spark.sql.functions.col(nameCol).as("symbol"),
        org.apache.spark.sql.functions.col("flat"))
}
