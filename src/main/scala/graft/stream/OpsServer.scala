package graft.stream

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.metrics.source.CodegenMetrics

/** C5 — the ops HTTP plane: the reference's `/health` 200-OK probe and
  * Prometheus `/metrics` exposition (main.go:47-59, metrics.go:8-34),
  * served off the JDK's built-in HttpServer so the container needs no
  * HTTP dependency. Driver-side like [[Registry]]/[[WsServer]]: ops
  * endpoints describe the DRIVER's view (listener counters, live
  * client count) — executors report through Spark's own metrics
  * system on a real cluster.
  *
  * `/metrics` renders the [[Metrics]] snapshot in Prometheus text
  * exposition format v0.0.4 (`# TYPE` + name/value lines), with the
  * error classes as `graft_errors_total{type="..."}` label variants —
  * the reference's errors_total CounterVec shape — and, when a
  * [[Registry]] is attached, `graft_connected_clients` as the serving
  * plane's gauge. `graft_codegen_compilations_total` is the JVM's
  * generated-code compile count (Spark's `CodegenMetrics`).
  */
final class OpsServer(
    metrics: Metrics,
    registry: Option[Registry] = None,
    port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, status: Int, body: String,
      contentType: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  /** Prometheus text format: counters with the graft_ namespace, the
    * errors_total classes folded into one labeled family.
    */
  private[stream] def metricsText: String = {
    val snap = metrics.snapshot
    val sb = new StringBuilder
    def counter(name: String, value: Long): Unit =
      sb.append(s"# TYPE $name counter\n$name $value\n")
    counter("graft_messages_processed_total", snap("messages_processed"))
    counter("graft_batch_inserts_total", snap("batch_inserts"))
    counter("graft_queries_started_total", snap("queries_started"))
    counter("graft_queries_failed_total", snap("queries_failed"))
    counter("graft_batches_quarantined_total", snap("batches_quarantined"))
    counter("graft_serve_tick_failures_total", snap("serve_tick_failures"))
    // Janino compiles of generated code in this JVM, read here and not
    // counted per record: flat once every running plan's classes are
    // cached, rising while queries recompile
    counter("graft_codegen_compilations_total", CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    sb.append("# TYPE graft_errors_total counter\n")
    Seq("unmarshal", "validation", "sink").foreach { t =>
      sb.append(s"""graft_errors_total{type="$t"} ${snap(s"errors_total_$t")}\n""")
    }
    sb.append("# TYPE graft_last_batch_duration_ms gauge\n")
    sb.append(s"graft_last_batch_duration_ms ${snap("last_batch_duration_ms")}\n")
    // the reference's processing_latency_seconds histogram
    // (metrics.go:29-33): cumulative _bucket lines over the default
    // bounds, then _sum (seconds) and _count — the +Inf bucket IS the
    // count, per the exposition contract
    def le(b: Double): String =
      if (b == b.toLong.toDouble) b.toLong.toString else b.toString
    val cum = metrics.latencyCumulative
    sb.append("# TYPE graft_processing_latency_seconds histogram\n")
    metrics.latencyBucketsSec.zipWithIndex.foreach { case (b, i) =>
      sb.append(
        s"""graft_processing_latency_seconds_bucket{le="${le(b)}"} ${cum(i)}\n""")
    }
    sb.append(
      s"""graft_processing_latency_seconds_bucket{le="+Inf"} ${cum.last}\n""")
    sb.append(s"graft_processing_latency_seconds_sum ${
      metrics.latencySumMs.sum() / 1000.0}\n")
    sb.append(s"graft_processing_latency_seconds_count ${cum.last}\n")
    registry.foreach { r =>
      sb.append("# TYPE graft_connected_clients gauge\n")
      sb.append(s"graft_connected_clients ${r.connected.size}\n")
    }
    sb.result()
  }

  server.createContext("/health", (ex: HttpExchange) =>
    respond(ex, 200, "OK", "text/plain"))
  server.createContext("/metrics", (ex: HttpExchange) =>
    respond(ex, 200, metricsText, "text/plain; version=0.0.4"))
  server.setExecutor(null) // ops traffic: the default single thread is right
  server.start()

  def stop(): Unit = server.stop(0)
}
