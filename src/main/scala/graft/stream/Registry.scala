package graft.stream

import scala.jdk.CollectionConverters._

/** C3 — connected-client registry, the reference's `sync.Map` of
  * clients (server.go:26): a client registers on first connection
  * (getOrCreateClient, server.go:132-146), each additional connection
  * increments its count, and the client is dropped when its LAST
  * connection goes away (readPump defer, server.go:148-160).
  *
  * Driver-side bookkeeping by design: the registry is transport-plane
  * state (who is connected right now), consulted once per serving
  * tick to scope the snapshot fan-out — it never rides in a task
  * closure, so its mutability is safe. The data-plane per-client
  * state (configs) stays in DataFrames.
  */
final class Registry {
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** One more connection for this client (registers it if new). */
  def connect(clientId: String): Unit = {
    clients.merge(clientId, 1, (a, b) => a + b); ()
  }

  /** One connection gone; the client unregisters with its last one. */
  def disconnect(clientId: String): Unit = {
    clients.computeIfPresent(clientId,
      (_, n) => if (n <= 1) null else (n - 1): Integer)
    ()
  }

  def connected: Set[String] = clients.keySet().asScala.toSet
}
