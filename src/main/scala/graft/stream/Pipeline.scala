package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, MapType, StructField, StructType}
import org.apache.hadoop.fs.Path
import graft.io.{DirSwap, ParquetSchema}
import graft.ops.{Ingest, Latest}

/** The §3.1 ingest hot path as one Structured Streaming query:
  *
  *   source → decode → validate (F1) → broadcast enrich (P7)
  *     → foreachBatch { append sink (K1) ∥ latest-state upsert (K3) }
  *
  * mirroring the reference's processor (cmd/processor/processor.go):
  * the 2s flush interval is the trigger (A3); the two sinks are written
  * sequentially and are individually retried, best-effort, exactly like
  * the reference's flush (A4, processor.go:85-119) — with three
  * improvements the reference lacks: a batchId-keyed append layout that
  * makes replays idempotent, a staged atomic swap for the latest
  * table, and a quarantine path (the reference DROPS a batch once
  * retries exhaust; we land it in `_quarantine/batch=<id>` for
  * replay).
  *
  * Scale notes: the append sink is a plain partitioned parquet write
  * (at production scale: JDBC/Delta — same foreachBatch shape). The
  * latest upsert here recomputes argmax over (previous latest ∪ batch),
  * which is O(|keys| + |batch|) per trigger since the previous latest
  * holds one row per key — the state never grows with history.
  */
object Pipeline {

  /** Retry a sink write `attempts` times with linear backoff, like the
    * reference's flushWithRetry (processor.go:85-119: 3 attempts,
    * (i+1)s sleeps). `onFailure` runs once per failed attempt, with its
    * exception (the reference increments its error metric regardless
    * of whether a retry will follow, processor.go:105-109); an
    * exception it throws ends the retries. Exhaustion returns None —
    * the CALLER decides the batch's fate (Pipeline.start quarantines
    * it; the reference drops it).
    */
  private[stream] def withRetry[T](attempts: Int, baseSleepMs: Long,
      onFailure: Exception => Unit = _ => ())(f: => T): Option[T] = {
    var i = 0
    while (i < attempts) {
      try return Some(f)
      catch {
        case e: Exception =>
          onFailure(e)
          i += 1
          if (i < attempts) Thread.sleep(baseSleepMs * i)
          else System.err.println(s"[graft] sink write failed after $attempts attempts: ${e.getMessage}")
      }
    }
    None
  }

  /** Append-sink selector (K1/K2): the foreachBatch writer shape is
    * identical for every target; only the DataFrameWriter config
    * differs.
    */
  sealed trait SinkConfig

  /** Parquet append: each micro-batch lands in `batch=<id>`, replays
    * overwrite their own directory (idempotent).
    */
  final case class ParquetSink(dir: String) extends SinkConfig

  /** JDBC batch insert, the reference's production path
    * (postgres.go:103-136: prepared-statement batch in one
    * transaction). Spark's JDBC writer gives the same shape: rows
    * batched `batchsize` per executeBatch, one transaction per
    * partition, at `isolationLevel`. DDL auto-create (K2,
    * postgres.go:46-97) is the writer's CREATE TABLE on first append,
    * with column types overridable via `createTableColumnTypes` (the
    * reference's VARCHAR(255)/BIGINT/JSONB widths). Unlike the parquet
    * sink, replayed batches double-append — exactly the reference's
    * semantics (its retry loop re-runs the whole INSERT batch).
    */
  final case class JdbcSink(
      url: String,
      table: String,
      user: String = "",
      password: String = "",
      batchSize: Int = 1000,
      isolationLevel: String = "READ_COMMITTED",
      createTableColumnTypes: Option[String] = None) extends SinkConfig {
    /** The exact option map handed to DataFrameWriter.format("jdbc") —
      * exposed so the plumbing is testable without a database.
      */
    def options: Map[String, String] = Map(
      "url" -> url,
      "dbtable" -> table,
      "user" -> user,
      "password" -> password,
      "batchsize" -> batchSize.toString,
      "isolationLevel" -> isolationLevel
    ) ++ createTableColumnTypes.map("createTableColumnTypes" -> _)
  }

  /** Idempotent append: each micro-batch lands in `batch=<id>`; a
    * replayed batch id overwrites its own directory instead of
    * double-appending (K1 + exactly-once-per-batch improvement).
    */
  def appendBatch(df: DataFrame, appendDir: String, batchId: Long): Unit =
    appendBatch(df, ParquetSink(appendDir), batchId)

  /** K1 against a configured sink. */
  def appendBatch(df: DataFrame, sink: SinkConfig, batchId: Long): Unit =
    sink match {
      case ParquetSink(dir) =>
        df.write.options(plainEncoded(df.schema)).mode("overwrite")
          .parquet(s"$dir/batch=$batchId")
      case j: JdbcSink =>
        df.write.format("jdbc").options(j.options).mode("append").save()
    }

  /** Parquet writer options that keep dictionary encoding off the
    * append sink's high-cardinality columns: every bigint column and
    * every map's values (for the ingest schema, `timestamp` and the
    * payload values). Ticks carry near-distinct values there, so
    * parquet-mr builds a dictionary, finds it no smaller than the plain
    * page at the first page check and re-encodes the page plain — the
    * dictionary hashing is pure CPU. Strings such as `name` and
    * `exchange`, and the map keys, keep their dictionaries.
    */
  private def plainEncoded(schema: StructType): Map[String, String] =
    schema.fields.collect {
      case StructField(n, LongType, _, _) => n
      case StructField(n, _: MapType, _, _) => s"$n.key_value.value"
    }.map(c => s"parquet.enable.dictionary#$c" -> "false").toMap

  /** The latest table's swap directories under `latestDir`. */
  private def latestDirs(latestDir: String) =
    DirSwap.Dirs(s"$latestDir/stage", s"$latestDir/current", s"$latestDir/old")

  /** Keep-last over `rows` (∪ the current table when `withCurrent`),
    * staged and swapped in through [[DirSwap]]. The entry repair
    * finishes a swap a crash interrupted — a micro-batch replayed
    * after the crash then reads the state it would have read — so no
    * prior per-key state is lost to a crash between the renames. The
    * read-modify-write is safe because a streaming query runs batches
    * serially.
    */
  private def writeLatest(spark: SparkSession, rows: DataFrame,
      latestDir: String, keyCols: Seq[String], orderCols: Seq[String],
      withCurrent: Boolean): Unit = {
    val d = latestDirs(latestDir)
    DirSwap.repair(spark, d)
    val fs = new Path(latestDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base =
      if (withCurrent && fs.exists(new Path(d.target)))
        ParquetSchema.read(spark, d.target).unionByName(rows)
      else rows
    Latest.keepLastPerKey(base, keyCols, orderCols)
      .write.mode("overwrite").parquet(d.stage)
    DirSwap.swap(spark, d)
  }

  /** Keep-last upsert (K3): previous latest ∪ batch → argmax per key,
    * staged then atomically swapped in; crash-safe (see writeLatest).
    */
  def upsertLatest(spark: SparkSession, batch: DataFrame, latestDir: String,
      keyCols: Seq[String], orderCols: Seq[String]): Unit =
    writeLatest(spark, batch, latestDir, keyCols, orderCols, withCurrent = true)

  /** Read the latest-state table, tolerating an interrupted swap
    * (read-only — the next upsert's entry repair fixes the layout).
    */
  def readLatest(spark: SparkSession, latestDir: String): DataFrame =
    DirSwap.read(spark, latestDirs(latestDir))

  /** Quarantine location for a failed batch under the append dir. The
    * leading underscore keeps Spark's file index from sweeping it into
    * reads of the main append table (same convention as _SUCCESS).
    */
  def quarantinePath(appendDir: String, batchId: Long): String =
    s"$appendDir/_quarantine/batch=$batchId"

  /** A4⁺ — re-append quarantined batches once the sink outage is over:
    * each `_quarantine/batch=<id>` replays through [[appendBatch]]
    * under its ORIGINAL batch id (so a parquet sink replay stays
    * idempotent) and is removed on success. Returns the replayed ids.
    * Batches that fail again stay quarantined.
    */
  def replayQuarantine(spark: SparkSession, appendDir: String,
      sink: SinkConfig): Seq[Long] = {
    val fs = new Path(appendDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qdir = new Path(s"$appendDir/_quarantine")
    if (!fs.exists(qdir)) Seq.empty
    else fs.listStatus(qdir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .flatMap { p =>
        val id = p.getName.stripPrefix("batch=").toLong
        try {
          appendBatch(ParquetSchema.read(spark, p.toString), sink, id)
          fs.delete(p, true)
          Some(id)
        } catch { case e: Exception =>
          System.err.println(s"[graft] quarantine replay of batch $id failed: ${e.getMessage}")
          None
        }
      }
  }

  /** Disaster recovery for the latest table: rebuild it from the
    * durable parquet append sink (all `batch=*` directories — the
    * `_quarantine` subtree is excluded by the underscore convention),
    * optionally unioned with surviving latest state. This is the
    * recovery path the failure policy leans on: a failed upsert loses
    * nothing because the batch is already appended, and this replay
    * recomputes the argmax from the appended history. One
    * shuffle-on-keys argmax over the append table — the same
    * keepLastPerKey plan the per-batch upsert runs, just over more
    * rows. `fromBatch` bounds the replay to `batch >= fromBatch`
    * (partition-pruned — only the affected batch directories are
    * read): the incremental recovery when the outage window is known,
    * with `includeExisting = true` keeping the surviving per-key state
    * for keys the replayed range never touched.
    */
  def rebuildLatest(spark: SparkSession, appendDir: String, latestDir: String,
      keyCols: Seq[String], orderCols: Seq[String],
      includeExisting: Boolean = true,
      fromBatch: Option[Long] = None): Unit = {
    // partition discovery surfaces the batch=<id> layout as a `batch`
    // column the row schema never had — the range filter prunes on it,
    // then it is dropped before the union
    val appendedRaw = ParquetSchema.read(spark, appendDir)
    val appended = fromBatch
      .fold(appendedRaw)(b => appendedRaw.filter(col("batch") >= b))
      .drop("batch")
    writeLatest(spark, appended, latestDir, keyCols, orderCols, includeExisting)
  }

  /** Build and start the ingest query over an already-decoded streaming
    * DataFrame (use Ingest.parseWire upstream for raw JSON sources —
    * with `counted = true` its unmarshal-drop count lands in `metrics`).
    *
    * Failure policy (A4): each sink write is retried `retries` times
    * with linear backoff; when the APPEND sink exhausts its retries the
    * batch is written to `<appendDir>/_quarantine/batch=<id>` instead
    * of being dropped (the reference logs-and-drops, processor.go:
    * 85-119) — [[replayQuarantine]] re-appends it after the outage.
    * A failed latest-upsert needs no quarantine: the batch is already
    * durable in the append sink and the next successful upsert's argmax
    * re-reads only (previous latest ∪ batch), so state catches up from
    * the appended data. A write cut short by the query's own `stop()`
    * is none of these: it is rethrown, uncounted and unretried, and the
    * uncommitted batch replays when the query restarts.
    */
  def start(
      ticks: DataFrame,
      dim: DataFrame,
      appendDir: String,
      latestDir: String,
      keyCols: Seq[String],
      orderCols: Seq[String],
      nameCol: String,
      tsCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      retries: Int = 3,
      retrySleepMs: Long = 1000,
      appendSink: Option[SinkConfig] = None,
      metrics: Option[Metrics] = None): StreamingQuery = {
    val sink = appendSink.getOrElse(ParquetSink(appendDir))
    val spark = ticks.sparkSession
    val query = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    // stop() marks the query terminated, then cancels its jobs: a write
    // failing after that is a clean shutdown, not a sink failure
    val sinkFailed = (e: Exception) =>
      if (query.get != null && !query.get.isActive) throw e
      else metrics.foreach(_.errorsSink.increment())
    val validated = Ingest.validate(ticks, nameCol, tsCol, counted = metrics.isDefined)
    val enriched = Ingest.enrichDim(validated, dim, nameCol, "symbol", "exchange")
    val q = enriched.writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val persisted = batch.persist()
        try {
          // sequential, individually-retried, best-effort — the two
          // sinks can diverge on failure exactly like the reference
          // (SURVEY.md §3.1 non-atomicity note)
          val appended = withRetry(retries, retrySleepMs, sinkFailed) {
            appendBatch(persisted, sink, batchId)
          }
          if (appended.isEmpty) {
            try {
              persisted.write.mode("overwrite")
                .parquet(quarantinePath(appendDir, batchId))
              metrics.foreach(_.batchesQuarantined.increment())
              System.err.println(
                s"[graft] batch $batchId quarantined after $retries failed append attempts")
            } catch { case e: Exception =>
              System.err.println(
                s"[graft] quarantine write for batch $batchId also failed (batch LOST): ${e.getMessage}")
            }
          }
          withRetry(retries, retrySleepMs, sinkFailed) {
            upsertLatest(spark, persisted, latestDir, keyCols, orderCols)
          }
          ()
        } finally { persisted.unpersist(); () }
      }
      .start()
    query.set(q)
    q
  }
}
