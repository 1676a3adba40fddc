package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.BinaryStatistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Copy-on-write MERGE (upsert + delete) for a Hive-partitioned
  * parquet table — the maintenance operation a 100 TB training
  * corpus cannot run as a full rewrite: takedown/opt-out deletes and
  * re-crawled document upserts arrive as bounded change batches, and
  * the rewrite cost must be proportional to the PARTITIONS TOUCHED,
  * never the corpus.
  *
  * No table format is assumed (same design stance as [[AnnLayout]]'s
  * maintenance paths): the table is plain parquet under
  * `path/<partCol>=<v>/`, and the unit of atomicity is one partition
  * directory, swapped by [[DirSwap.swap]] (hidden `.old_<dir>`
  * backups, [[DirSwap.repairPartitions]] on the next writer's entry).
  * A reader concurrent with a multi-partition merge can observe SOME
  * partitions new and others old; each is individually consistent
  * (the merge is per-partition independent by the partition-key
  * contract below). A pipeline that needs all-or-nothing visibility
  * composes this with [[EpochLayout.publish]] — build the merged
  * table in the invisible epoch directory, publish with the marker.
  *
  * Two ways to apply a batch, one contract: [[merge]] rewrites the
  * touched partitions now (copy-on-write); [[appendChanges]] appends
  * it to the table's ONE merge-on-read log, which [[readMor]]
  * resolves and [[compactChangelog]] folds through [[merge]]. A
  * takedown is a delete-only change batch on either path.
  *
  * Change-batch contract (validated by the one [[audit]], a single
  * bounded aggregate, before any write on either path):
  *  - columns: the table's columns plus `op` (`"upsert"` |
  *    `"delete"`); delete rows may carry nulls in the payload
  *    columns — only (idCol, partCol) are read — and a DELETE-ONLY
  *    batch (the takedown shape) may omit the payload columns
  *    entirely;
  *  - at most ONE change per composite (id, partCol) key per batch
  *    (two ops on one key in one batch have no defined order —
  *    sequence them across batches);
  *  - partCol is IMMUTABLE per id: the partition key of a corpus is
  *    derived from the document (source, shard hash), so a change
  *    row's partCol names the partition where the id LIVES. Moving
  *    an id between partitions is expressible as a delete (old
  *    partition) + upsert (new partition) pair in one batch — two
  *    different composite (id, part) keys, so the uniqueness rule is
  *    untouched. Because an id lives in exactly ONE partition, an id
  *    UPSERTED under two partition values in one batch is incoherent
  *    (it would create two live rows for one id) and refuses; a
  *    delete pair across partitions is harmless (at most one hits)
  *    and stays legal.
  *
  * Scale mechanics: the touched-partition list crosses the driver
  * (bounded by partition-key cardinality, the same collect class as
  * [[AnnLayout.knnIvf]]'s probe list); the live read is partition-
  * pruned to exactly those directories; the anti-join's change side
  * is broadcast (change batches are bounded by contract); ONE
  * distributed job writes all merged partitions to a staging root;
  * the driver then swaps each touched directory. Untouched
  * partitions: zero bytes read, zero bytes written (CowSpec pins
  * file identity).
  */
object CowTable {

  /** Audit counts a merge returns. `deleted` is the number of LIVE
    * rows a delete op actually displaced (a delete whose id was
    * already absent counts zero — a compliance audit must not
    * over-report removals); `upserted` is the number of upsert ops,
    * each of which writes exactly one row (insert or replace).
    * Computing the true displacement costs one extra broadcast
    * semi-probe over the touched partitions the merge is already
    * reading — bounded by the same pruning as the rewrite itself.
    */
  final case class MergeStats(partitionsTouched: Int, deleted: Long,
      upserted: Long)

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** REFUSE partition values this module cannot round-trip through a
    * constructed `<partCol>=<value>` path. Two failure shapes, both
    * silent data loss if admitted: (a) a NULL key — Spark writes it
    * under `__HIVE_DEFAULT_PARTITION__`, so the constructed
    * `<partCol>=null` path reads nothing and the swap installs a
    * bogus empty `null` directory; (b) a value Spark would
    * Hive-escape on write (space, '=', '%', …) — the live probe and
    * the swap loop would both miss the escaped directory name. A
    * corpus partition key is derived (source, lang, shard) and safe
    * by construction; anything else must be sanitized upstream.
    */
  private def validatePartitionValues(vals: Seq[Any]): Unit =
    vals.foreach { v =>
      require(v != null,
        "null partition value — Spark writes null keys under " +
          "__HIVE_DEFAULT_PARTITION__, which the constructed " +
          "'<partCol>=null' path can never read back; sanitize the " +
          "partition key upstream")
      val sv = String.valueOf(v)
      require(sv.nonEmpty && sv.forall(c => c.isLetterOrDigit ||
          c == '.' || c == '_' || c == '-'),
        s"partition value '$sv' needs Hive path escaping — refuse " +
          "rather than risk a constructed-path mismatch; sanitize " +
          "the partition key upstream")
    }

  /** What [[audit]] hands its caller: the upsert count and the
    * touched partition values (null included), already validated.
    */
  private final case class Audit(upserts: Long, touched: Seq[Any])

  /** The ONE change-batch audit every intake path runs — [[merge]],
    * [[appendChanges]] and with it every takedown — as ONE bounded
    * aggregate action: op domain + per-(id, part) uniqueness + the
    * per-id cross-partition coherence rule + the touched-partition
    * list, all from a change-batch-sized groupBy, then
    * [[validatePartitionValues]] on that list. Throws before any
    * write.
    *
    * Grouping by the ID ALONE is what lets one job see an id's changes
    * ACROSS partition values: the contract permits an id to span
    * partitions only as the atomic-move pair (delete in the old
    * partition + upsert in the new — key-disjoint ops that commute
    * physically), so two UPSERTS of one id assert it lives in two
    * partitions at once and refuse, while a repeated (id, part) key
    * refuses too (row count > distinct partition values for that
    * id).
    *
    * The touched-partition list rides the SAME job as the contract
    * checks: the per-trigger CDC intake loops (q_stream_cow,
    * q_stream_mor) pay the driver-side job floor once per trigger, so
    * every fused job is a per-trigger saving. The per-id _ps sets are
    * tiny, but collecting one set PER ID into the final buffer
    * (collect_list + flatten) would make that buffer O(change-batch
    * ids) on one task; instead posexplode the sets (narrow — no extra
    * exchange) and union with collect_set, whose buffer is bounded by
    * partition-KEY cardinality. The scalar sums ride the same
    * aggregate, gated to each id's first exploded row (_i null for an
    * all-null-partition id, else 0) so every id contributes exactly
    * once. Nulls are counted separately since collect_set drops them;
    * an id's distinct partition count is its set's size plus that
    * null flag, so the audit holds no distinct aggregate (whose
    * rewrite would add a shuffle stage, a job under AQE, per call).
    */
  private def audit(changes: DataFrame, idCol: String,
      partCol: String): Audit = {
    val perId = changes.groupBy(col(idCol))
      .agg(count(lit(1)).as("_n"),
        max(when(col(partCol).isNull, 1).otherwise(0)).as("_null"),
        sum(when(col("op") === "delete", 1).otherwise(0)).as("_d"),
        sum(when(col("op") === "upsert", 1).otherwise(0)).as("_u"),
        collect_set(col(partCol)).as("_ps"))
    val _first = col("_i").isNull || col("_i") === 0
    val a = perId
      .select(col("_n"), col("_null"), col("_d"), col("_u"),
        // distinct partition values of the id, null counted as one
        (size(col("_ps")) + col("_null")).as("_np"),
        posexplode_outer(col("_ps")).as(Seq("_i", "_part")))
      .agg(
        coalesce(sum(when(_first, col("_n")).otherwise(0L)), lit(0L))
          .as("rows"),
        coalesce(sum(when(_first && col("_n") > col("_np"), 1)
          .otherwise(0)), lit(0L)).as("dups"),
        coalesce(sum(when(_first && col("_u") > 1, 1).otherwise(0)),
          lit(0L)).as("dualUps"),
        coalesce(sum(when(_first, col("_d")).otherwise(0L)), lit(0L))
          .as("dels"),
        coalesce(sum(when(_first, col("_u")).otherwise(0L)), lit(0L))
          .as("ups"),
        collect_set(col("_part")).as("parts"),
        coalesce(sum(when(_first, col("_null")).otherwise(0)), lit(0L))
          .as("nullParts")).head()
    require(a.getLong(1) == 0,
      s"${a.getLong(1)} ids carry more than one change for one " +
        s"$partCol value in this batch — order within a batch is " +
        "undefined; sequence them across batches")
    require(a.getLong(2) == 0,
      s"${a.getLong(2)} ids are upserted under more than one " +
        s"$partCol value in this batch — an id lives in exactly one " +
        "partition; a move is delete (old partition) + upsert (new)")
    require(a.getLong(3) + a.getLong(4) == a.getLong(0),
      "changes.op must be exactly 'upsert' or 'delete'")
    val touched = (if (a.getLong(6) > 0) Seq(null) else Nil) ++
      a.getSeq[Any](5)
    validatePartitionValues(touched)
    Audit(a.getLong(4), touched)
  }

  /** Apply one change batch. Returns the partition/row counts the
    * caller's audit log wants. See the object doc for the contract;
    * violations throw BEFORE any write.
    */
  def merge(spark: SparkSession, path: String, changes: DataFrame,
      idCol: String, partCol: String,
      maxRecordsPerFile: Long = 5000000L): MergeStats = {
    val stage = s"$path/.merge_stage"
    DirSwap.repairPartitions(spark, path, Some(stage))
    val checked = audit(changes, idCol, partCol)
    val touched = checked.touched
    if (touched.isEmpty)
      return MergeStats(0, 0L, 0L)
    val fs = fsOf(spark, path)
    // a partition emptied by a previous delete-all is present but
    // holds no parquet files — reading it would defeat schema
    // inference, and it contributes no rows anyway
    val liveDirs = touched.map(v => s"$path/$partCol=$v")
      .filter { d =>
        val p = new Path(d)
        fs.exists(p) && fs.listStatus(p).exists(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
      }
    // partition-pruned live read: only touched directories
    val live =
      if (liveDirs.isEmpty) null
      else spark.read.option("basePath", path).parquet(liveDirs: _*)
    val tableCols =
      if (live != null) live.columns.toSeq
      else changes.columns.filterNot(_ == "op").toSeq
    // the TRUE displacement count for the audit rides the SAME job as
    // the staged write (round 17 — it was a separate broadcast
    // semi-probe job, paid once per CDC trigger): the live side joins
    // the broadcast change keys once LEFT OUTER, the matched-delete
    // sum is an OBSERVED metric on the join output, and the kept rows
    // are the op-null remainder — identical rows and count to the
    // former left_anti + probe pair, since the batch carries at most
    // one change per (id, part) key.
    val hitObs =
      if (live == null) null else org.apache.spark.sql.Observation()
    val kept =
      if (live == null) null
      else {
        require(!tableCols.contains("_cow_op"),
          "'_cow_op' is merge's reserved displacement-audit column")
        live.join(
            broadcast(changes.select(col(partCol), col(idCol),
              col("op").as("_cow_op"))),
            Seq(partCol, idCol), "left_outer")
          .observe(hitObs,
            coalesce(sum(when(col("_cow_op") === "delete", 1L)
              .otherwise(0L)), lit(0L)).as("dels"))
          .filter(col("_cow_op").isNull)
          .select(tableCols.map(col): _*)
      }
    // a DELETE-ONLY batch (the takedown shape) needs no payload
    // columns at all — only (idCol, partCol, op) are read, so a
    // minimal takedown DataFrame is a valid change batch
    val mergedOpt =
      if (checked.upserts > 0L) {
        val ups = changes.filter(col("op") === "upsert")
          .select(tableCols.map(col): _*)
        Some(if (kept == null) ups else kept.unionByName(ups))
      } else Option(kept)
    mergedOpt match {
      case Some(m) =>
        m.repartition(col(partCol))
          .sortWithinPartitions(col(partCol), col(idCol))
          .write.mode("overwrite")
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .partitionBy(partCol).parquet(stage)
      case None => // deletes against partitions with no live rows
        fs.mkdirs(new Path(stage))
    }
    // the staged write has executed by here, so the observed
    // displacement metric is available without any extra job — EXCEPT
    // when the written result was empty at runtime: AQE's
    // empty-relation propagation replaces the whole kept leg
    // (including its CollectMetrics node) with an empty LocalTableScan,
    // so the metric never reports (ObsProbe reproduces it). The live
    // partitions are untouched until the swap loop below, so that rare
    // case (a batch displacing every live row) falls back to the
    // pre-round-17 probe job and stays exact.
    // BOUNDED wait on the observation (round 18): `Observation.get`
    // blocks forever when the listener event for the observed write
    // never arrives — reproduced in round 17 when an observed write
    // runs on a stage-pool thread inside a streaming foreachBatch
    // (the nested execution's event never reaches the observation),
    // and the empty-metric completion above is itself Spark-4.1
    // ObservationManager behavior a different version need not share.
    // The staged write has already executed by here, so the listener
    // either fires within a beat or never will: wait a bounded
    // moment ([[observedDels]]), then fall back to the exact probe
    // job. Normal path cost: zero (the metric is already complete).
    val deletedRows =
      if (hitObs == null) 0L
      else observedDels(hitObs, 10000L).getOrElse(
        live.select(col(partCol), col(idCol))
          .join(broadcast(changes.select(col(partCol), col(idCol),
            col("op"))), Seq(partCol, idCol))
          .agg(coalesce(sum(when(col("op") === "delete", 1L)
            .otherwise(0L)), lit(0L))).head().getLong(0))
    touched.foreach { v =>
      val staged = new Path(s"$stage/$partCol=$v")
      // a partition whose rows were all deleted writes no staged dir;
      // install an EMPTY directory so the outcome is a present-but-
      // empty partition, never an ambiguous missing one
      if (!fs.exists(staged)) fs.mkdirs(staged)
      DirSwap.swap(spark, DirSwap.Dirs(staged.toString,
        s"$path/$partCol=$v", s"$path/.old_$partCol=$v"))
    }
    fs.delete(new Path(stage), true)
    MergeStats(touched.length, deletedRows, checked.upserts)
  }

  /** The `dels` metric of `obs`, or None when it does not report
    * within `timeoutMs`. The wait runs on its own daemon thread,
    * interrupted on timeout, so a listener event that never arrives
    * strands no thread and blocks no shared pool's worker.
    */
  private[graft] def observedDels(obs: org.apache.spark.sql.Observation,
      timeoutMs: Long): Option[Long] = {
    val got = new java.util.concurrent.atomic.AtomicReference[Option[Long]](None)
    val waiter = new Thread(() =>
      try got.set(obs.get.get("dels").map(_.asInstanceOf[Long]))
      catch { case _: Exception => () }, // interrupted or failed: probe
      "cow-merge-observation")
    waiter.setDaemon(true)
    waiter.start()
    waiter.join(timeoutMs)
    waiter.interrupt()
    got.get
  }

  // ---- merge-on-read: the changelog -------------------------------
  //
  // [[merge]] is copy-on-write: a change pays a rewrite of its whole
  // partition NOW and readers pay nothing. The other end of the
  // classic trade-off is merge-on-read: every change batch appends to
  // a CHANGELOG in O(batch) regardless of partition size, stamped
  // with a monotone sequence number; reads resolve latest-wins per
  // key ([[readMor]]) and [[compactChangelog]] folds the resolved set
  // through [[merge]]'s copy-on-write swap. Use MOR when change
  // latency matters more than read latency (a takedown's compliance
  // clock), COW when reads dominate; Probe cow_tombstone measures the
  // split. Same batch contract as merge, checked by the same
  // [[audit]] (≤1 change per key PER BATCH — revising an id across
  // batches is the point of the log; the stamp orders them). A
  // takedown is a DELETE-ONLY batch, which may carry just
  // (idCol, partCol, op); repeating it is idempotent at read and at
  // compaction.
  //
  // At-rest layout: each batch is ONE directory `cseq=<N>` under
  // `.changelog`, installed by a single atomic rename from a hidden
  // stage. That one decision buys three properties:
  //  - the next sequence number is a DIRECTORY LISTING (O(outstanding
  //    batches) metadata, no data read), and two racing writers
  //    serialize on the rename — the loser's rename fails against the
  //    non-empty installed directory and retries at N+1, so every
  //    batch gets a unique stamp (CowSpec runs the race);
  //  - readers never observe a half-written batch: before the rename
  //    the batch is invisible (dot-prefixed stage), after it the
  //    batch is complete — a crash leaves only stage garbage, swept
  //    at the next compaction;
  //  - per-batch schemas may legitimately differ (a delete-only batch
  //    may omit payload columns), so every changelog read takes the
  //    union of ALL batches' footer schemas ([[readLog]]) instead of
  //    trusting one sampled footer.

  /** Total committed parquet bytes under a side directory (recursive;
    * staging and hidden names excluded) — the cheap, exact signal for
    * the broadcast decision below.
    */
  private def dirParquetBytes(spark: SparkSession, dir: String): Long = {
    val fs = fsOf(spark, dir)
    def walk(p: Path): Long =
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).map { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) 0L
        else if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) st.getLen
        else 0L
      }.sum
    walk(new Path(dir))
  }

  /** Broadcast-hint the deferred-change side ONLY while it is safely
    * under `spark.sql.autoBroadcastJoinThreshold` (halved for
    * parquet-compression headroom — on-disk bytes under-estimate
    * in-memory relation size). An explicit `broadcast()` hint
    * OVERRIDES the threshold, so hinting unconditionally would force
    * an arbitrarily large outstanding set into the driver; past the
    * bound the hint is dropped and the planner (with AQE) picks a
    * shuffle join — still correct, just the read tax the compaction
    * policy exists to avoid (CowSpec pins the boundary).
    */
  private def maybeBroadcast(df: DataFrame, onDiskBytes: Long)
      : DataFrame = {
    val thr = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    if (thr > 0 && onDiskBytes <= thr / 2) broadcast(df) else df
  }

  private def logDir(path: String) = s"$path/.changelog"
  private val SeqDirRe = "cseq=([0-9]+)".r

  /** Committed batch stamps in the changelog, from one directory
    * listing — a batch is committed iff its `cseq=<N>` directory
    * exists with at least one parquet file (a crashed writer's
    * `.stage_*` dirs and a dead flat-append's `_temporary` carcass
    * both fail the pattern and are ignored).
    */
  private def logSeqs(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new Path(logDir(path))
    val fs = fsOf(spark, path)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case SeqDirRe(n) if st.isDirectory &&
            fs.listStatus(st.getPath).exists(f => f.isFile &&
              f.getPath.getName.endsWith(".parquet")) => Some(n.toLong)
        case _ => None
      }
    }.sorted
  }

  /** Parquet footers of the committed batches, read on the driver —
    * one open per batch file, no Spark job; outstanding batches are
    * few by the compaction policy (see [[readMor]]).
    */
  private def logFooters(spark: SparkSession, path: String)
      : Seq[ParquetMetadata] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, path)
    logSeqs(spark, path)
      .flatMap(n => fs.listStatus(new Path(s"${logDir(path)}/cseq=$n")))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getFooter finally r.close()
      }
  }

  /** The changelog as one DataFrame with its `_seq` stamp column —
    * at the union of the batches' schemas (delete-only batches may
    * omit payload columns; they read back as nulls). Every batch is
    * written by [[appendChanges]] through Spark, which records the
    * batch's schema in each footer, so the union comes from `footers`
    * without the Spark job schema inference would run.
    */
  private[graft] def readLog(spark: SparkSession, path: String)
      : DataFrame =
    readLog(spark, path, logFooters(spark, path))

  private def readLog(spark: SparkSession, path: String,
      footers: Seq[ParquetMetadata]): DataFrame = {
    val schema = footers.map { f =>
      val json = f.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
      require(json != null, s"changelog batch under ${logDir(path)} " +
        "carries no Spark schema; only appendChanges writes the log")
      DataType.fromJson(json).asInstanceOf[StructType]
    }.foldLeft(new StructType()) { (acc, batch) =>
      batch.fields.foldLeft(acc) { (a, f) =>
        if (a.fieldNames.contains(f.name)) a else a.add(f)
      }
    }.add("cseq", LongType)
    spark.read.schema(schema).parquet(logDir(path))
      .withColumnRenamed("cseq", "_seq")
  }

  /** Footer key under which Spark's parquet writer records the
    * written rows' schema (as DataType JSON).
    */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Can the log hold an upsert? Answered from its batches' footers'
    * `op` statistics ([[logFooters]]), no Spark job: the audit admits
    * only "delete" and "upsert", so a row group whose `op` maximum is
    * "delete" holds deletes only. A delete-only log — every takedown
    * — lets [[readMor]] skip resolving upserts; a footer without
    * statistics answers yes.
    */
  private def logHasUpserts(footers: Seq[ParquetMetadata]): Boolean = {
    import scala.jdk.CollectionConverters._
    footers.exists(_.getBlocks.asScala.exists(_.getColumns.asScala
      .filter(_.getPath.toDotString == "op")
      .forall(_.getStatistics match {
        case b: BinaryStatistics if b.hasNonNullValue =>
          b.genericGetMax.toStringUsingUTF8 != "delete"
        case _ => true
      })))
  }

  /** O(batch) deferred merge: validate the batch through [[merge]]'s
    * own [[audit]] (op domain, per-key uniqueness, AND the
    * partition-key path contract — refusing here is what guarantees
    * the eventual compaction cannot), then install it as the next
    * `cseq=<N>` directory with one atomic rename. No base partition
    * is touched. A takedown is a delete-only batch; it may carry just
    * (idCol, partCol, op).
    */
  def appendChanges(spark: SparkSession, path: String,
      changes: DataFrame, idCol: String, partCol: String): Unit = {
    // change batches are bounded by contract: ONE task audits and
    // writes the batch, and on one partition the audit's groupBy
    // needs no shuffle — one single-stage job. Persisted, so the
    // audit and the stage write share one run of the batch's source
    // (a takedown filtered from a corpus scan would scan it twice)
    val batch = changes.coalesce(1).persist()
    val fs = fsOf(spark, path)
    val stage = new Path(logDir(path),
      ".stage_" + java.util.UUID.randomUUID().toString)
    try {
      audit(batch, idCol, partCol)
      require(!changes.columns.contains("cseq"),
        "'cseq' is the changelog's reserved stamp column")
      batch.write.mode("overwrite").parquet(stage.toString)
    } finally batch.unpersist()
    // CAS install: CLAIM the stamp with an atomic exclusive file
    // create, then rename the stage into the claimed slot. The claim
    // is load-bearing — "rename onto an existing dir fails" is NOT a
    // safe CAS on Hadoop filesystems: RawLocalFileSystem.rename falls
    // back to COPY-INTO-DESTINATION when renameTo fails, so a racing
    // loser's batch would land (dot-prefixed, invisible) INSIDE the
    // winner's cseq dir with rename reporting success — a silently
    // lost batch (caught by CowSpec's race test, 2-of-6 loss under a
    // full parallel suite). Claim files are dot-prefixed (hidden from
    // every reader) and vanish with the log at compaction; a writer
    // that crashes between claim and rename burns its stamp — a gap
    // in the sequence, which only orders batches, never indexes them.
    var n = logSeqs(spark, path).lastOption.getOrElse(0L) + 1L
    var attempts = 0
    var done = false
    while (!done) {
      val dst = new Path(s"${logDir(path)}/cseq=$n")
      val claim = new Path(logDir(path), s".claim_$n")
      if (!fs.exists(dst) && atomicClaim(fs, claim)) {
        require(fs.rename(stage, dst),
          s"rename into claimed changelog stamp $n failed")
        done = true
      } else {
        n += 1L
        attempts += 1
        require(attempts < 10000,
          s"could not install changelog batch under ${logDir(path)}")
      }
    }
  }

  /** Filesystem schemes whose `create(p, overwrite = false)` is
    * ENFORCED atomic by the store itself: HDFS (namenode serializes
    * creates) and its wire-compatible relatives. Object-store
    * connectors (s3a, gs, abfs, wasb, oss, cos) are deliberately NOT
    * here: their default `create(overwrite = false)` is a
    * check-then-act HEAD+PUT — two racing appenders can both "win"
    * the claim and the changelog append CAS silently loses a batch,
    * the exact race the stamp claim exists to prevent. Supporting an
    * object store means wiring its conditional-write capability
    * (e.g. Hadoop 3.4+ `createFile().must("fs.option.create.conditional.overwrite...")`
    * / S3 If-None-Match) and adding the scheme here once verified.
    */
  private val ExclusiveCreateSchemes =
    Set("hdfs", "webhdfs", "viewfs", "ofs", "o3fs")

  /** Create `p` exclusively — true iff THIS caller created it. On
    * local filesystems Hadoop's `create(p, overwrite = false)` is
    * check-then-act (two racers can both pass), so the file:// path
    * uses `File.createNewFile` (O_CREAT|O_EXCL — kernel-atomic);
    * HDFS-class filesystems keep `create(overwrite = false)`, whose
    * exclusivity the namenode enforces. Any OTHER scheme REFUSES
    * loudly: claiming exclusivity a store does not enforce is how the
    * silent lost-batch race this guards against recurs on S3A-style
    * object stores (see [[ExclusiveCreateSchemes]]).
    */
  private def atomicClaim(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Boolean =
    if (fs.getScheme == "file") {
      val f = new java.io.File(p.toUri.getPath)
      f.getParentFile.mkdirs()
      try f.createNewFile()
      catch { case _: java.io.IOException => false }
    } else if (ExclusiveCreateSchemes.contains(fs.getScheme)) {
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    } else {
      throw new IllegalStateException(
        s"changelog append CAS requires enforced create-exclusivity; " +
          s"scheme '${fs.getScheme}' provides check-then-act " +
          "create(overwrite=false) only — concurrent appends could both " +
          "claim a stamp and silently drop a batch. Supported: file, " +
          ExclusiveCreateSchemes.toSeq.sorted.mkString(", ") + ".")
    }

  /** Committed-but-uncompacted change batches in the changelog — the
    * intake loop's compaction-trigger input (see [[readMor]]'s
    * compaction policy: compact before the outstanding-key volume
    * approaches the broadcast threshold). One directory listing.
    */
  def outstandingBatches(spark: SparkSession, path: String): Int =
    logSeqs(spark, path).size

  /** The latest-wins resolution of the changelog: one surviving
    * change row per (partCol, idCol) — the row with the highest
    * sequence stamp. Bounded by keys outstanding since the last
    * compaction.
    */
  private def resolvedLog(log: DataFrame, idCol: String,
      partCol: String): DataFrame = {
    val payload = log.columns.filterNot(c => c == partCol || c == idCol)
    log.groupBy(col(partCol), col(idCol))
      .agg(max_by(struct(payload.map(col): _*), col("_seq")).as("_c"))
      .select(col(partCol) +: col(idCol) +:
        payload.map(c => col(s"_c.$c").as(c)): _*)
  }

  /** Read with the changelog applied — the full merge-on-read path:
    * base rows whose key carries NO outstanding change, plus the
    * latest upsert row per changed key (a key whose latest change is
    * a delete contributes nothing). The tax is one broadcast
    * anti-join against the log's keys (duplicates across batches are
    * harmless to an anti-join, so they need no aggregate) plus the
    * bounded latest-wins aggregate for the upserts — skipped for a
    * delete-only log ([[logHasUpserts]]), the takedown case.
    *
    * COMPACTION POLICY (hard recommendation, measured in Probe
    * cow_changelog): the outstanding-key set rides the BROADCAST side
    * of the anti-join, so run [[compactChangelog]] BEFORE outstanding
    * keys approach `spark.sql.autoBroadcastJoinThreshold` —
    * past it the resolve degrades to a shuffle join on every read
    * (still correct — CowSpec pins the boundary — but the read tax
    * jumps from bounded-broadcast to corpus-shuffle class). A
    * production intake loop checks outstanding volume after each
    * append (it is the `logSeqs` listing plus batch sizes it already
    * knows) and compacts at a fixed fraction of the threshold.
    */
  def readMor(spark: SparkSession, path: String, idCol: String,
      partCol: String): DataFrame = {
    val base = spark.read.option("basePath", path).parquet(path)
    val footers = logFooters(spark, path)
    if (footers.isEmpty) return base
    val log = readLog(spark, path, footers)
    val kept = base.join(
      maybeBroadcast(log.select(col(partCol), col(idCol)),
        dirParquetBytes(spark, logDir(path))),
      Seq(partCol, idCol), "left_anti")
    if (!logHasUpserts(footers)) return kept
    // the log is bounded by the compaction policy below: ONE task
    // resolves it, with no shuffle stage
    val ups = resolvedLog(log.coalesce(1), idCol, partCol)
      .filter(col("op") === "upsert")
    // a batch may omit payload columns (the takedown shape); missing
    // base columns null-fill at the base schema's types
    val upsCols = ups.columns.toSet
    val sel = base.schema.fields.toSeq.map { f =>
      if (upsCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    kept.unionByName(ups.select(sel: _*))
  }

  /** Fold the resolved changelog through [[merge]] and clear it.
    * Apply-then-clear, converging retries: re-applying the same
    * resolved batch re-deletes absent ids (no-ops) and re-writes the
    * same upsert rows (idempotent). Also sweeps crashed appenders'
    * stage garbage (it deletes the whole log directory).
    */
  def compactChangelog(spark: SparkSession, path: String,
      idCol: String, partCol: String): MergeStats = {
    val fs = fsOf(spark, path)
    if (logSeqs(spark, path).isEmpty) {
      // stage carcasses / dead flat-append _temporary dirs are garbage
      if (fs.exists(new Path(logDir(path))))
        fs.delete(new Path(logDir(path)), true)
      return MergeStats(0, 0L, 0L)
    }
    val stats = merge(spark, path,
      resolvedLog(readLog(spark, path), idCol, partCol).drop("_seq"),
      idCol, partCol)
    fs.delete(new Path(logDir(path)), true)
    stats
  }
}
