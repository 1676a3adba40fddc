package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Bucketing, CowTable}

/** Pins for copy-on-write merge ([[graft.io.CowTable]]): result
  * identity with a naive full recompute, the untouched-partition
  * file-identity guarantee (the operator's scale reason), crash
  * repair, the delete-to-empty + refill cycle, and the change-batch
  * contract validations.
  */
class CowSpec extends AnyFunSuite {
  // conf-mutating suite: isolated session (see TestSpark.isolated)
  lazy val spark = TestSpark.isolated()
  private val sf = "/root/testdata/sf0.001"

  private def docs = graft.io.Tables.documents(spark, sf)
  private val cols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def freshTable(): String = {
    val t = Files.createTempDirectory("cow").toString + "/docs"
    Bucketing.writePartitioned(docs, t, Seq("lang"), Seq("doc_id"))
    t
  }

  private def readAll(t: String) =
    spark.read.option("basePath", t).parquet(t)
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq

  private def changeSet() = {
    val dels = docs.filter(col("doc_id") % 37 === 0)
      .select(cols.map(col) :+ lit("delete").as("op"): _*)
    val ups = docs
      .filter(col("doc_id") % 41 === 3 && col("doc_id") % 37 =!= 0)
      .withColumn("text", concat(lit("v2 "), col("text")))
      .withColumn("n_chars", col("n_chars") + 3)
      .select(cols.map(col) :+ lit("upsert").as("op"): _*)
    val ins = docs.filter(col("doc_id") % 53 === 5)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("new "), col("text")).as("text"), col("lang"),
        col("source"), (col("n_chars") + 4).as("n_chars"),
        lit("upsert").as("op"))
    dels.unionByName(ups).unionByName(ins)
  }

  test("merge == naive full recompute; only touched partitions rewritten") {
    val t = freshTable()
    def fileState(p: String): Map[String, Long] = {
      val d = new java.io.File(p)
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    // zh is untouched by construction: restrict every change to the
    // other four langs so one partition must survive byte-identical
    val ch = changeSet().filter(col("lang") =!= "zh")
    val zhBefore = fileState(s"$t/lang=zh")
    assert(zhBefore.nonEmpty)
    val stats = CowTable.merge(spark, t, ch, "doc_id", "lang")
    assert(stats.partitionsTouched == 4, s"$stats")
    assert(stats.deleted > 0 && stats.upserted > 0, s"$stats")
    // naive recompute of the expected table
    val chNoOp = ch.drop("op")
    val want = docs
      .join(ch.select("doc_id", "lang"), Seq("doc_id", "lang"),
        "left_anti")
      .unionByName(ch.filter(col("op") === "upsert").drop("op"))
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(readAll(t) == want && want.nonEmpty)
    assert(chNoOp.columns.toSet == cols.toSet)
    // the untouched partition's files are the SAME files
    assert(fileState(s"$t/lang=zh") == zhBefore,
      "untouched partition was rewritten")
    // no staging / backup litter
    val left = new java.io.File(t).listFiles().map(_.getName)
      .filter(n => n.startsWith(".old_") || n == ".merge_stage")
    assert(left.isEmpty, s"litter: ${left.toSeq}")
  }

  test("delete-to-empty partition stays readable and refillable") {
    val t = freshTable()
    val zhRows = docs.filter(col("lang") === "zh")
    val delAll = zhRows
      .select(cols.map(col) :+ lit("delete").as("op"): _*)
    CowTable.merge(spark, t, delAll, "doc_id", "lang")
    assert(readAll(t).count(_(2) == "zh") == 0)
    // empty partition directory is PRESENT (unambiguous), not missing
    assert(new java.io.File(s"$t/lang=zh").isDirectory)
    // refill: upsert two zh docs back in
    val refill = zhRows.limit(2)
      .select(cols.map(col) :+ lit("upsert").as("op"): _*)
    CowTable.merge(spark, t, refill, "doc_id", "lang")
    assert(readAll(t).count(_(2) == "zh") == 2)
  }

  test("crash repair: missing target restored from .old_, leftover stage cleared") {
    val t = freshTable()
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = readAll(t)
    // simulate a crash between the two swap renames: target moved to
    // backup, replacement never installed — plus an abandoned stage
    fs.rename(new org.apache.hadoop.fs.Path(s"$t/lang=en"),
      new org.apache.hadoop.fs.Path(s"$t/.old_lang=en"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$t/.merge_stage/lang=en"))
    val noop = docs.filter(col("doc_id") === -1)
      .select(cols.map(col) :+ lit("delete").as("op"): _*)
    CowTable.merge(spark, t, noop, "doc_id", "lang") // entry repair runs
    assert(readAll(t) == before, "repair lost rows")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/.merge_stage")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/.old_lang=en")))
  }

  test("delete-only batch may omit payload columns (the takedown shape)") {
    val t = freshTable()
    val minimal = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id"), col("lang"), lit("delete").as("op"))
    val stats = CowTable.merge(spark, t, minimal, "doc_id", "lang")
    assert(stats.deleted > 0 && stats.upserted == 0, s"$stats")
    val want = docs.filter(col("doc_id") % 37 =!= 0)
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(readAll(t) == want)
  }

  test("appendChanges runs its batch's source scan once: the audit and the stage write share it") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val t = freshTable()
    // the q_cow_tombstone takedown shape: filtered from a corpus scan
    val takedown = docs.filter(col("doc_id") % 37 === 0)
      .select(col("lang"), col("doc_id"), lit("delete").as("op"))
    val docRows = docs.count()
    // every documents scan node that ran, a cached relation's included;
    // a node run twice shows twice its rows in its own metric
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cacheBuilder.cachedPlan)
      case f: FileSourceScanExec
          if f.relation.location.inputFiles.exists(_.contains("documents")) =>
        Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.synchronized {
        scans(qe.executedPlan).foreach(seen.add); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      CowTable.appendChanges(spark, t, takedown, "doc_id", "lang")
      org.apache.spark.sql.graftbridge.ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val rowsScanned = seen.synchronized {
      seen.asScala.toSeq.map(_.metrics("numOutputRows").value).sum
    }
    assert(rowsScanned == docRows,
      s"the batch's source was scanned ${rowsScanned.toDouble / docRows} times")
    assert(CowTable.readMor(spark, t, "doc_id", "lang").count() ==
      docs.filter(col("doc_id") % 37 =!= 0).count())
  }

  test("all-or-nothing visibility: merge composed under EpochLayout.publish") {
    // the CowTable doc's claim, pinned: per-partition swaps give
    // old-or-new PER PARTITION; wrapping the merged build in an epoch
    // publish gives one atomic cutover for readers resolving current()
    val root = Files.createTempDirectory("cow_epoch").toString
    val e1 = graft.io.EpochLayout.publish(spark, root) { d =>
      Bucketing.writePartitioned(docs, s"$d/docs", Seq("lang"),
        Seq("doc_id"))
    }
    val ch = changeSet()
    val e2 = graft.io.EpochLayout.publish(spark, root) { d =>
      // copy-forward the current epoch's table, then merge in place
      // INSIDE the invisible new epoch — the swap granularity becomes
      // the epoch marker, not the partition directory
      val cur = graft.io.EpochLayout.currentOrFail(spark, root)
      Bucketing.writePartitioned(
        spark.read.option("basePath", s"$cur/docs")
          .parquet(s"$cur/docs"),
        s"$d/docs", Seq("lang"), Seq("doc_id"))
      graft.io.CowTable.merge(spark, s"$d/docs", ch, "doc_id", "lang")
      ()
    }
    assert(e2.endsWith("/e2"))
    val want = docs
      .join(ch.select("doc_id", "lang"), Seq("doc_id", "lang"),
        "left_anti")
      .unionByName(ch.filter(col("op") === "upsert").drop("op"))
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(readAll(s"$e2/docs") == want)
    // the retained previous epoch still serves the pre-merge table
    assert(readAll(s"$e1/docs") ==
      docs.select(cols.map(col): _*).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq)
  }

  test("merge-on-read: tombstone delete touches NO base file; compaction folds and clears") {
    // a takedown is a delete-only changelog batch in the minimal
    // (lang, doc_id, op) shape
    val t = freshTable()
    def baseFiles(): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory && !f.getName.startsWith(".")) walk(f)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
      walk(new java.io.File(t)).map(f =>
        f.getAbsolutePath -> f.lastModified()).toMap
    }
    def takedown(ids: org.apache.spark.sql.Column) = docs.filter(ids)
      .select(col("lang"), col("doc_id"), lit("delete").as("op"))
    val before = baseFiles()
    val dels = takedown(col("doc_id") % 37 === 0)
    CowTable.appendChanges(spark, t, dels, "doc_id", "lang")
    // O(batch): every base file byte-identical, even in partitions
    // that HOLD deleted rows — that is the MOR/COW difference
    assert(baseFiles() == before, "a delete-only append rewrote base files")
    val want = docs.filter(col("doc_id") % 37 =!= 0)
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    def morRead() = CowTable.readMor(spark, t, "doc_id", "lang")
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(morRead() == want)
    // duplicate appends are idempotent at read
    CowTable.appendChanges(spark, t, dels.limit(3), "doc_id", "lang")
    assert(morRead() == want)
    // compaction folds the deletes into the base and clears the log
    val stats = CowTable.compactChangelog(spark, t, "doc_id", "lang")
    assert(stats.deleted > 0)
    assert(!new java.io.File(s"$t/.changelog").exists())
    assert(readAll(t) == want && morRead() == want)
    // re-compacting with nothing outstanding is a no-op
    assert(CowTable.compactChangelog(spark, t, "doc_id", "lang")
      == CowTable.MergeStats(0, 0L, 0L))
    // crash between apply and clear: re-applying converges (deletes
    // of already-absent ids are no-ops)
    CowTable.appendChanges(spark, t, takedown(col("doc_id") % 41 === 3),
      "doc_id", "lang")
    CowTable.merge(spark, t,
      CowTable.readLog(spark, t).drop("_seq"), "doc_id", "lang")
    // log still present (the simulated crash) — compact must
    // converge, not fail
    CowTable.compactChangelog(spark, t, "doc_id", "lang")
    assert(!new java.io.File(s"$t/.changelog").exists())
    assert(readAll(t) == docs
      .filter(col("doc_id") % 37 =!= 0 && col("doc_id") % 41 =!= 3)
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq)
  }

  test("changelog MOR: latest-wins across batches, base untouched, compaction folds and converges") {
    val t = freshTable()
    def baseFiles(): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory && !f.getName.startsWith(".")) walk(f)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
      walk(new java.io.File(t)).map(f =>
        f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = baseFiles()
    // batch 1: the standard change set; batch 2: revise every
    // upserted doc again (v3), delete the batch-1 inserts, and
    // re-upsert one batch-1-DELETED id — all legal across batches
    CowTable.appendChanges(spark, t, changeSet(), "doc_id", "lang")
    val v3 = docs
      .filter(col("doc_id") % 41 === 3 && col("doc_id") % 37 =!= 0)
      .withColumn("text", concat(lit("v3 "), col("text")))
      .withColumn("n_chars", col("n_chars") + 3)
      .select(cols.map(col) :+ lit("upsert").as("op"): _*)
    val dropIns = docs.filter(col("doc_id") % 53 === 5)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        lit(null).cast("string").as("text"), col("lang"),
        col("source"), lit(null).cast("long").as("n_chars"),
        lit("delete").as("op"))
    val resurrect = docs.filter(col("doc_id") % 37 === 0).limit(1)
      .withColumn("text", concat(lit("back "), col("text")))
      .select(cols.map(col) :+ lit("upsert").as("op"): _*)
    CowTable.appendChanges(spark, t,
      v3.unionByName(dropIns).unionByName(resurrect), "doc_id", "lang")
    assert(baseFiles() == before, "a changelog append rewrote base files")
    // expected: kept ∪ v3-upserts ∪ the resurrected row
    val resurrected = resurrect.drop("op")
    val want = docs
      .filter(col("doc_id") % 37 =!= 0 && col("doc_id") % 41 =!= 3)
      .select(cols.map(col): _*)
      .unionByName(v3.drop("op"))
      .unionByName(resurrected)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def morRead() = CowTable.readMor(spark, t, "doc_id", "lang")
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(morRead() == want)
    // compaction: physical table == MOR view, changelog cleared
    val stats = CowTable.compactChangelog(spark, t, "doc_id", "lang")
    assert(stats.deleted > 0 && stats.upserted > 0, s"$stats")
    assert(!new java.io.File(s"$t/.changelog").exists())
    assert(readAll(t) == want && morRead() == want)
    // crash between apply and clear converges on retry
    CowTable.appendChanges(spark, t,
      docs.limit(1).select(cols.map(col) :+ lit("delete").as("op"): _*),
      "doc_id", "lang")
    CowTable.merge(spark, t,
      CowTable.readLog(spark, t).drop("_seq"),
      "doc_id", "lang")
    CowTable.compactChangelog(spark, t, "doc_id", "lang") // re-applies
    assert(!new java.io.File(s"$t/.changelog").exists())
    // within-batch duplicate refused at append time
    val one = docs.limit(1)
    intercept[IllegalArgumentException] {
      CowTable.appendChanges(spark, t,
        one.select(cols.map(col) :+ lit("delete").as("op"): _*)
          .unionByName(
            one.select(cols.map(col) :+ lit("upsert").as("op"): _*)),
        "doc_id", "lang")
    }
  }

  test("changelog schema boundary: minimal-schema delete-only batch between full-schema batches") {
    // the takedown shape (doc_id, lang, op — no payload columns) as a
    // CHANGELOG batch, appended next to full-schema batches: the log
    // read (at the union of every batch's schema) must null-fill the
    // missing payload columns and latest-wins resolution must still
    // order correctly across the schema boundary — including a
    // minimal-schema delete REVOKING an earlier full-schema upsert,
    // and a later full-schema upsert resurrecting a minimally-deleted
    // key
    val t = freshTable()
    val ups = docs.filter(col("doc_id") % 41 === 3)
      .withColumn("text", concat(lit("v2 "), col("text")))
      .select(cols.map(col) :+ lit("upsert").as("op"): _*)
    CowTable.appendChanges(spark, t, ups, "doc_id", "lang")
    // minimal schema: delete every %37 key AND one %41-upserted key
    val victim = docs.filter(col("doc_id") % 41 === 3 &&
        col("doc_id") % 37 =!= 0)
      .select("doc_id", "lang").orderBy("doc_id").limit(1)
      .collect()(0)
    import spark.implicits._
    val minimalDel = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id"), col("lang"))
      .unionByName(Seq((victim.getLong(0), victim.getString(1)))
        .toDF("doc_id", "lang"))
      .withColumn("op", lit("delete"))
    CowTable.appendChanges(spark, t, minimalDel, "doc_id", "lang")
    // full schema again: resurrect one minimally-deleted %37 key
    val back = docs.filter(col("doc_id") % 37 === 0).limit(1)
      .withColumn("text", concat(lit("back "), col("text")))
      .select(cols.map(col) :+ lit("upsert").as("op"): _*)
    CowTable.appendChanges(spark, t, back, "doc_id", "lang")
    val backRow = back.drop("op")
    val want = docs
      .filter(col("doc_id") % 37 =!= 0 &&
        col("doc_id") =!= victim.getLong(0))
      .select(cols.map(col): _*)
      // surviving v2 upserts replace their base rows
      .filter(col("doc_id") % 41 =!= 3)
      .unionByName(ups.drop("op")
        .filter(col("doc_id") % 37 =!= 0 &&
          col("doc_id") =!= victim.getLong(0)))
      .unionByName(backRow)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def morRead() = CowTable.readMor(spark, t, "doc_id", "lang")
      .select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(morRead() == want)
    // compaction folds across the schema boundary to the same view
    val stats = CowTable.compactChangelog(spark, t, "doc_id", "lang")
    assert(stats.deleted > 0 && stats.upserted > 0, s"$stats")
    assert(readAll(t) == want && morRead() == want)
  }

  test("a crashed append's _temporary-only side dir never wedges readers or writers") {
    val t = freshTable()
    val want = docs.select(cols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    // simulate a crash mid-append: the log dir exists but holds only
    // Spark's staging — no committed parquet footer to read
    new java.io.File(s"$t/.changelog/_temporary").mkdirs()
    def morRead(f: => org.apache.spark.sql.DataFrame) =
      f.select(cols.map(col): _*).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
    assert(morRead(CowTable.readMor(spark, t, "doc_id", "lang")) == want)
    // compaction treats the carcass as garbage and clears it
    assert(CowTable.compactChangelog(spark, t, "doc_id", "lang")
      == CowTable.MergeStats(0, 0L, 0L))
    assert(!new java.io.File(s"$t/.changelog").exists())
    // and the next writer starts cleanly at seq 1
    new java.io.File(s"$t/.changelog/_temporary").mkdirs()
    CowTable.appendChanges(spark, t,
      docs.limit(1).select(cols.map(col) :+ lit("delete").as("op"): _*),
      "doc_id", "lang")
    assert(CowTable.readLog(spark, t)
      .agg(max(col("_seq"))).head().getLong(0) == 1L)
  }

  test("concurrent appenders serialize on the stamp rename — every batch a unique _seq") {
    val t = freshTable()
    val ids = docs.select("doc_id", "lang").orderBy("doc_id")
      .limit(24).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ids.length == 24,
      s"corpus too small for the 6-appender race: ${ids.length} ids")
    // materialize the groups FIRST and size the barrier from them — a
    // hard-coded party count one group short would HANG the suite at
    // gate.await() instead of failing
    val groups = ids.grouped(4).toVector
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(groups.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import spark.implicits._
    // start barrier: all appenders hit the claim window together
    // (the 2-of-6 silent-loss failure this test caught only surfaced
    // under full-suite contention; the barrier makes the race hot in
    // isolation too)
    val gate = new java.util.concurrent.CyclicBarrier(groups.size)
    val futs = groups.zipWithIndex.map { case (g, i) =>
      scala.concurrent.Future {
        val ch = g.toSeq.toDF("doc_id", "lang")
          .withColumn("text", concat(lit(s"w$i "), col("doc_id")))
          .withColumn("source", lit(s"writer$i"))
          .withColumn("n_chars", lit(1L))
          .withColumn("op", lit("upsert"))
        gate.await()
        CowTable.appendChanges(spark, t, ch, "doc_id", "lang")
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    val stamps = CowTable.readLog(spark, t)
      .select("_seq").distinct().collect().map(_.getLong(0)).sorted
    assert(stamps.toSeq == (1L to groups.size.toLong),
      s"stamps: ${stamps.toSeq}")
    // every appended row survives latest-wins resolution exactly once
    val mor = CowTable.readMor(spark, t, "doc_id", "lang")
      .filter(col("source").startsWith("writer"))
    assert(mor.count() == 24L)
    assert(mor.select("doc_id").distinct().count() == 24L)
  }

  test("outstanding set past the broadcast threshold: readMor drops the hint, stays correct") {
    val t = freshTable()
    CowTable.appendChanges(spark, t, changeSet(), "doc_id", "lang")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1") // 1 byte: any real log exceeds it
      val mor = CowTable.readMor(spark, t, "doc_id", "lang")
      assert(!mor.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "hint still forced a broadcast past the threshold")
      val want = docs
        .join(changeSet().select("doc_id", "lang"),
          Seq("doc_id", "lang"), "left_anti")
        .unionByName(changeSet().filter(col("op") === "upsert").drop("op"))
        .select(cols.map(col): _*).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      assert(mor.select(cols.map(col): _*).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq == want)
    } finally spark.conf.set(key, prev)
  }

  test("null partition value refused before any write (merge AND append)") {
    val t = freshTable()
    val before = readAll(t)
    val nullPart = docs.limit(1)
      .select(cols.map(col) :+ lit("delete").as("op"): _*)
      .withColumn("lang", lit(null).cast("string"))
    intercept[IllegalArgumentException] {
      CowTable.merge(spark, t, nullPart, "doc_id", "lang")
    }
    intercept[IllegalArgumentException] {
      CowTable.appendChanges(spark, t, nullPart, "doc_id", "lang")
    }
    assert(readAll(t) == before)
    assert(!new java.io.File(s"$t/.changelog").exists())
  }

  test("MergeStats.deleted reports rows actually displaced, not delete-op count") {
    val t = freshTable()
    // 2 deletes that hit + 3 deletes of ids that were never live
    val hits = docs.orderBy("doc_id").limit(2)
      .select(col("doc_id"), col("lang"), lit("delete").as("op"))
    val misses = docs.orderBy("doc_id").limit(3)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("lang"),
        lit("delete").as("op"))
    val stats = CowTable.merge(spark, t, hits.unionByName(misses),
      "doc_id", "lang")
    assert(stats.deleted == 2L, s"$stats")
  }

  test("contract violations refuse before any write") {
    val t = freshTable()
    val before = readAll(t)
    val badOp = docs.limit(1)
      .select(cols.map(col) :+ lit("replace").as("op"): _*)
    intercept[IllegalArgumentException] {
      CowTable.merge(spark, t, badOp, "doc_id", "lang")
    }
    val one = docs.limit(1)
    val dup = one.select(cols.map(col) :+ lit("delete").as("op"): _*)
      .unionByName(
        one.select(cols.map(col) :+ lit("upsert").as("op"): _*))
    intercept[IllegalArgumentException] {
      CowTable.merge(spark, t, dup, "doc_id", "lang")
    }
    // a partition value needing Hive escaping would make the
    // constructed live/swap paths miss (silent data loss) — refused
    val escapey = one
      .select(cols.map(col) :+ lit("delete").as("op"): _*)
      .withColumn("lang", lit("e n"))
    intercept[IllegalArgumentException] {
      CowTable.merge(spark, t, escapey, "doc_id", "lang")
    }
    // a TAKEDOWN (minimal delete-only changelog batch) runs the same
    // audit: a Hive-escaping or null partition value never reaches
    // the log, where it would make every later compaction throw
    val takedown = one
      .select(col("lang"), col("doc_id"), lit("delete").as("op"))
    Seq(lit("e n"), lit(null).cast("string")).foreach { v =>
      intercept[IllegalArgumentException] {
        CowTable.appendChanges(spark, t, takedown.withColumn("lang", v),
          "doc_id", "lang")
      }
    }
    assert(readAll(t) == before, "a refused batch mutated the table")
    assert(!new java.io.File(s"$t/.changelog").exists())
  }

  test("cross-partition id rules: the atomic move pair is legal; dual upserts of one id refuse") {
    val t = freshTable()
    // MOVE: delete the row in its real partition + upsert it under a
    // new lang in ONE batch — the contract's documented move recipe
    // (two key-disjoint composite keys; the ops commute physically)
    val row = docs.orderBy("doc_id").limit(1)
    val oldLang = row.select("lang").head().getString(0)
    val newLang = if (oldLang == "zh") "en" else "zh"
    val mv = row.select(cols.map(col) :+ lit("delete").as("op"): _*)
      .unionByName(row.withColumn("lang", lit(newLang))
        .select(cols.map(col) :+ lit("upsert").as("op"): _*))
    val stats = CowTable.merge(spark, t, mv, "doc_id", "lang")
    assert(stats.deleted == 1L && stats.upserted == 1L, s"$stats")
    val id = row.select("doc_id").head().getLong(0)
    val langsNow = spark.read.option("basePath", t).parquet(t)
      .filter(col("doc_id") === id).select("lang")
      .collect().map(_.getString(0)).toSeq
    assert(langsNow == Seq(newLang), s"moved row lives in $langsNow")
    // DUAL UPSERT: one id asserted live in two partitions at once —
    // incoherent under the immutable-partCol contract; refused before
    // any write by merge AND by the changelog append
    val before = readAll(t)
    val dual = row.select(cols.map(col) :+ lit("upsert").as("op"): _*)
      .unionByName(row.withColumn("lang", lit(newLang))
        .select(cols.map(col) :+ lit("upsert").as("op"): _*))
    intercept[IllegalArgumentException] {
      CowTable.merge(spark, t, dual, "doc_id", "lang")
    }
    intercept[IllegalArgumentException] {
      CowTable.appendChanges(spark, t, dual, "doc_id", "lang")
    }
    assert(readAll(t) == before, "a refused batch mutated the table")
    assert(!new java.io.File(s"$t/.changelog").exists())
    // a DELETE pair across partitions stays legal: the id lives in
    // exactly one partition, so at most one delete hits (no-op other)
    val dd = row.select(cols.map(col) :+ lit("delete").as("op"): _*)
      .unionByName(row.withColumn("lang", lit(newLang))
        .select(cols.map(col) :+ lit("delete").as("op"): _*))
    val s2 = CowTable.merge(spark, t, dd, "doc_id", "lang")
    assert(s2.deleted == 1L, s"$s2")
  }

  test("outstandingBatches tracks the intake loop's compaction trigger") {
    val t = freshTable()
    assert(CowTable.outstandingBatches(spark, t) == 0)
    val b1 = docs.filter(col("doc_id") % 41 === 3)
      .withColumn("text", concat(lit("v2 "), col("text")))
      .select(cols.map(col) :+ lit("upsert").as("op"): _*)
    CowTable.appendChanges(spark, t, b1, "doc_id", "lang")
    assert(CowTable.outstandingBatches(spark, t) == 1)
    val b2 = docs.filter(col("doc_id") % 37 === 0)
      .select(cols.map(col) :+ lit("delete").as("op"): _*)
    CowTable.appendChanges(spark, t, b2, "doc_id", "lang")
    assert(CowTable.outstandingBatches(spark, t) == 2)
    CowTable.compactChangelog(spark, t, "doc_id", "lang")
    assert(CowTable.outstandingBatches(spark, t) == 0)
    // post-compaction appends start a fresh log — the q_stream_mor
    // intake shape (append, threshold-compact, append, read MOR)
    CowTable.appendChanges(spark, t, b1.withColumn("text",
      concat(lit("v3"), col("text"))), "doc_id", "lang")
    assert(CowTable.outstandingBatches(spark, t) == 1)
  }

  test("merge from a pool thread inside foreachBatch completes with exact stats (no observation hang)") {
    // The round-17 hang class: an OBSERVED write whose action runs on
    // a driver pool thread inside a streaming foreachBatch never gets
    // its listener event, so Observation.get blocks forever — merge's
    // displacement audit is exactly such an observed write when
    // streaming compaction calls it. The bounded wait + exact-probe
    // fallback must make this shape terminate with the same MergeStats
    // and table contents as a plain driver-thread merge.
    val tRef = freshTable()
    val want = CowTable.merge(spark, tRef, changeSet(), "doc_id", "lang")
    val t = freshTable()
    @volatile var got: CowTable.MergeStats = null
    val ckpt = Files.createTempDirectory("cow_fb_ckpt").toString
    val q = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        // 120 s bound: a regression back to the unbounded wait fails
        // the spec instead of wedging the suite
        got = Await.result(
          Future(CowTable.merge(spark, t, changeSet(), "doc_id", "lang")),
          120.seconds)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got == want, s"pool-thread merge stats $got != direct $want")
    assert(got.deleted > 0 && got.upserted > 0, s"$got")
    assert(readAll(t) == readAll(tRef))
  }

  test("timed-out displacement waits strand no thread; the global pool stays usable") {
    // an Observation that never reports: the shape the merge's bounded
    // wait exists for
    val waits = Runtime.getRuntime.availableProcessors + 2
    (1 to waits).foreach { _ =>
      assert(CowTable.observedDels(org.apache.spark.sql.Observation(), 20L)
        .isEmpty)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    assert(Await.result(Future(42), 10.seconds) == 42)
    // each timed-out waiter was interrupted and has exited
    def waiters = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .count(t => t.getName == "cow-merge-observation" && t.isAlive)
    val deadline = System.currentTimeMillis() + 10000
    while (waiters > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(waiters == 0, "timed-out observation waiters still alive")
  }
}
