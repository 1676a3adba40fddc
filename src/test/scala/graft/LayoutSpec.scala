package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Bucketing

/** Pins for the Z-order layout: the Morton key math itself, and the
  * file-skipping behavior that is the operator's reason to exist —
  * measured on a 256×256 grid written 16 ways both z-ordered and
  * linearly sorted, by counting the files a selective predicate
  * actually touches on each layout.
  */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("zValue interleaves bits (Morton order)") {
    // (a=3, b=1): spread(3)=0b101 on even lanes, spread(1)=0b1 shifted
    // to the odd lane ⇒ 0b111 = 7; a few more points pin the lanes
    val got = spark.range(1).select(
      Bucketing.zValue(lit(3L), lit(1L)).as("z31"),
      Bucketing.zValue(lit(1L), lit(3L)).as("z13"),
      Bucketing.zValue(lit(0L), lit(0L)).as("z00"),
      Bucketing.zValue(lit(0x7FFFFFFFL), lit(0L)).as("zmax_a"),
      Bucketing.zValue(lit(0L), lit(0x7FFFFFFFL)).as("zmax_b")).head()
    assert(got.getLong(0) == 7L)
    assert(got.getLong(1) == 11L) // 0b1011: a on even lanes, b on odd
    assert(got.getLong(2) == 0L)
    assert(got.getLong(3) == 0x1555555555555555L) // 31 even lanes set
    assert(got.getLong(4) == 0x2AAAAAAAAAAAAAAAL) // 31 odd lanes, positive
  }

  test("zValueN places bit j of dim i at position j*k+i (model-checked)") {
    // reference model computed in plain Scala, compared over a value grid
    def model(vals: Seq[Long], k: Int): Long = {
      val bits = 62 / k
      (for {
        (v, i) <- vals.zipWithIndex
        j <- 0 until bits
      } yield ((v >> j) & 1L) << (j * k + i)).sum
    }
    val df = spark.range(500).select(
      col("id").as("a"), (col("id") * 31 % 997).as("b"), (col("id") * 7 % 211).as("c"))
    val got = df.select(col("a"), col("b"), col("c"),
      Bucketing.zValueN(Seq(col("a"), col("b"), col("c"))).as("z")).collect()
    got.foreach { r =>
      assert(r.getLong(3) ==
        model(Seq(r.getLong(0), r.getLong(1), r.getLong(2)), 3),
        s"mismatch at (${r.getLong(0)}, ${r.getLong(1)}, ${r.getLong(2)})")
    }
    // k=2 routes to the spread fast path — must agree with zValue
    val two = spark.range(1000).select(
      Bucketing.zValueN(Seq(col("id"), col("id") * 13)).as("zn"),
      Bucketing.zValue(col("id"), col("id") * 13).as("z2"))
    assert(two.filter("zn <> z2").count() == 0)
  }

  test("3-dim z-order still prunes on every dimension") {
    // 32×32×32 cube, 8 files ⇒ one octant-ish z-range per file
    val cube = spark.range(32768).select(
      (col("id") % 32).as("x"),
      (col("id") / 32 % 32).cast("long").as("y"),
      (col("id") / 1024).cast("long").as("z"))
    val dir = Files.createTempDirectory("layout_z3").toString + "/t"
    Bucketing.writeZOrderedN(cube, dir,
      Seq(col("x"), col("y"), col("z")), numFiles = 8)
    def touched(pred: Column): Long =
      spark.read.parquet(dir).filter(pred)
        .select(input_file_name()).distinct().count()
    // each single-dim slice should intersect about half the octants
    // (plus range-boundary straddle), never all 8
    assert(touched(col("x") < 4) <= 6)
    assert(touched(col("y") < 4) <= 6)
    assert(touched(col("z") < 4) <= 6)
  }

  test("z-order layout prunes files on EITHER dimension; linear sort on one") {
    val grid = spark.range(65536).select(
      (col("id") % 256).as("x"),
      (col("id") / 256).cast("long").as("y"),
      col("id").as("v"))
    val zDir = Files.createTempDirectory("layout_z").toString + "/t"
    val linDir = Files.createTempDirectory("layout_lin").toString + "/t"
    Bucketing.writeZOrdered(grid, zDir, col("x"), col("y"), numFiles = 16)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x", "y")
      .write.parquet(linDir)

    // files holding matching rows = the files a stats-pruned scan must
    // read (one sorted row group per file ⇒ tight min/max footers)
    def filesTouched(path: String, pred: Column): Long =
      spark.read.parquet(path).filter(pred)
        .select(input_file_name()).distinct().count()

    // y-slice: the linear layout spreads y across every x-stripe, so
    // ALL 16 files match; z-order confines it to the bottom row of
    // 64×64 tiles (~4 of 16, plus range-boundary straddle)
    val yPred = col("y") < 16
    assert(filesTouched(linDir, yPred) == 16L)
    assert(filesTouched(zDir, yPred) <= 6L)
    // x-slice: linear wins outright (its own sort key), z gives up
    // only the √-factor — that asymmetry is the documented trade
    val xPred = col("x") < 16
    assert(filesTouched(linDir, xPred) <= 3L)
    assert(filesTouched(zDir, xPred) <= 6L)
    // and the layout changed nothing about the data itself
    assert(spark.read.parquet(zDir).agg(sum("v")).head().getLong(0) ==
      spark.read.parquet(linDir).agg(sum("v")).head().getLong(0))
  }

  test("IVF layout: result-identical to flat knnIvf, corpus scan confined to probed partitions") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val work = Files.createTempDirectory("ann_layout").toString
    graft.io.AnnLayout.writeIvf(emb, work)
    val queries = emb.filter(col("vec_id") < 10)

    val fromLayout = graft.io.AnnLayout
      .knnIvf(spark, work, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect()
    val flat = graft.ops.Similarity
      .knnIvf(queries, emb, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect()
    assert(fromLayout.toSeq == flat.toSeq)

    // the scan fraction claim, in actual files: a 2-cluster probe
    // list must touch only those clusters' directories, and fewer
    // files than the full layout holds
    val all = spark.read.parquet(s"$work/corpus")
      .select(input_file_name()).distinct().count()
    val probe = Seq(0, 1)
    val touched = graft.io.AnnLayout
      .prunedCorpusScan(spark, work, "label", probe)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.length < all)
    assert(touched.forall(f => probe.exists(c => f.contains(s"label=$c/"))),
      s"unpruned file in scan: ${touched.mkString(", ")}")
  }

  test("trained IVF layout: reps ARE the learned centroids, scan pruned, frozen-codebook append") {
    import graft.ops.Similarity
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.filter(col("vec_id") % 5 =!= 0)
    val b = emb.filter(col("vec_id") % 5 === 0)
    val work = Files.createTempDirectory("ann_trained").toString
    val cents = graft.io.AnnLayout.trainIvf(a, work, k = 4, iters = 2)

    def repsMap() = spark.read.parquet(s"$work/reps")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Double](2).toSeq)).toMap
    val centsMap = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val reps0 = repsMap()
    assert(reps0.view.mapValues(_._2).toMap == centsMap,
      "reps codebook must be exactly the learned centroids")

    // partition pruning holds on the trained layout too
    val probe = reps0.keys.toSeq.sorted.take(2)
    val all = spark.read.parquet(s"$work/corpus")
      .select(input_file_name()).distinct().count()
    val touched = graft.io.AnnLayout
      .prunedCorpusScan(spark, work, "label", probe)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.length < all)
    assert(touched.forall(f => probe.exists(c => f.contains(s"label=$c/"))))

    // frozen-codebook append: reps invariant, labels = assignNearest
    graft.io.AnnLayout.appendTrained(b, work)
    assert(repsMap() == reps0, "appendTrained must not touch the codebook")
    val gotLabels = spark.read.parquet(s"$work/corpus")
      .join(b.select("vec_id"), Seq("vec_id"))
      .select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantLabels = Similarity.assignNearest(b, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLabels == wantLabels)

    // query-identity vs a hand-built reference over the unioned corpus
    val queries = emb.filter(col("vec_id") < 10)
    val fromLayout = graft.io.AnnLayout
      .knnIvf(spark, work, queries, k = 5, nprobe = 2)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val labeledAll = Similarity.assignNearest(emb, cents)
      .select(col("vec_id").as("neighbor_id"), col("cluster"))
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      .select(col("cluster"), col("neighbor_id"),
        Similarity.asDouble(col("embedding")).as("cv"))
      .withColumn("cn", Similarity.norm2(col("cv")))
    val q = queries.select(col("vec_id").as("query_id"),
        Similarity.asDouble(col("embedding")).as("qv"))
      .withColumn("qn", Similarity.norm2(col("qv")))
    val r = cents.select(col("cluster"), col("cv").as("rv"))
      .withColumn("rn", Similarity.norm2(col("rv")))
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy((Similarity.dot(col("qv"), col("rv"))
        / sqrt(col("qn") * col("rn"))).desc, col("cluster"))
    val probed = q.crossJoin(broadcast(r))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 2)
      .select("query_id", "qv", "qn", "cluster")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val want = probed.join(labeledAll, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.dot(col("qv"), col("cv"))
        / sqrt(col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(fromLayout == want && fromLayout.nonEmpty)
  }

  test("trained Q8 layout append: frozen quantized codebook, dequantized-rep labels, queries correct on the union") {
    import graft.ops.Similarity
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.filter(col("vec_id") % 5 =!= 0)
    val b = emb.filter(col("vec_id") % 5 === 0)
    val work = Files.createTempDirectory("ann_trained_q8").toString
    graft.io.AnnLayout.trainIvfQ8(a, work, k = 4, iters = 2)

    def repsRows() = spark.read.parquet(s"$work/reps")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Byte](2).toSeq, r.getDouble(3))).toSet
    val reps0 = repsRows()
    graft.io.AnnLayout.appendTrainedQ8(b, work)
    assert(repsRows() == reps0, "append must not touch the quantized codebook")

    // appended labels == assignNearest against the DEQUANTIZED codebook
    val deq = spark.read.parquet(s"$work/reps")
      .select(col("label").as("cluster"),
        transform(col("rep_codes"),
          c => c.cast("double") * col("rep_scale") / lit(127.0)).as("cv"))
    val want = Similarity.assignNearest(b, deq)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = spark.read.parquet(s"$work/corpus")
      .join(b.select("vec_id"), Seq("vec_id"))
      .select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)

    // query-identity vs an UNPRUNED dequantized search that trusts the
    // layout's own labels — proves partition pruning drops nothing
    val queries = emb.filter(col("vec_id") < 10)
    val fromLayout = graft.io.AnnLayout
      .knnIvfQ8(spark, work, queries, k = 5, nprobe = 2)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val reps = spark.read.parquet(s"$work/reps")
      .select(col("label").as("cluster"), col("rep_codes"), col("rep_scale"))
    val members = spark.read.parquet(s"$work/corpus")
      .select(col("label").cast("long").as("cluster"),
        col("vec_id").as("neighbor_id"), col("codes"), col("scale"))
    val q = Similarity.q8CodesScaled(queries, "vec_id", "embedding",
      "query_id", "qa", "sq")
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy((col("sq") * col("rep_scale")
        * Similarity.intDot(col("qa"), col("rep_codes")).cast("double")
        / lit(16129.0)).desc, col("cluster"))
    val probed = q.crossJoin(broadcast(reps))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 2)
      .select("query_id", "qa", "sq", "cluster")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val wantQ = probed.join(members, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", col("sq") * col("scale")
        * Similarity.intDot(col("qa"), col("codes")).cast("double")
        / lit(16129.0))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "score")
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(fromLayout == wantQ && fromLayout.nonEmpty)
  }

  test("IVF layout append: write(A) + append(B) answers identically to write(A ∪ B)") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.filter(col("vec_id") % 5 =!= 0)
    val b = emb.filter(col("vec_id") % 5 === 0)
    val incr = Files.createTempDirectory("ann_incr").toString
    val full = Files.createTempDirectory("ann_full").toString
    graft.io.AnnLayout.writeIvf(a, incr)
    graft.io.AnnLayout.appendIvf(b, incr)
    graft.io.AnnLayout.writeIvf(emb, full)
    // reps codebooks agree (merge-of-minima == min-over-union)
    val repsI = spark.read.parquet(s"$incr/reps")
      .select("label", "rep_id").orderBy("label").collect().toSeq
    val repsF = spark.read.parquet(s"$full/reps")
      .select("label", "rep_id").orderBy("label").collect().toSeq
    assert(repsI == repsF)
    // and so do query answers
    val queries = emb.filter(col("vec_id") < 10)
    val outI = graft.io.AnnLayout.knnIvf(spark, incr, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val outF = graft.io.AnnLayout.knnIvf(spark, full, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(outI == outF && outI.nonEmpty)
  }

  private def partitionFileCounts(root: String): Map[String, Int] = {
    import org.apache.hadoop.fs.Path
    val corpus = new Path(s"$root/corpus")
    val fs = corpus.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(corpus).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("label="))
      .map(s => s.getPath.getName ->
        fs.listStatus(s.getPath).count(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet")))
      .toMap
  }

  test("IVF partition compaction: bounded file counts, query identity, hidden staging") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("ann_compact").toString
    graft.io.AnnLayout.writeIvf(emb.filter(col("vec_id") % 5 === 0), root)
    // 4 un-compacted appends: every touched partition gains a file set
    (1 to 4).foreach { r =>
      graft.io.AnnLayout.appendIvf(emb.filter(col("vec_id") % 5 === r), root)
    }
    val before = partitionFileCounts(root)
    assert(before.values.max > 1, s"appends should accumulate files: $before")
    val queries = emb.filter(col("vec_id") < 10)
    val preCompact = graft.io.AnnLayout
      .knnIvf(spark, root, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    // offline full compaction: every partition down to one file
    val n = graft.io.AnnLayout.compactIvfPartitions(spark, root,
      compactFiles = 1)
    assert(n == before.count(_._2 > 1))
    val after = partitionFileCounts(root)
    assert(after.keySet == before.keySet)
    assert(after.values.forall(_ == 1), s"expected 1 file/partition: $after")
    // no hidden stage/backup litter survives
    assert(!new java.io.File(s"$root/corpus").listFiles()
      .exists(f => f.getName.startsWith(".stage_") ||
        f.getName.startsWith(".old_")))
    val postCompact = graft.io.AnnLayout
      .knnIvf(spark, root, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(postCompact == preCompact && postCompact.nonEmpty)
    // layoutStats agrees with the direct listing, bytes are real, and
    // the compaction is visible in it
    val stats = graft.io.AnnLayout.layoutStats(spark, root)
    assert(stats.map(s => s"label=${s._1}" -> s._2).toMap ==
      partitionFileCounts(root))
    assert(stats.nonEmpty && stats.forall(_._3 > 0L))
  }

  test("append with compactWhenFilesOver keeps every partition at a bounded file count") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("ann_thresh").toString
    val full = Files.createTempDirectory("ann_thresh_full").toString
    graft.io.AnnLayout.writeIvf(emb.filter(col("vec_id") % 8 === 0), root)
    (1 to 7).foreach { r =>
      graft.io.AnnLayout.appendIvf(emb.filter(col("vec_id") % 8 === r), root,
        compactWhenFilesOver = 3, compactFiles = 1)
    }
    // invariant across N appends: post-append state never exceeds the
    // threshold (over-threshold partitions were rewritten to 1 file)
    val counts = partitionFileCounts(root)
    assert(counts.values.forall(_ <= 3), s"threshold violated: $counts")
    // and the maintained layout answers exactly like a from-scratch one
    graft.io.AnnLayout.writeIvf(emb, full)
    val queries = emb.filter(col("vec_id") < 10)
    val outI = graft.io.AnnLayout.knnIvf(spark, root, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val outF = graft.io.AnnLayout.knnIvf(spark, full, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(outI == outF && outI.nonEmpty)
  }

  test("appendTrainedWithStats: layout identical to appendTrained; stats match hand-computed values") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rootA = Files.createTempDirectory("ann_stats_a").toString
    val rootB = Files.createTempDirectory("ann_stats_b").toString
    val base = emb.filter(col("vec_id") % 3 === 0)
    graft.io.AnnLayout.trainIvf(base, rootA, k = 4, iters = 2)
    graft.io.AnnLayout.trainIvf(base, rootB, k = 4, iters = 2)
    val batch = emb.filter(col("vec_id") % 3 === 1)
    graft.io.AnnLayout.appendTrained(batch, rootA)
    val stats = graft.io.AnnLayout.appendTrainedWithStats(batch, rootB)
    // identical layout: same query answers either way
    val queries = emb.filter(col("vec_id") < 10)
    def ans(root: String) = graft.io.AnnLayout
      .knnIvf(spark, root, queries, k = 5, nprobe = 4)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ans(rootA) == ans(rootB) && ans(rootA).nonEmpty)
    // stats vs hand-computed ground truth from the same assignment
    val cents = spark.read.parquet(s"$rootB/reps")
      .select(col("label").as("cluster"), col("rep_vec").as("cv"))
    val assigned = graft.ops.Similarity.assignNearest(batch, cents)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val n = assigned.length.toLong
    assert(stats.n == n && n > 0)
    val occ = assigned.groupBy(_._1).view.mapValues(_.length).values
    assert(stats.cellsUsed == occ.size.toLong)
    assert(math.abs(stats.topCellShare - occ.max.toDouble / n) < 1e-12)
    // dd2 p50/p05 of the shifted cosine: within the sketch's bucket
    // width of the exact nearest-rank values
    val sorted = assigned.map(_._2).sorted
    def nearestRank(q: Double): Double =
      sorted(math.max(0, math.ceil(q * n).toInt - 1))
    assert(math.abs(stats.assignCosP50 - nearestRank(0.5)) < 0.02,
      s"p50 ${stats.assignCosP50} vs exact ${nearestRank(0.5)}")
    assert(math.abs(stats.assignCosP05 - nearestRank(0.05)) < 0.02,
      s"p05 ${stats.assignCosP05} vs exact ${nearestRank(0.05)}")
  }

  test("trained layout: threshold compaction leaves reps untouched; crashed partition swap is repaired") {
    import org.apache.hadoop.fs.Path
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("ann_trained_compact").toString
    graft.io.AnnLayout.trainIvf(emb.filter(col("vec_id") % 4 === 0), root,
      k = 4, iters = 2)
    val repsBefore = spark.read.parquet(s"$root/reps")
      .orderBy("label").collect().toSeq
    (1 to 3).foreach { r =>
      graft.io.AnnLayout.appendTrained(
        emb.filter(col("vec_id") % 4 === r), root,
        compactWhenFilesOver = 2, compactFiles = 1)
    }
    assert(partitionFileCounts(root).values.forall(_ <= 2))
    assert(spark.read.parquet(s"$root/reps").orderBy("label")
      .collect().toSeq == repsBefore) // frozen codebook untouched
    val queries = emb.filter(col("vec_id") < 10)
    val healthy = graft.io.AnnLayout
      .knnIvf(spark, root, queries, k = 5, nprobe = 4)
      .orderBy("query_id", "rank").collect().toSeq
    // simulate a crash between compactIvfPartitions' two swap renames:
    // partition dir gone, hidden backup holding the data
    val corpus = new Path(s"$root/corpus")
    val fs = corpus.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(corpus)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("label="))
      .head.getPath
    assert(fs.rename(victim, new Path(corpus, s".old_${victim.getName}")))
    graft.io.AnnLayout.repairPartitionSwaps(spark, root)
    assert(fs.exists(victim))
    val repaired = graft.io.AnnLayout
      .knnIvf(spark, root, queries, k = 5, nprobe = 4)
      .orderBy("query_id", "rank").collect().toSeq
    assert(repaired == healthy && repaired.nonEmpty)
  }

  test("maintainTrained: five-epoch intake loop — retrain fires at the crowding knee, queries identical across the swap") {
    import graft.io.EpochLayout
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("ann_maintain").toString
    val k = 4
    EpochLayout.trainIvf(emb.filter(col("vec_id") % 6 === 0), root,
      k = k, iters = 2)
    // epochs 1-3: in-distribution slices; epochs 4-5: a DRIFTED source
    // (every component shifted to a common large positive direction, so
    // the whole batch crowds into one frozen cell — the measured
    // failure mode the 3/k share gate exists for). EpochSpec pins which
    // epochs fire and the rebuilt epoch's identity; this pins the gate
    // statistics and the codebook's fit after the rebuild.
    def drifted(r: Int) = emb.filter(col("vec_id") % 6 === r)
      .withColumn("embedding",
        transform(col("embedding"), x => x * 0.05f + 10.0f))
    val results = (1 to 5).map { r =>
      val batch = if (r <= 3) emb.filter(col("vec_id") % 6 === r)
                  else drifted(r)
      r -> EpochLayout.maintainTrained(batch, root, iters = 2)
    }.toMap
    assert(results(4).stats.topCellShare > 3.0 / k,
      s"drifted batch did not crowd: ${results(4).stats}")
    // warned is exactly the documented p50 gate — no hidden coupling
    for (r <- 1 to 5)
      assert(results(r).warned == (results(r).stats.assignCosP50 < 0.7))
    // after the rebuild the codebook FITS the drifted source: epoch 5's
    // assignment cosine is near-perfect (the drift cluster has its own
    // centroid now), evidencing the retrain did its job
    assert(results(5).stats.assignCosP50 > 0.95,
      s"rebuilt codebook still misfits the drift: ${results(5).stats}")
    // query identity after epoch 5 appended into the rebuilt epoch: the
    // maintained layout answers exactly like a from-scratch trainIvf
    // build over the same unioned corpus
    val union = emb.filter(col("vec_id") % 6 <= 3)
      .unionByName(drifted(4)).unionByName(drifted(5))
    val ref = Files.createTempDirectory("ann_maintain_ref").toString
    graft.io.AnnLayout.trainIvf(union, ref, k = k, iters = 2)
    val queries = emb.filter(col("vec_id") < 10)
    def ans(p: String) = graft.io.AnnLayout
      .knnIvf(spark, p, queries, k = 5, nprobe = k)
      .orderBy("query_id", "rank").collect().toSeq
    val cur = EpochLayout.currentOrFail(spark, root)
    assert(ans(cur) == ans(ref) && ans(cur).nonEmpty)
  }

  test("maintainTrained(kppSeeds): crowding retrain rebuilds from distance-aware seeds, queries identical at full probe") {
    import graft.io.EpochLayout
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("ann_maintain_kpp").toString
    val k = 4
    EpochLayout.trainIvf(emb.filter(col("vec_id") % 3 === 0), root,
      k = k, iters = 2)
    // one massively drifted batch — crowds a single frozen cell and
    // fires the 3/k gate on the first epoch
    val drifted = emb.filter(col("vec_id") % 3 === 1)
      .withColumn("embedding",
        transform(col("embedding"), x => x * 0.05f + 10.0f))
    val r1 = EpochLayout.maintainTrained(drifted, root, iters = 2,
      kppSeeds = true)
    assert(r1.retrained, s"drifted batch did not fire the retrain: ${r1.stats}")
    // post-rebuild codebook fits the drift: the next drifted slice
    // assigns near-perfectly
    val r2 = EpochLayout.maintainTrained(
      emb.filter(col("vec_id") % 3 === 2)
        .withColumn("embedding",
          transform(col("embedding"), x => x * 0.05f + 10.0f)),
      root, iters = 2, kppSeeds = true)
    assert(r2.stats.assignCosP50 > 0.95,
      s"kpp-rebuilt codebook misfits the drift: ${r2.stats}")
    // at nprobe=k (all partitions probed) answers must equal a
    // from-scratch build over the same corpus, whatever the codebook
    val union = emb.filter(col("vec_id") % 3 === 0)
      .unionByName(drifted)
      .unionByName(emb.filter(col("vec_id") % 3 === 2)
        .withColumn("embedding",
          transform(col("embedding"), x => x * 0.05f + 10.0f)))
    val ref = Files.createTempDirectory("ann_maintain_kpp_ref").toString
    graft.io.AnnLayout.trainIvf(union, ref, k = k, iters = 2)
    val queries = emb.filter(col("vec_id") < 10)
    def ans(p: String) = graft.io.AnnLayout
      .knnIvf(spark, p, queries, k = 5, nprobe = k)
      .orderBy("query_id", "rank").collect().toSeq
    val cur = EpochLayout.currentOrFail(spark, root)
    assert(ans(cur) == ans(ref) && ans(cur).nonEmpty)
  }

  test("layoutRowStats: footer row counts exact per partition; auditTrained fires the crowding gate at rest") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("ann_audit").toString
    // k=8: the 3/k crowding knee needs k large enough that "everything
    // in one cell" clears it even when the balanced half dilutes the
    // share (at k=4 the gate is 0.75 and a 50/50 balanced/drifted mix
    // tops out near 0.62)
    val k = 8
    graft.io.AnnLayout.trainIvf(emb.filter(col("vec_id") % 4 =!= 3), root,
      k = k, iters = 2)
    // multi-file partitions so per-file footers actually sum
    graft.io.AnnLayout.appendTrained(emb.filter(col("vec_id") % 4 === 3), root)
    val stats = graft.io.AnnLayout.layoutRowStats(spark, root)
    // footer-derived rows == an actual data-scan groupBy, cell by cell
    val scanned = spark.read.parquet(s"$root/corpus")
      .groupBy("label").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(stats.map(s => s._1 -> s._4).toMap == scanned)
    // and the (cluster, files, bytes) prefix agrees with layoutStats
    assert(stats.map(s => (s._1, s._2, s._3)) ==
      graft.io.AnnLayout.layoutStats(spark, root))
    // a balanced layout does not fire the at-rest gate
    val balanced = graft.io.AnnLayout.auditTrained(spark, root)
    assert(balanced.rows == scanned.values.sum &&
      balanced.cells > 0 && balanced.cells <= k)
    assert(balanced.topCellShare <= 3.0 / k && !balanced.retrain,
      s"balanced layout fired: $balanced")
    // pile a drifted source into one frozen cell (the maintainTrained
    // crowding recipe) WITHOUT maintenance — the at-rest audit must
    // see exactly what the append-time gate would have
    val drifted = emb.withColumn("embedding",
      transform(col("embedding"), x => x * 0.05f + 10.0f))
    graft.io.AnnLayout.appendTrained(drifted, root)
    val crowded = graft.io.AnnLayout.auditTrained(spark, root)
    assert(crowded.topCellShare > 3.0 / k && crowded.retrain,
      s"crowded layout did not fire: $crowded")
    // the audit never read the corpus: it stays exact after the check
    assert(crowded.rows == balanced.rows + drifted.count())
  }

  test("deleteTrained: only holding partitions rewritten, reps frozen, survivors answer exactly") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("ann_takedown").toString
    graft.io.AnnLayout.trainIvf(emb, root, k = 4, iters = 2)
    val repsBefore = spark.read.parquet(s"$root/reps")
      .orderBy("label").collect().toSeq
    val before = spark.read.option("basePath", s"$root/corpus")
      .parquet(s"$root/corpus")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    // delete the ids living in ONE cluster only — the others' files
    // must survive untouched
    val someLabel = before.values.head
    val ids = before.filter(_._2 == someLabel).keys.take(5).toSeq.sorted
    def fileState(label: Any): Map[String, Long] = {
      val d = new java.io.File(s"$root/corpus/label=$label")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val otherLabels = before.values.toSet - someLabel
    val otherFiles = otherLabels.map(l => l -> fileState(l)).toMap
    val n = graft.io.AnnLayout.deleteTrained(spark, root, ids)
    assert(n == ids.length.toLong)
    // reps untouched; survivors exact; untouched partitions' files identical
    assert(spark.read.parquet(s"$root/reps").orderBy("label")
      .collect().toSeq == repsBefore)
    val after = spark.read.option("basePath", s"$root/corpus")
      .parquet(s"$root/corpus")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(after == before -- ids)
    otherLabels.foreach(l => assert(fileState(l) == otherFiles(l),
      s"partition label=$l was rewritten"))
    // the probe answers over survivors only, full rank set intact
    val res = graft.io.AnnLayout.knnIvf(spark, root,
        emb.filter(col("vec_id") < 6), k = 5, nprobe = 4)
      .collect()
    assert(res.nonEmpty)
    assert(!res.exists(r => ids.contains(r.getLong(2))),
      "a deleted id surfaced as a neighbor")
    // deleting absent ids is a no-op
    assert(graft.io.AnnLayout.deleteTrained(spark, root,
      Seq(99999901L, 99999902L)) == 0L)
  }
}
