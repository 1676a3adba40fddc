package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.io.Bucketing

/** Pins for the Z-order layout: the Morton key math itself, and the
  * file-skipping behavior that is the key's reason to exist —
  * measured on a 256×256 grid written 16 ways both z-ordered and
  * linearly sorted, by counting the files a selective predicate
  * actually touches on each layout.
  */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Range-partition and sort by the [[Bucketing.zValueN]] key: one
    * tight bounding box per file.
    */
  private def writeZOrdered(df: org.apache.spark.sql.DataFrame,
      path: String, dims: Seq[Column], numFiles: Int): Unit =
    df.withColumn("_zkey", Bucketing.zValueN(dims))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.parquet(path)

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
    writeZOrdered(cube, dir, Seq(col("x"), col("y"), col("z")), numFiles = 8)
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
    writeZOrdered(grid, zDir, Seq(col("x"), col("y")), numFiles = 16)
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

  test("trained IVF layout: reps ARE the learned centroids, scan pruned, probe exact") {
    import graft.ops.Similarity
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val work = Files.createTempDirectory("ann_trained").toString
    val cents = graft.io.AnnLayout.trainIvf(emb, work, k = 4, iters = 2)

    val reps = spark.read.parquet(s"$work/reps")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2).toSeq).toMap
    val centsMap = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(reps == centsMap,
      "reps codebook must be exactly the learned centroids")
    val gotLabels = spark.read.parquet(s"$work/corpus")
      .select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantLabels = Similarity.assignNearest(emb, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLabels == wantLabels)

    // partition pruning holds on the trained layout too
    val probe = reps.keys.toSeq.sorted.take(2)
    val all = spark.read.parquet(s"$work/corpus")
      .select(input_file_name()).distinct().count()
    val touched = graft.io.AnnLayout
      .prunedCorpusScan(spark, work, "label", probe)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.length < all)
    assert(touched.forall(f => probe.exists(c => f.contains(s"label=$c/"))))

    // query-identity vs a hand-built reference over the same corpus
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

  /** Every entry under `root` (directories too) with each file's bytes. */
  private def tree(root: String): Map[String, Seq[Byte]] = {
    val r = java.nio.file.Paths.get(root)
    scala.util.Using.resource(Files.walk(r)) { walk =>
      walk.iterator().asScala.map { p =>
        r.relativize(p).toString ->
          (if (Files.isDirectory(p)) Seq.empty[Byte]
           else Files.readAllBytes(p).toSeq)
      }.toMap
    }
  }

  test("layouts are write-once: every builder refuses a target holding corpus, reps or pq and leaves it byte-identical") {
    import graft.io.AnnLayout
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val full = Files.createTempDirectory("ann_once").toString
    AnnLayout.trainIvfPq(emb, full, kCoarse = 4, itersCoarse = 2,
      pqM = 2, pqK = 4, pqIters = 2)
    val builders: Seq[(String, String => Any)] = Seq(
      "writeIvf" -> ((p: String) => AnnLayout.writeIvf(emb, p)),
      "writeIvfQ8" -> ((p: String) => AnnLayout.writeIvfQ8(emb, p)),
      "trainIvf" -> ((p: String) =>
        AnnLayout.trainIvf(emb, p, k = 4, iters = 2)),
      "trainIvfQ8" -> ((p: String) =>
        AnnLayout.trainIvfQ8(emb, p, k = 4, iters = 2)),
      "trainIvfPq" -> ((p: String) =>
        AnnLayout.trainIvfPq(emb, p, kCoarse = 4, itersCoarse = 2,
          pqM = 2, pqK = 4, pqIters = 2)))
    // the whole layout, and one target per artifact holding only it
    val targets = full +: Seq("corpus", "reps", "pq").map { a =>
      val t = Files.createTempDirectory(s"ann_once_$a")
      graft.io.FrozenStore.copyTree(s"$full/$a", t.resolve(a).toString)
      t.toString
    }
    targets.foreach { t =>
      val before = tree(t)
      builders.foreach { case (name, build) =>
        val e = intercept[IllegalArgumentException](build(t))
        assert(e.getMessage.contains("write-once"), s"$name: $e")
        assert(tree(t) == before, s"$name changed $t before refusing")
      }
    }
  }

  test("frozenPath: a build that throws midway publishes nothing; a retry under the same key publishes the layout") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val key = s"layout_retry|${java.util.UUID.randomUUID()}"
    var stage = ""
    intercept[IllegalStateException] {
      graft.io.FrozenStore.frozenPath(key) { st =>
        stage = st
        // the corpus half of writeIvf lands, then the build dies
        Bucketing.writePartitioned(emb, s"$st/corpus", Seq("label"),
          Seq("vec_id"))
        throw new IllegalStateException("build died after the corpus")
      }
    }
    assert(new java.io.File(s"$stage/corpus").isDirectory,
      "the failed build's partial stage is the case under test")
    val published = graft.io.FrozenStore.frozenPath(key) { st =>
      graft.io.AnnLayout.writeIvf(emb, st)
    }
    assert(!new java.io.File(stage).exists, "stage left after publish")
    val queries = emb.filter(col("vec_id") < 10)
    val fromLayout = graft.io.AnnLayout
      .knnIvf(spark, published, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val flat = graft.ops.Similarity
      .knnIvf(queries, emb, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(fromLayout == flat && fromLayout.nonEmpty)
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
