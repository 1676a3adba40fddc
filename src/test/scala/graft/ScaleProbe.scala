package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Higher-SF spot check (round-18 deliverable): the sf0.1 bench is
  * floor-bound (VERDICT r17 — scaling ratios ≈ 1 because most faces'
  * bytes are tiny), so per-face wins need one measurement at a larger
  * volume to separate data-proportional improvements from floor-only
  * ones. This probe synthesizes an N× replica of the sf0.1 text/event
  * tables — id columns offset per replica so keys stay distinct,
  * document texts tagged per replica so near-dup cluster sizes stay
  * comparable instead of multiplying — and times selected faces over
  * it exactly the way Bench does (warmup at sf0.001, rep medians,
  * `toRdd` drain force). The relational TPC-H tables are copied 1×
  * (the probed faces read events/documents/embeddings).
  *
  * This is a plans/r18 measurement artifact, NOT a harness change:
  * Bench and the driver contract are untouched. Layout caveat: each
  * table stays ONE parquet file (the readers' pathGlobFilter contract),
  * so scan parallelism stays 1-2 tasks at any factor — what grows is
  * the data-proportional CPU/shuffle work, which is exactly the term
  * under test.
  *
  * Usage: Test/runMain graft.ScaleProbe <factor> <q1,q2,...> [reps]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR (base, default sf0.1).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(5)
    val names = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(sys.error("usage: ScaleProbe <factor> <q1,q2,...> [reps]"))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = s"/tmp/graft_scale_x$factor"
    val outP = java.nio.file.Paths.get(out)
    val ready = outP.resolve("_READY")
    val Off = 100000000L
    if (!java.nio.file.Files.exists(ready)) {
      java.nio.file.Files.createDirectories(outP)
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      tables.foreach { t =>
        val df = spark.read.parquet(s"$base/$t.parquet")
        val idCols = Seq("user_id", "event_id", "doc_id", "vec_id")
          .filter(df.columns.contains)
        val scaled =
          if (idCols.isEmpty) df
          else (0 until factor).map { k =>
            val shifted = idCols.foldLeft(df)((d, c) =>
              d.withColumn(c, col(c) + lit(k * Off)))
            // keep replica 0 byte-identical; tag the others' text so
            // duplicate-cluster sizes stay ~constant instead of ×N
            if (k > 0 && df.columns.contains("text"))
              shifted.withColumn("text", concat(col("text"), lit(s" r$k")))
            else shifted
          }.reduce(_.unionByName(_))
        // single file named exactly <t>.parquet (the readers'
        // pathGlobFilter contract)
        val stage = s"$out/_stage_$t"
        scaled.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = scala.util.Using.resource(
            java.nio.file.Files.list(java.nio.file.Paths.get(stage))) {
          _.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        }
        java.nio.file.Files.move(part, outP.resolve(s"$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        scala.util.Using.resource(
          java.nio.file.Files.walk(java.nio.file.Paths.get(stage))) { w =>
          w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
      java.nio.file.Files.createFile(ready)
      ()
    }

    def force(df: DataFrame): Long =
      df.queryExecution.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator(n)
      }.fold(0L)(_ + _)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    // warmup like Bench (JIT/codegen at the smallest SF)
    names.foreach { n =>
      try force(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        force(fn(spark, out))
        (System.nanoTime() - t0) / 1e9
      }
      name -> median(ts)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"probe":"scale","factor":$factor,"base":"$base","reps":$reps,"queries":$qs}""")
    spark.stop()
  }
}
