package graft

import org.apache.spark.sql.functions._

/** Higher-SF replica writer (round-18 deliverable): the sf0.1 bench is
  * floor-bound (VERDICT r17 — scaling ratios ≈ 1 because most faces'
  * bytes are tiny), so per-face wins need one measurement at a larger
  * volume to separate data-proportional improvements from floor-only
  * ones. This writes an N× replica of the sf0.1 text/event tables to
  * /tmp/graft_scale_x<N> — id columns offset per replica so keys stay
  * distinct, document texts tagged per replica so near-dup cluster
  * sizes stay comparable instead of multiplying. The relational TPC-H
  * tables are copied 1× (the probed faces read
  * events/documents/embeddings). Bench times faces over it, with its
  * own warm-up, rep medians, force and floor record:
  * {{{
  *   Test/runMain graft.ScaleProbe 5
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_scale_x5 SPARK_GRAFT_BENCH_ONLY=q1,q2 \
  *     SPARK_GRAFT_BENCH_FLOOR=1 runMain graft.Bench
  * }}}
  * Layout caveat: each table stays ONE parquet file (the readers'
  * pathGlobFilter contract), so scan parallelism stays 1-2 tasks at
  * any factor — what grows is the data-proportional CPU/shuffle work,
  * which is exactly the term under test.
  *
  * Usage: Test/runMain graft.ScaleProbe [factor]  (default 5)
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR (base, default sf0.1).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(5)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()

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

    println(s"$out ready")
    spark.stop()
  }
}
