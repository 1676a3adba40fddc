package graft

import org.apache.spark.sql.SparkSession

/** Measured backing for [[GraftSession.streamingBuilder]]'s RocksDB
  * claim: the same stateful streaming dedup (the q_stream_dedup body)
  * timed under the default HDFS-backed (heap) state store and under
  * the RocksDB provider, interleaved reps, medians printed as one
  * JSON line. The provider conf is read at query start, so flipping
  * it between runs on one session is the honest comparison (identical
  * JVM, identical data, identical plan).
  *
  * Expectation at THIS scale: RocksDB pays a small fixed cost per
  * batch (native store init, JNI writes) and wins nothing — sf0.1
  * state fits heap trivially. The claim it backs is about key
  * cardinality bounds (state off-heap at 100 TB), not local-mode
  * speed; the number here pins what the swap costs when heap would
  * have been enough.
  *
  * Usage: runMain graft.StateBench [sfDir] [reps]
  */
object StateBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.SharedCodegen._1, GraftSession.SharedCodegen._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val providerKey = GraftSession.RocksDbStateStore._1
    val rocks = GraftSession.RocksDbStateStore._2
    // SPARK_GRAFT_STATE_QUERIES widens the A/B beyond the original
    // q_stream_dedup probe (round 18: the verdict asked for the
    // provider comparison at every stateful face class)
    val names = sys.env.get("SPARK_GRAFT_STATE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_stream_dedup"))

    def median(xs: Array[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    names.foreach { name =>
      val query = SparkEntry.queries(name)
      def run(provider: Option[String]): Double = {
        provider.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
        val t0 = System.nanoTime()
        query(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // warm both paths (JIT + RocksDB native lib load) before timing
      run(None); run(Some(rocks))
      val (hdfs, rdb) = (Array.newBuilder[Double], Array.newBuilder[Double])
      for (_ <- 1 to reps) { hdfs += run(None); rdb += run(Some(rocks)) }
      val (h, r) = (hdfs.result(), rdb.result())
      println(s"""{"probe":"state_store","query":"$name","sf":"$sfDir",""" +
        s""""reps":$reps,"hdfs_median_sec":${median(h)},""" +
        s""""rocksdb_median_sec":${median(r)},""" +
        s""""hdfs_minmax":[${h.min},${h.max}],"rocksdb_minmax":[${r.min},${r.max}]}""")
    }
    spark.stop()
  }
}
