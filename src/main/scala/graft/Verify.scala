package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.SharedCodegen._1, GraftSession.SharedCodegen._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c restricts the dump (and the oracle
    // manifest, so tools/check.py sees a consistent pair) for focused
    // iteration — mirrors Bench's SPARK_GRAFT_BENCH_ONLY.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val outcomes = SparkEntry.queries.filter(e => keep(e._1)).map { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = spark.read.parquet(s"$outDir/$name").count()
        name -> Right(rows)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name -> Left(Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // in-repo summary so the round record survives independent of the
    // driver's capture: per-query dumped row count or the failure message
    val summary = outcomes.map {
      case (k, Right(n)) => s"${q(k)}: {${q("rows")}: $n}"
      case (k, Left(m))  => s"${q(k)}: {${q("error")}: ${q(m.take(300))}}"
    }.mkString("{", ",", "}")
    if (only.isEmpty) // a filtered run must not clobber the full record
      Files.writeString(Paths.get("verify_out.json"), summary)
    spark.stop()
    // Hard gate (round-7 postmortem: a sweep with 55 errored queries
    // was committed under a green label because nothing made the error
    // count fatal). All dumps and the oracle manifest are already on
    // disk at this point, so a nonzero exit loses nothing — it only
    // refuses the "all declared queries ran" claim.
    val errs = outcomes.collect { case (name, Left(_)) => name }
    if (errs.nonEmpty) {
      System.err.println(
        s"[verify] ${errs.size}/${outcomes.size} queries ERRORED: ${errs.mkString(", ")}")
      sys.exit(1)
    }
  }
}
