package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dumps the formatted physical plan of every catalog query to
  * <outDir>/<name>.plan.txt — the plan-audit artifact (pushdown,
  * pruning, broadcast, partial-agg, codegen spans) reviewed in
  * PERF.md. Usage: runMain graft.Explain <sfDir> <outDir>
  */
object Explain {
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
    Files.createDirectories(Paths.get(outDir))
    // SPARK_GRAFT_EXPLAIN_ONLY=a,b,c restricts the dump for focused
    // before/after plan capture — mirrors Bench's SPARK_GRAFT_BENCH_ONLY
    val only = sys.env.get("SPARK_GRAFT_EXPLAIN_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$name.plan.txt"), plan)
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
