package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.io.DirSwap
import graft.io.DirSwap.Dirs

/** Crash table for [[graft.io.DirSwap]], the one directory-swap
  * protocol every at-rest store commits through: each crash point of
  * a swap, under each naming scheme in use, with the new version's
  * stage both complete (`_SUCCESS` present) and partial.
  */
class DirSwapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One naming scheme. `stageRoot` is set for partition swaps, whose
    * stages are written by one partitioned job under a shared root.
    */
  private case class Scheme(name: String, dirs: String => Dirs,
      stageRoot: Option[Dirs => String])

  private def parent(p: String) = new Path(p).getParent.toString

  private val schemes = Seq(
    Scheme("latest table",
      r => Dirs(s"$r/stage", s"$r/current", s"$r/old"), None),
    Scheme("<dir>.stage / <dir>.old",
      r => Dirs.sibling(s"$r/index"), None),
    Scheme("hidden .old_<part>",
      r => Dirs(s"$r/.merge_stage/p=1", s"$r/p=1", s"$r/.old_p=1"),
      Some(d => parent(d.stage))))

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  private def writeStage(s: Scheme, d: Dirs, rows: Set[Long]): Unit =
    s.stageRoot match {
      case None =>
        rows.toSeq.toDF("id").write.mode("overwrite").parquet(d.stage)
      case Some(root) =>
        rows.toSeq.map(i => (i, 1)).toDF("id", "p")
          .write.mode("overwrite").partitionBy("p").parquet(root(d))
    }

  private def repair(s: Scheme, d: Dirs): Unit = s.stageRoot match {
    case None => DirSwap.repair(spark, d)
    case Some(root) =>
      DirSwap.repairPartitions(spark, parent(d.target), Some(root(d)))
  }

  /** A writer's whole commit: entry repair, stage, swap, stage-root
    * cleanup.
    */
  private def commit(s: Scheme, d: Dirs, rows: Set[Long]): Unit = {
    repair(s, d)
    writeStage(s, d, rows)
    DirSwap.swap(spark, d)
    s.stageRoot.foreach(root => fsOf(d).delete(new Path(root(d)), true))
  }

  private def fsOf(d: Dirs) = new Path(d.target)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("every crash point under every naming scheme: reads see old or new, the next swap leaves no stage or backup") {
    val (oldRows, newRows, nextRows) = (Set(1L, 2L), Set(3L), Set(4L, 5L))
    for (s <- schemes; crash <- Seq("after stage write",
        "after target->backup", "after stage->target"); complete <- Seq(true, false)) {
      val clue = s"${s.name}, crash $crash, stage ${if (complete) "complete" else "partial"}"
      val d = s.dirs(Files.createTempDirectory("dirswap").toString)
      val fs = fsOf(d)
      commit(s, d, oldRows)
      // the crashed swap: its stage, then the renames up to the crash
      writeStage(s, d, newRows)
      if (!complete)
        Seq(d.stage, parent(d.stage)).foreach(p =>
          fs.delete(new Path(p, "_SUCCESS"), false))
      if (crash != "after stage write")
        assert(fs.rename(new Path(d.target), new Path(d.backup)), clue)
      if (crash == "after stage->target")
        assert(fs.rename(new Path(d.stage), new Path(d.target)), clue)
      // roll forward only a complete stage whose target is gone, and
      // only where the stage carries its own marker
      val want = crash match {
        case "after stage write" => oldRows
        case "after target->backup" =>
          if (complete && s.stageRoot.isEmpty) newRows else oldRows
        case _ => newRows
      }
      assert(ids(DirSwap.read(spark, d)) == want, clue)
      // the writer's repair installs exactly what readers saw
      repair(s, d)
      assert(ids(DirSwap.read(spark, d)) == want, clue)
      assert(!fs.exists(new Path(d.backup)), clue)
      commit(s, d, nextRows)
      assert(ids(DirSwap.read(spark, d)) == nextRows, clue)
      assert(!fs.exists(new Path(d.stage)) && !fs.exists(new Path(d.backup)),
        clue)
      s.stageRoot.foreach(root => assert(!fs.exists(new Path(root(d))), clue))
      // a failed install throws and leaves the target in place
      intercept[Exception](DirSwap.swap(spark, d))
      assert(ids(DirSwap.read(spark, d)) == nextRows, clue)
      assert(!fs.exists(new Path(d.backup)), clue)
    }
  }
}
