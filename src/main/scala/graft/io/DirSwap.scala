package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol for a directory replaced as a whole: the
  * latest-tick table and the dedup first-occurrence index, and each
  * Hive partition a [[CowTable.merge]] rewrites. (ANN layouts are
  * write-once and never swap: see [[AnnLayout]].)
  *
  * [[swap]] installs a fully written `stage` with two renames
  * (target → backup, stage → target) and then deletes the backup. A
  * crash can stop it at any step, so every state it can leave has
  * exactly one resolution, shared by [[repair]] (the writer, on
  * entry) and [[read]] (a reader, without modifying anything):
  *  - target present: it is current; a backup beside it is a swap
  *    that committed before its delete and is dropped;
  *  - target missing and the stage carries Spark's `_SUCCESS` marker:
  *    the crash hit between the renames (or before a first install),
  *    and the stage is the newest complete version — roll forward.
  *    Without this a keep-last table rebuilt from the next micro-batch
  *    alone would drop every prior key;
  *  - target missing otherwise: the backup is the consistent pre-swap
  *    version — restore it.
  * Partition swaps stage under a shared root whose per-partition
  * directories carry no marker, so [[repairPartitions]] only restores
  * or drops each hidden `.old_<part>` backup (a visible
  * `lang=en.old` would be parsed as partition value "en.old").
  *
  * Every rename's result is checked: a failed rename throws instead of
  * leaving a layout that silently points at nothing. Single writer
  * assumed, as for every store in this package.
  */
object DirSwap {

  /** The three directories of one swapped target. */
  final case class Dirs(stage: String, target: String, backup: String)

  object Dirs {
    /** `<target>.stage` / `<target>.old` siblings. */
    def sibling(target: String): Dirs =
      Dirs(s"$target.stage", target, s"$target.old")
  }

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) sys.error(s"rename $from -> $to failed")

  /** The directory holding the version [[repair]] would leave at the
    * target (the target itself when nothing exists yet).
    */
  private def resolve(fs: FileSystem, d: Dirs): Path = {
    val t = new Path(d.target)
    if (fs.exists(t)) t
    else if (fs.exists(new Path(d.stage, "_SUCCESS"))) new Path(d.stage)
    else if (fs.exists(new Path(d.backup))) new Path(d.backup)
    else t
  }

  /** Read the current version, whatever step a crashed swap stopped
    * at: old or new data, never a missing directory (unless the target
    * was never written). Mutation-free, so safe beside a live writer.
    */
  def read(spark: SparkSession, d: Dirs): DataFrame =
    ParquetSchema.read(spark, resolve(fsOf(spark, d.target), d).toString)

  /** Finish or undo a crashed [[swap]] (rules in the object doc).
    * Writers call this on entry, before reading the target.
    */
  def repair(spark: SparkSession, d: Dirs): Unit = {
    val fs = fsOf(spark, d.target)
    val t = new Path(d.target)
    val src = resolve(fs, d)
    if (src != t) rename(fs, src, t)
    val b = new Path(d.backup)
    if (fs.exists(t) && fs.exists(b)) fs.delete(b, true)
    ()
  }

  /** Install the fully written `d.stage` at `d.target`. Starts from
    * any state a crashed swap leaves: a missing target with its
    * backup present is simply replaced, and a failed install (a false
    * rename, or one that throws) restores the backup before throwing.
    */
  def swap(spark: SparkSession, d: Dirs): Unit = {
    val fs = fsOf(spark, d.target)
    val (s, t, b) = (new Path(d.stage), new Path(d.target), new Path(d.backup))
    if (fs.exists(t)) {
      if (fs.exists(b)) fs.delete(b, true)
      rename(fs, t, b)
    }
    try rename(fs, s, t)
    catch { case e: Exception =>
      if (!fs.exists(t) && fs.exists(b)) rename(fs, b, t)
      throw e
    }
    fs.delete(b, true)
    ()
  }

  /** Finish every partition swap a crash left under `root`: restore
    * each hidden `.old_<part>` whose partition is missing, drop it
    * where the swap committed, then delete `stageRoot` — a crashed
    * writer's stage is garbage, since the live table is untouched
    * until its swap loop and every partition that loop swapped is
    * already consistent. One driver-side listing.
    */
  def repairPartitions(spark: SparkSession, root: String,
      stageRoot: Option[String]): Unit = {
    val fs = fsOf(spark, root)
    val r = new Path(root)
    if (!fs.exists(r)) return
    fs.listStatus(r).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(".old_")) {
        val target = new Path(r, name.stripPrefix(".old_"))
        if (!fs.exists(target)) rename(fs, st.getPath, target)
        else fs.delete(st.getPath, true)
      }
    }
    stageRoot.foreach(s => fs.delete(new Path(s), true))
  }
}
