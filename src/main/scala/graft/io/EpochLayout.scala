package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Epoch-directory publication for paired at-rest artifacts. A
  * retrain replaces the corpus AND its reps codebook together; two
  * back-to-back directory swaps would let a CONCURRENT reader inside
  * the renames observe the new corpus against the old reps (recall
  * loss, never wrong rows), and would need a paired three-state crash
  * repair. Here a version of the whole pair lives under one epoch
  * directory:
  *
  * {{{
  * root/epochs/e3/corpus/...    root/epochs/e3/reps/...
  * root/epochs/e3/_EPOCH_COMPLETE
  * root/epochs/e4/...           (being built — no marker yet)
  * }}}
  *
  * and "the current version" is resolved as the HIGHEST-numbered
  * epoch whose `_EPOCH_COMPLETE` marker exists. There is no pointer
  * file and therefore no pointer swap: publishing is one atomic
  * file CREATE (the marker), which a reader either sees or doesn't.
  * Every resolution is a consistent pair by construction — the
  * marker is written only after both artifacts are fully on disk —
  * so no cross-artifact window exists at all, and no repair logic is
  * needed for readers (an unmarked epoch is simply invisible; the
  * writer deletes it on its next entry).
  *
  * Cost accounting (why this is cost-NEUTRAL versus staged swaps,
  * not the naive "doubles the footprint"): any crash-safe retrain
  * writes a complete second copy of the pair before installing it,
  * so peak at-rest bytes during maintenance are identical; the epoch
  * store additionally RETAINS `retain` previous epochs after publish
  * (default 1) for in-flight readers — that retention is the one real
  * cost, and it is the same snapshot-retention contract every table
  * format (Iceberg/Delta snapshot expiry) charges for the same
  * guarantee.
  *
  * Contracts: single writer; a reader's query lifetime must be
  * shorter than `retain` publish intervals (else GC can delete the
  * epoch under it — the standard snapshot-expiry contract). This
  * object never modifies an epoch after its marker: [[AnnLayout]]
  * layouts are write-once, so a new corpus or a retrained codebook
  * is a new build published as a NEW epoch.
  *
  * Reference scope note: the reference engine
  * (market-data-ingestor-go) has no at-rest index at all; this is
  * part of the north-star extension surface (SURVEY §2.7), the
  * 100 TB maintenance story for the trained ANN layouts.
  */
object EpochLayout {

  private val EpochRe = "e([0-9]+)".r
  private[graft] val Marker = "_EPOCH_COMPLETE"

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (epoch number, path) for every `e<N>` child of `root/epochs`,
    * complete or not; empty when the store has never been written.
    */
  private[graft] def epochs(spark: SparkSession,
      root: String): Seq[(Long, Path)] = {
    val dir = new Path(s"$root/epochs")
    val fs = fsOf(spark, root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case EpochRe(n) => Some((n.toLong, st.getPath))
          case _ => None
        }
      case _ => None
    }.flatten.sortBy(_._1)
  }

  private def isComplete(spark: SparkSession, p: Path): Boolean =
    fsOf(spark, p.toString).exists(new Path(p, Marker))

  /** The current epoch's directory — highest-numbered COMPLETE
    * epoch — or None before the first publish. Mutation-free: safe
    * under a concurrent writer (the analogue of [[DirSwap.read]],
    * except nothing can ever need falling back from).
    */
  def current(spark: SparkSession, root: String): Option[String] =
    epochs(spark, root).filter(e => isComplete(spark, e._2))
      .lastOption.map(_._2.toString)

  /** [[current]] that throws with a clear message when the store is
    * empty — the read-path entry point.
    */
  def currentOrFail(spark: SparkSession, root: String): String =
    current(spark, root).getOrElse(
      sys.error(s"no complete epoch under $root/epochs — " +
        "publish one first (trainIvf/publish)"))

  /** Build-and-publish one epoch: `build` populates a fresh
    * `root/epochs/e<N+1>` (invisible to readers — no marker), then
    * the marker file is created (the atomic publish), then complete
    * epochs older than the newest `retain + 1` are deleted. Returns
    * the published directory.
    *
    * Writer-entry repair: any UNMARKED epoch directory is a crashed
    * previous build and is deleted first — readers never saw it, so
    * this is pure garbage collection, with no roll-forward/roll-back
    * case analysis to get right (the marker-only protocol has one
    * state: complete or garbage).
    */
  def publish(spark: SparkSession, root: String, retain: Int = 1)
      (build: String => Unit): String = {
    require(retain >= 0, s"retain must be >= 0, got $retain")
    val fs = fsOf(spark, root)
    val all = epochs(spark, root)
    all.filterNot(e => isComplete(spark, e._2))
      .foreach(e => fs.delete(e._2, true))
    val next = all.lastOption.map(_._1 + 1).getOrElse(1L)
    val dir = s"$root/epochs/e$next"
    build(dir)
    require(fs.exists(new Path(dir)),
      s"publish build wrote nothing at $dir")
    fs.create(new Path(dir, Marker)).close() // THE publish: one atomic create
    val complete = epochs(spark, root)
      .filter(e => isComplete(spark, e._2))
    complete.dropRight(retain + 1).foreach(e => fs.delete(e._2, true))
    dir
  }

  /** Initial trained-IVF build as epoch 1 (or a full manual rebuild
    * as a new epoch). Thin wrapper: [[AnnLayout.trainIvf]] writes
    * the pair into the invisible epoch dir; the marker publishes it.
    */
  def trainIvf(corpus: DataFrame, root: String, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L,
      seeds: DataFrame = null, retain: Int = 1): String =
    publish(corpus.sparkSession, root, retain) { dir =>
      AnnLayout.trainIvf(corpus, dir, k, iters, idCol, vecCol,
        clusterCol, maxRecordsPerFile, seeds)
      ()
    }

  /** Probe the current epoch — [[AnnLayout.knnIvf]] against the
    * resolved pair. Identical results to the flat layout's probe on
    * the same data (EpochSpec pins it); the only difference is that
    * the resolution step can never observe a mid-swap state.
    */
  def knnIvf(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    AnnLayout.knnIvf(spark, currentOrFail(spark, root), queries, k,
      nprobe)
}
