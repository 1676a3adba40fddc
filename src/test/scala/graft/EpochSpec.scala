package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{AnnLayout, EpochLayout}

/** Pins for the epoch-directory publication protocol
  * ([[graft.io.EpochLayout]]): query identity with the flat layout,
  * retrains as new epochs, the marker-create publish (a reader NEVER
  * resolves an unmarked epoch, so the flat layout's two-rename
  * cross-artifact window structurally cannot occur), crashed-build
  * invisibility + writer-entry GC, and the snapshot-retention
  * contract.
  */
class EpochSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = graft.io.Tables.embeddings(spark, sf)

  private def ans(dir: String, nprobe: Int = 4) = AnnLayout
    .knnIvf(spark, dir, emb.filter(col("vec_id") < 10), k = 5,
      nprobe = nprobe)
    .orderBy("query_id", "rank").collect().toSeq

  test("epoch train + probe: identical to the flat trainIvf layout") {
    val root = Files.createTempDirectory("epoch_train").toString
    val flat = Files.createTempDirectory("epoch_train_flat").toString
    val slice = emb.filter(col("vec_id") % 2 === 0)
    val dir = EpochLayout.trainIvf(slice, root, k = 4, iters = 2)
    AnnLayout.trainIvf(slice, flat, k = 4, iters = 2)
    assert(dir.endsWith("/epochs/e1"))
    // resolution returns Hadoop's listed path (may carry a file:
    // scheme the raw build string lacks) — same directory either way
    assert(EpochLayout.current(spark, root)
      .exists(_.stripPrefix("file:") == dir.stripPrefix("file:")))
    val viaStore = EpochLayout
      .knnIvf(spark, root, emb.filter(col("vec_id") < 10), k = 5,
        nprobe = 4)
      .orderBy("query_id", "rank").collect().toSeq
    assert(viaStore == ans(flat) && viaStore.nonEmpty)
    // published epoch holds the full pair plus the marker, no litter
    // (Hadoop's local FS writes hidden .crc siblings — not litter)
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(names == Set("corpus", "reps", EpochLayout.Marker),
      s"unexpected epoch contents: $names")
  }

  test("retrain publishes a NEW epoch; previous epoch retained for in-flight readers") {
    val root = Files.createTempDirectory("epoch_retrain").toString
    val k = 4
    EpochLayout.trainIvf(emb.filter(col("vec_id") % 3 === 0), root,
      k = k, iters = 2)
    val e1 = EpochLayout.currentOrFail(spark, root)
    assert(e1.endsWith("/e1"))
    // a reader "in flight" on e1 across the retrain: its pinned dir
    // must survive the publish (retain = 1)
    val pinnedBefore = ans(e1, nprobe = k)
    // the retrain over a grown corpus is a new build, published as e2
    val grown = emb.filter(col("vec_id") % 3 =!= 2)
    EpochLayout.trainIvf(grown, root, k = k, iters = 2)
    val e2 = EpochLayout.currentOrFail(spark, root)
    assert(e2.endsWith("/e2"), s"retrain did not publish e2: $e2")
    assert(ans(e1, nprobe = k) == pinnedBefore,
      "retained epoch changed under the in-flight reader")
    // the published pair answers exactly like a flat build over the
    // same corpus
    val ref = Files.createTempDirectory("epoch_retrain_ref").toString
    AnnLayout.trainIvf(grown, ref, k = k, iters = 2)
    assert(ans(e2, nprobe = k) == ans(ref, nprobe = k)
      && ans(e2, nprobe = k).nonEmpty)
    // a second retrain GCs e1 (newest retain+1 = 2 epochs kept: e2, e3)
    EpochLayout.trainIvf(emb, root, k = k, iters = 2)
    val left = new java.io.File(s"$root/epochs").listFiles()
      .map(_.getName).toSet
    assert(left == Set("e2", "e3"), s"GC kept the wrong epochs: $left")
  }

  test("crashed build is invisible to readers and GC'd on the writer's next entry") {
    val root = Files.createTempDirectory("epoch_crash").toString
    val a = emb.filter(col("vec_id") % 2 === 0)
    EpochLayout.trainIvf(a, root, k = 4, iters = 2)
    val before = ans(EpochLayout.currentOrFail(spark, root))
    // simulate a crash mid-build: a fully-written pair with NO marker
    // (the worst case — everything on disk except the one publish bit)
    AnnLayout.trainIvf(emb.filter(col("vec_id") % 2 === 1),
      s"$root/epochs/e2", k = 4, iters = 2)
    // readers never see it
    assert(EpochLayout.currentOrFail(spark, root).endsWith("/e1"))
    assert(ans(EpochLayout.currentOrFail(spark, root)) == before)
    // the writer's next publish deletes the carcass and takes e3
    // (numbering never reuses a dir a reader could have half-listed)
    val dir = EpochLayout.publish(spark, root) { d =>
      AnnLayout.trainIvf(a, d, k = 4, iters = 2)
      ()
    }
    assert(dir.endsWith("/e3"))
    val left = new java.io.File(s"$root/epochs").listFiles()
      .map(_.getName).toSet
    assert(left == Set("e1", "e3"), s"carcass not GC'd: $left")
  }

  test("generic publish carries any layout flavor: IVF-PQ epoch == flat build") {
    // publish() is layout-agnostic — the trained-PQ pair (corpus of
    // codes + reps + pq codebook) publishes under the same marker
    // protocol the float path uses, no per-flavor wiring
    val root = Files.createTempDirectory("epoch_pq").toString
    val flat = Files.createTempDirectory("epoch_pq_flat").toString
    val dir = EpochLayout.publish(spark, root) { d =>
      AnnLayout.trainIvfPq(emb, d, kCoarse = 4, itersCoarse = 2,
        pqM = 2, pqK = 4, pqIters = 2)
      ()
    }
    AnnLayout.trainIvfPq(emb, flat, kCoarse = 4, itersCoarse = 2,
      pqM = 2, pqK = 4, pqIters = 2)
    def ansPq(p: String) = AnnLayout
      .knnIvfPq(spark, p, emb.filter(col("vec_id") < 10), k = 5,
        nprobe = 4)
      .orderBy("query_id", "rank").collect().toSeq
    val viaEpoch = ansPq(EpochLayout.currentOrFail(spark, root))
    assert(viaEpoch == ansPq(flat) && viaEpoch.nonEmpty)
    assert(dir.endsWith("/epochs/e1"))
  }

  test("publish refuses an empty build; store stays on the old epoch") {
    val root = Files.createTempDirectory("epoch_empty").toString
    EpochLayout.trainIvf(emb.filter(col("vec_id") % 2 === 0), root,
      k = 4, iters = 2)
    intercept[RuntimeException] {
      EpochLayout.publish(spark, root) { _ => () }
    }
    assert(EpochLayout.currentOrFail(spark, root).endsWith("/e1"))
  }
}
