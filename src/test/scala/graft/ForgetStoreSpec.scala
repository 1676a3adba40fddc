package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{AnnLayout, EpochLayout, ForgetStore, Tables}
import graft.ops.Retrieval

/** Pins for the composed-snapshot forget store
  * ([[graft.io.ForgetStore]]): reader parity with the flat layouts,
  * O(touched) blob reuse (file identity for untouched entries),
  * all-or-nothing cross-artifact visibility under a mid-forget crash,
  * snapshot retention, and blob GC.
  */
class ForgetStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)
  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def freshStore(): String = {
    val root = Files.createTempDirectory("forget_store").toString
    ForgetStore.init(spark, root, docs, emb)
    root
  }

  private def corpusRows(df: org.apache.spark.sql.DataFrame) =
    df.select(docCols.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq

  test("init: snapshot readers match the flat builds exactly") {
    val root = freshStore()
    // corpus round-trips
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs))
    // bm25: query parity with an in-memory index on the same corpus
    val (snapIdx, snapLen) = ForgetStore.bm25Index(spark, root)
    val memIdx = Retrieval.buildIndex(docs)
    assert(snapIdx.nDocs == memIdx.nDocs &&
      snapIdx.avgdl == memIdx.avgdl &&
      snapLen == Retrieval.totalLen(memIdx))
    val q = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    def ranked(idx: Retrieval.Bm25Index) =
      Retrieval.bm25Query(idx, q, k = 5, excludeSelf = true)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ranked(snapIdx) == ranked(memIdx) && ranked(snapIdx).nonEmpty)
    // ann: knn parity with a flat trained layout on the same corpus
    // (the trainer is deterministic, so two builds agree exactly)
    val flat = Files.createTempDirectory("forget_flat").toString
    AnnLayout.trainIvf(emb, flat, k = 4, iters = 2)
    val queries = emb.filter(col("vec_id") < 10)
    def knn(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(knn(ForgetStore.knn(spark, root, queries, k = 5, nprobe = 3))
      == knn(AnnLayout.knnIvf(spark, flat, queries, k = 5, nprobe = 3)))
    // pos: phrase-query parity with an in-memory positional index
    val snapPos = ForgetStore.positionalIndex(spark, root)
    val memPos = Retrieval.buildPositionalIndex(docs)
    assert(snapPos.nDocs == memPos.nDocs &&
      snapPos.avgdl == memPos.avgdl)
    assert(phraseRanked(snapPos) == phraseRanked(memPos) &&
      phraseRanked(snapPos).nonEmpty)
  }

  private def phraseRanked(pidx: Retrieval.PositionalIndex) = {
    val phrases = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.ops.TextOps.tokens(col("text")), 1, 3),
          " ").as("text"))
    Retrieval.phraseQuery(pidx, phrases, k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
  }

  test("forget: exact contents, zero residual, untouched entries carry their files forward") {
    val root = freshStore()
    val m1 = ForgetStore.currentManifest(spark, root)._2
    val ids = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    val audits = ForgetStore.forget(spark, root, ids.toIndexedSeq)
    val (e2, m2) = ForgetStore.currentManifest(spark, root)
    assert(e2 == 2L)
    // contents: corpus == naive filter; every residual zero
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs.filter(col("doc_id") % 37 =!= 0)))
    assert(audits.forall(_.residual == 0L), s"$audits")
    assert(audits.find(_.artifact == "corpus").get.removed == ids.length)
    // bm25 snapshot == a fresh index on the surviving corpus
    val (snapIdx, snapLen) = ForgetStore.bm25Index(spark, root)
    val memIdx = Retrieval.buildIndex(docs.filter(col("doc_id") % 37 =!= 0))
    assert(snapIdx.nDocs == memIdx.nDocs && snapIdx.avgdl == memIdx.avgdl
      && snapLen == Retrieval.totalLen(memIdx))
    assert(snapIdx.df.orderBy("term").collect().map(_.toSeq).toSeq ==
      memIdx.df.orderBy("term").collect().map(_.toSeq).toSeq)
    // pos snapshot == a fresh positional index on the surviving
    // corpus: phrase results equal, and a forgotten id NEVER
    // surfaces through phraseQuery (its audit row reports zero
    // residual above — this is the serving-path statement)
    val snapPos = ForgetStore.positionalIndex(spark, root)
    val memPos = Retrieval.buildPositionalIndex(
      docs.filter(col("doc_id") % 37 =!= 0))
    assert(snapPos.nDocs == memPos.nDocs &&
      snapPos.avgdl == memPos.avgdl)
    assert(phraseRanked(snapPos) == phraseRanked(memPos))
    assert(audits.find(_.artifact == "pos").get.residual == 0L)
    assert(snapPos.postings.filter(col("doc_id") % 37 === 0).count()
      == 0L)
    // O(touched): entries untouched by the delete keep their EXACT
    // paths (same immutable files — no copy-forward)
    val untouched = m2.keySet.intersect(m1.keySet)
      .filter(k => m1(k) == m2(k))
    assert(untouched.contains("ann/reps"),
      "the frozen codebook must carry forward verbatim")
    assert(untouched.exists(_.startsWith("bm25/postings/")) ||
      ids.map(i => (i % 8 + 8) % 8).distinct.length == 8,
      "untouched postings buckets must carry forward")
    assert(untouched.exists(_.startsWith("pos/postings/")) ||
      ids.map(i => (i % 8 + 8) % 8).distinct.length == 8,
      "untouched POSITIONAL buckets must carry forward")
    // the retained previous epoch still serves the pre-forget corpus
    val e1dir = EpochLayout.epochs(spark, root)
      .find(_._1 == 1L).get._2.toString.stripPrefix("file:")
    assert(new java.io.File(e1dir, "_EPOCH_COMPLETE").exists())
  }

  test("mid-forget crash: readers see all-old; the retried forget publishes all-new — never a mix") {
    val root = freshStore()
    val ids = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      .toIndexedSeq
    val before = corpusRows(ForgetStore.readCorpus(spark, root))
    // kill the build between the pos and ann artifact stages — the
    // corpus, bm25 AND pos blobs are already staged, which is exactly
    // when a non-atomic design would leak a mixed view
    val boom = intercept[RuntimeException] {
      ForgetStore.forget(spark, root, ids,
        failpoint = a => if (a == "pos") sys.error("killed mid-forget"))
    }
    assert(boom.getMessage.contains("killed mid-forget"))
    // ALL-OLD: corpus, bm25, pos and ann all still serve the
    // pre-forget state (the forgotten ids remain retrievable in all
    // four — consistently), and no new epoch was published
    assert(ForgetStore.currentManifest(spark, root)._1 == 1L)
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) == before)
    val (idx1, _) = ForgetStore.bm25Index(spark, root)
    assert(idx1.nDocs == docs.count())
    assert(ForgetStore.positionalIndex(spark, root).postings
      .filter(col("doc_id") % 37 === 0).count() > 0)
    assert(ForgetStore.readAnnCorpus(spark, root)
      .filter(col("vec_id") % 37 === 0).count() > 0)
    // retry completes: ALL-NEW, residuals zero everywhere at once
    val audits = ForgetStore.forget(spark, root, ids)
    assert(ForgetStore.currentManifest(spark, root)._1 == 2L)
    assert(audits.map(_.artifact).sorted ==
      Seq("ann", "bm25", "corpus", "pos"))
    assert(audits.forall(_.residual == 0L), s"$audits")
    val (idx2, _) = ForgetStore.bm25Index(spark, root)
    assert(idx2.nDocs == docs.filter(col("doc_id") % 37 =!= 0).count())
    assert(ForgetStore.positionalIndex(spark, root).postings
      .filter(col("doc_id") % 37 === 0).count() == 0)
    assert(ForgetStore.readAnnCorpus(spark, root)
      .filter(col("vec_id") % 37 === 0).count() == 0)
  }

  test("bounded audit == full audit (two identical stores, same takedown)") {
    // the Bounded mode's claim is an EQUALITY: the O(touched) audit
    // (touched-entry residual scan + manifest row-count sums) reports
    // the exact rows the O(corpus) re-read reports, on a real store
    val rootFull = freshStore()
    val rootBounded = freshStore()
    val ids = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      .toIndexedSeq
    val full = ForgetStore.forget(spark, rootFull, ids,
      audit = ForgetStore.Full)
    val bounded = ForgetStore.forget(spark, rootBounded, ids,
      audit = ForgetStore.Bounded)
    assert(bounded == full, s"bounded=$bounded full=$full")
    assert(full.exists(a => a.artifact == "corpus" && a.removed > 0))
    // a SECOND forget exercises count maintenance across epochs
    // (old count minus displaced, entries carried forward) — still
    // equal, still zero residual
    val ids2 = docs.filter(col("doc_id") % 41 === 3)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      .toIndexedSeq
    val full2 = ForgetStore.forget(spark, rootFull, ids2,
      audit = ForgetStore.Full)
    val bounded2 = ForgetStore.forget(spark, rootBounded, ids2,
      audit = ForgetStore.Bounded)
    assert(bounded2 == full2, s"bounded=$bounded2 full=$full2")
    assert(full2.forall(_.residual == 0L))
    // no-op takedown: bounded audit without a new epoch, equal rows
    val fullN = ForgetStore.forget(spark, rootFull, Seq(999999999L),
      audit = ForgetStore.Full)
    val boundedN = ForgetStore.forget(spark, rootBounded,
      Seq(999999999L), audit = ForgetStore.Bounded)
    assert(boundedN == fullN, s"bounded=$boundedN full=$fullN")
    assert(fullN.forall(a => a.removed == 0L && a.residual == 0L))
  }

  test("ingest: index tiers equal a fresh union build; frozen-quantizer ann; crash all-old; collision refuses; counts stay Bounded-exact") {
    val root = Files.createTempDirectory("forget_store").toString
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val oldEmb = emb.filter(col("vec_id") % 3 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val newEmb = emb.filter(col("vec_id") % 3 === 0)
    ForgetStore.init(spark, root, oldDocs, oldEmb)
    val m1 = ForgetStore.currentManifest(spark, root)._2
    // crash between the pos and ann stages: ALL-OLD, no new epoch
    val boom = intercept[RuntimeException] {
      ForgetStore.ingest(spark, root, newDocs, newEmb,
        failpoint = a => if (a == "pos") sys.error("killed mid-ingest"))
    }
    assert(boom.getMessage.contains("killed mid-ingest"))
    assert(ForgetStore.currentManifest(spark, root)._1 == 1L)
    assert(ForgetStore.readCorpus(spark, root).count() == oldDocs.count())
    assert(ForgetStore.bm25Index(spark, root)._1.nDocs == oldDocs.count())
    // retry completes: every tier equals a FRESH build on the union
    val stats = ForgetStore.ingest(spark, root, newDocs, newEmb)
    assert(ForgetStore.currentManifest(spark, root)._1 == 2L)
    assert(stats.map(_.artifact).sorted ==
      Seq("ann", "bm25", "corpus", "pos"))
    assert(stats.find(_.artifact == "corpus").get.added ==
      newDocs.count())
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs))
    val (snapIdx, snapLen) = ForgetStore.bm25Index(spark, root)
    val memIdx = Retrieval.buildIndex(docs)
    assert(snapIdx.nDocs == memIdx.nDocs &&
      snapIdx.avgdl == memIdx.avgdl &&
      snapLen == Retrieval.totalLen(memIdx))
    assert(snapIdx.df.orderBy("term").collect().map(_.toSeq).toSeq ==
      memIdx.df.orderBy("term").collect().map(_.toSeq).toSeq)
    val q = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    def ranked(idx: Retrieval.Bm25Index) =
      Retrieval.bm25Query(idx, q, k = 5, excludeSelf = true)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ranked(snapIdx) == ranked(memIdx))
    assert(phraseRanked(ForgetStore.positionalIndex(spark, root)) ==
      phraseRanked(Retrieval.buildPositionalIndex(docs)))
    // ann: members = old ∪ new; the frozen quantizer carried forward
    // verbatim (file identity), and every new member's label is the
    // frozen-reps nearest assignment — NOT a retrain
    val m2 = ForgetStore.currentManifest(spark, root)._2
    assert(m1("ann/reps") == m2("ann/reps"),
      "ingest must not retrain the codebook")
    val annCorpus = ForgetStore.readAnnCorpus(spark, root)
    assert(annCorpus.count() == emb.count())
    val reps = spark.read.parquet(m2("ann/reps"))
    val want = graft.ops.Similarity.assignNearest(newEmb, reps,
        "vec_id", "embedding", clusterCol = "label",
        centVecCol = "rep_vec")
      .select(col("vec_id"), col("cluster").cast("long").as("label"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val got = annCorpus.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), col("label").cast("long"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(got == want)
    // an id already live REFUSES before any write (upsert = forget +
    // ingest), and no epoch was burned
    val err = intercept[IllegalArgumentException] {
      ForgetStore.ingest(spark, root,
        docs.filter(col("doc_id") === 1),
        emb.filter(col("vec_id") === 1))
    }
    assert(err.getMessage.contains("already live"))
    assert(ForgetStore.currentManifest(spark, root)._1 == 2L)
    // counts maintained by ingest keep the Bounded forget audit
    // exact: remaining comes purely from manifest sums
    val ids = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      .toIndexedSeq
    val bounded = ForgetStore.forget(spark, root, ids,
      audit = ForgetStore.Bounded)
    assert(bounded.forall(_.residual == 0L), s"$bounded")
    assert(bounded.find(_.artifact == "corpus").get.remaining ==
      docs.count() - ids.length)
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs.filter(col("doc_id") % 37 =!= 0)))
  }

  test("logged ingest: O(batch) fragments serve exactly; bases keep file identity; compaction folds; forget folds fragments; crash all-old") {
    val root = Files.createTempDirectory("forget_store").toString
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val oldEmb = emb.filter(col("vec_id") % 3 =!= 0)
    val batchA = docs.filter(col("doc_id") % 6 === 0)
    val embA = emb.filter(col("vec_id") % 6 === 0)
    val batchB = docs.filter(col("doc_id") % 6 === 3)
    val embB = emb.filter(col("vec_id") % 6 === 3)
    ForgetStore.init(spark, root, oldDocs, oldEmb)
    val m1 = ForgetStore.currentManifest(spark, root)._2
    // crash mid-logged-ingest: ALL-OLD, no new epoch, no fragments
    val boom = intercept[RuntimeException] {
      ForgetStore.ingest(spark, root, batchA, embA, logged = true,
        failpoint = a => if (a == "bm25") sys.error("killed mid-log"))
    }
    assert(boom.getMessage.contains("killed mid-log"))
    assert(ForgetStore.currentManifest(spark, root)._1 == 1L)
    assert(ForgetStore.ingestFanIn(spark, root) == 1)
    // two logged ingests land as fragments — the touched groups' BASE
    // blobs keep their exact files (the O(batch) claim in file form)
    ForgetStore.ingest(spark, root, batchA, embA, logged = true)
    ForgetStore.ingest(spark, root, batchB, embB, logged = true)
    val m2 = ForgetStore.currentManifest(spark, root)._2
    assert(ForgetStore.ingestFanIn(spark, root) > 1)
    assert(m2.keys.exists(_.contains("~f")), "fragment entries expected")
    val baseKeys = m1.keySet.filter(k => k.startsWith("bm25/postings/")
      || k.startsWith("pos/postings/") || k.startsWith("corpus/"))
    assert(baseKeys.nonEmpty && baseKeys.forall(k => m2(k) == m1(k)),
      "logged ingest must not rewrite base blobs")
    // serving parity with a FRESH build on the full corpus,
    // fan-in > 1 (readers union the fragments in)
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs))
    val (logIdx, logLen) = ForgetStore.bm25Index(spark, root)
    val memIdx = Retrieval.buildIndex(docs)
    assert(logIdx.nDocs == memIdx.nDocs && logIdx.avgdl == memIdx.avgdl
      && logLen == Retrieval.totalLen(memIdx))
    assert(logIdx.df.orderBy("term").collect().map(_.toSeq).toSeq ==
      memIdx.df.orderBy("term").collect().map(_.toSeq).toSeq)
    val q = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    def ranked(idx: Retrieval.Bm25Index) =
      Retrieval.bm25Query(idx, q, k = 5, excludeSelf = true)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ranked(logIdx) == ranked(memIdx) && ranked(logIdx).nonEmpty)
    assert(phraseRanked(ForgetStore.positionalIndex(spark, root)) ==
      phraseRanked(Retrieval.buildPositionalIndex(docs)))
    // collision probe sees ids living only in a FRAGMENT
    val err = intercept[IllegalArgumentException] {
      ForgetStore.ingest(spark, root, docs.filter(col("doc_id") === 6),
        emb.filter(col("vec_id") === 6), logged = true)
    }
    assert(err.getMessage.contains("already live"))
    // compaction folds every group to one blob: fan-in 1, no
    // fragments, df/meta carried forward VERBATIM, serving unchanged
    val folded = ForgetStore.compactIngest(spark, root)
    assert(folded.nonEmpty && folded.values.forall(_ > 0))
    val m3 = ForgetStore.currentManifest(spark, root)._2
    assert(ForgetStore.ingestFanIn(spark, root) == 1)
    assert(!m3.keys.exists(_.contains("~")))
    assert(m3("bm25/df") == m2("bm25/df") &&
      m3("bm25/meta") == m2("bm25/meta"),
      "a pure fold moves no statistic")
    val (cIdx, cLen) = ForgetStore.bm25Index(spark, root)
    assert(ranked(cIdx) == ranked(memIdx) && cLen == logLen)
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs))
    // a clean store compacts as a NO-OP: no epoch burned
    val e3 = ForgetStore.currentManifest(spark, root)._1
    assert(ForgetStore.compactIngest(spark, root).isEmpty)
    assert(ForgetStore.currentManifest(spark, root)._1 == e3)
  }

  test("forget on a fragmented store folds the touched groups and stays Bounded-exact") {
    val root = Files.createTempDirectory("forget_store").toString
    ForgetStore.init(spark, root, docs.filter(col("doc_id") % 3 =!= 0),
      emb.filter(col("vec_id") % 3 =!= 0))
    ForgetStore.ingest(spark, root, docs.filter(col("doc_id") % 3 === 0),
      emb.filter(col("vec_id") % 3 === 0), logged = true)
    assert(ForgetStore.ingestFanIn(spark, root) > 1)
    // ids straddle base (44, 85, …) and fragment (3, 126, …) blobs
    val ids = docs.filter(col("doc_id") % 41 === 3)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      .toIndexedSeq
    assert(ids.exists(_ % 3 == 0) && ids.exists(_ % 3 != 0),
      "the takedown must straddle base and fragment blobs")
    val bounded = ForgetStore.forget(spark, root, ids,
      audit = ForgetStore.Bounded)
    assert(bounded.forall(_.residual == 0L), s"$bounded")
    assert(bounded.find(_.artifact == "corpus").get.remaining ==
      docs.count() - ids.length)
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs.filter(col("doc_id") % 41 =!= 3)))
    // the forget folded every touched group (ids mod 8 buckets): no
    // fragment may survive on a touched group, and the phrase tier
    // no longer surfaces the forgotten ids
    val m2 = ForgetStore.currentManifest(spark, root)._2
    val touchedBkts = ids.map(i => (i % 8 + 8) % 8).distinct
    assert(!m2.keys.exists(k => k.contains("~") &&
      touchedBkts.exists(b => baseOf(k).endsWith(s"/$b"))),
      "touched groups must fold")
    assert(ForgetStore.positionalIndex(spark, root).postings
      .filter(col("doc_id") % 41 === 3).count() == 0L)
    // bm25 == fresh build on the survivors (df and scalars exact)
    val (idx2, len2) = ForgetStore.bm25Index(spark, root)
    val mem2 = Retrieval.buildIndex(docs.filter(col("doc_id") % 41 =!= 3))
    assert(idx2.nDocs == mem2.nDocs && idx2.avgdl == mem2.avgdl &&
      len2 == Retrieval.totalLen(mem2))
    assert(idx2.df.orderBy("term").collect().map(_.toSeq).toSeq ==
      mem2.df.orderBy("term").collect().map(_.toSeq).toSeq)
  }

  private def baseOf(k: String): String = {
    val i = k.indexOf('~'); if (i < 0) k else k.substring(0, i)
  }

  test("rebucket: index tiers rewrite at the stored modulus; later mutators follow it regardless of their param") {
    val root = Files.createTempDirectory("forget_store").toString
    ForgetStore.init(spark, root, docs.filter(col("doc_id") % 3 =!= 0),
      emb.filter(col("vec_id") % 3 =!= 0))
    // a logged fragment sits on the store so the rebucket must fold it
    ForgetStore.ingest(spark, root, docs.filter(col("doc_id") % 3 === 0),
      emb.filter(col("vec_id") % 3 === 0), logged = true)
    assert(ForgetStore.ingestFanIn(spark, root) > 1)
    ForgetStore.rebucket(spark, root, 16)
    val m = ForgetStore.currentManifest(spark, root)._2
    // index-tier fragments fold into the rewrite; corpus/ann
    // fragments are not rebucket's business (compactIngest's job)
    assert(!m.keys.exists(k => k.contains("~") &&
      (k.startsWith("bm25/") || k.startsWith("pos/"))),
      "rebucket folds index-tier fragments")
    val postBkts = m.keys.filter(_.startsWith("bm25/postings/"))
      .map(_.split("/").last.toInt).toSet
    assert(postBkts.max > 7 && postBkts.subsetOf((0 until 16).toSet),
      s"16-bucket keys expected, got $postBkts")
    // serving parity with a fresh full build across the rewrite
    val (idx, len) = ForgetStore.bm25Index(spark, root)
    val mem = Retrieval.buildIndex(docs)
    assert(idx.nDocs == mem.nDocs && idx.avgdl == mem.avgdl &&
      len == Retrieval.totalLen(mem))
    assert(phraseRanked(ForgetStore.positionalIndex(spark, root)) ==
      phraseRanked(Retrieval.buildPositionalIndex(docs)))
    // THE stored-modulus pin: forget with the DEFAULT buckets param
    // (8) must still compute touched sets mod 16 — ids ≡ 0 (mod 37)
    // land in 16-buckets {0,15,14,13,12}, which the wrong modulus
    // would miss entirely for buckets 12-15
    val ids = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      .toIndexedSeq
    assert(ids.map(i => (i % 16).toInt).toSet.exists(_ > 7),
      "the takedown must touch a bucket the stale modulus cannot name")
    val audits = ForgetStore.forget(spark, root, ids,
      audit = ForgetStore.Bounded)
    assert(audits.forall(_.residual == 0L), s"$audits")
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs.filter(col("doc_id") % 37 =!= 0)))
    assert(ForgetStore.positionalIndex(spark, root).postings
      .filter(col("doc_id") % 37 === 0).count() == 0L)
    // untouched 16-buckets keep their exact files through the forget
    val m2 = ForgetStore.currentManifest(spark, root)._2
    val touched16 = ids.map(i => (i % 16).toInt).toSet
    val untouched = m.keySet.filter(k =>
      k.startsWith("bm25/postings/") &&
        !touched16.contains(k.split("/").last.toInt))
    assert(untouched.nonEmpty && untouched.forall(k => m2(k) == m(k)))
    // a logged ingest after the rebucket lands its fragments at the
    // new modulus and still serves exactly
    ForgetStore.ingest(spark, root,
      docs.filter(col("doc_id") % 37 === 0),
      emb.filter(col("vec_id") % 37 === 0), logged = true)
    val (idx3, _) = ForgetStore.bm25Index(spark, root)
    val q = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    def ranked(i: Retrieval.Bm25Index) =
      Retrieval.bm25Query(i, q, k = 5, excludeSelf = true)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ranked(idx3) == ranked(mem))
    val fragBkts = ForgetStore.currentManifest(spark, root)._2.keys
      .filter(k => k.contains("~") && k.startsWith("bm25/postings/"))
      .map(k => baseOf(k).split("/").last.toInt).toSet
    assert(fragBkts.exists(_ > 7),
      s"post-rebucket fragments must key at the new modulus: $fragBkts")
  }

  test("retention + blob GC: expired epochs' private generations are swept, shared ones survive") {
    val root = freshStore()
    def blobGens(): Set[String] = {
      val b = new java.io.File(s"$root/blobs")
      b.listFiles().flatMap(a => a.listFiles().map(g =>
        s"${a.getName}/${g.getName}")).toSet
    }
    val ids1 = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    val ids2 = docs.filter(col("doc_id") % 41 === 3)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    ForgetStore.forget(spark, root, ids1.toIndexedSeq) // e2, retain keeps e1
    assert(blobGens().exists(_.endsWith("/g2")))
    // TIME TRAVEL: the retained epoch 1 still serves the FULL
    // pre-forget index, while current serves the survivors
    def dlIds(asOf: Long): Set[Long] =
      ForgetStore.bm25IndexAt(spark, root, asOf)._1.dl
        .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    val allIds = docs.select(col("doc_id").cast("long")).collect()
      .map(_.getLong(0)).toSet
    assert(ForgetStore.bm25IndexAt(spark, root, 1L)._1.nDocs ==
      docs.count())
    assert(dlIds(1L) == allIds)
    assert(ForgetStore.bm25IndexAt(spark, root, 1L)._1.postings
      .filter(col("doc_id") % 37 === 0).count() > 0,
      "the old epoch must still surface the later-forgotten ids")
    // current knn cannot surface a forgotten member: its own embedding
    // (under a fresh query id — the reader excludes id-equal self
    // matches) finds no forgotten neighbor
    val fq = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 100)
      .withColumn("vec_id", -col("vec_id") - 1)
    assert(ForgetStore.knn(spark, root, fq, k = 3, nprobe = 2)
      .filter(col("neighbor_id") % 37 === 0).count() == 0)
    ForgetStore.forget(spark, root, ids2.toIndexedSeq) // e3: e1 expires
    // the expired epoch refuses with the retained list; the retained
    // e2 still serves the between-forgets state
    val gone = intercept[RuntimeException] {
      ForgetStore.bm25IndexAt(spark, root, 1L)
    }
    assert(gone.getMessage.contains("retained complete epochs: 2, 3"))
    assert(dlIds(2L) == allIds.filter(_ % 37 != 0))
    val epochs = EpochLayout.epochs(spark, root).map(_._1)
    assert(epochs == Seq(2L, 3L), s"epochs: $epochs")
    // g1 corpus/bm25/ann dirs still referenced by e2/e3's untouched
    // entries survive; nothing references a gen that no manifest lists
    val m2 = ForgetStore.currentManifest(spark, root)._2
    val referenced = m2.values
      .map(_.stripPrefix(s"$root/").split("/").take(3).mkString("/"))
      .toSet
    assert(referenced.subsetOf(blobGens().map("blobs/" + _) ++ referenced))
    // the final state is the composition of both forgets
    assert(corpusRows(ForgetStore.readCorpus(spark, root)) ==
      corpusRows(docs.filter(
        col("doc_id") % 37 =!= 0 && col("doc_id") % 41 =!= 3)))
    // absent-id forget is a no-op: no new epoch, zero audit
    val audits = ForgetStore.forget(spark, root, Seq(999999999L))
    assert(ForgetStore.currentManifest(spark, root)._1 == 3L)
    assert(audits.forall(a => a.removed == 0L && a.residual == 0L))
    // GC sweeps what no retained epoch references: a forget touching
    // every corpus partition, retaining no prior epoch, sweeps the
    // corpus generation the time-travel reads above used
    val onePerLang = docs.groupBy("lang").agg(min(col("doc_id")).cast("long"))
      .collect().map(_.getLong(1)).toIndexedSeq
    val gensBefore = blobGens()
    ForgetStore.forget(spark, root, onePerLang, retain = 0)
    val swept = gensBefore -- blobGens()
    assert(swept.contains("corpus/g1"), s"swept $swept")
  }

  test("manifest corpus scalars: agree with the meta blob; legacy store falls back and re-acquires them on forget") {
    val root = freshStore()
    // new stores carry conf/n_docs + conf/total_len in the manifest —
    // the reader fast path (no meta job); they must equal the meta
    // blob, the at-rest truth
    val m1 = ForgetStore.currentManifest(spark, root)._2
    val meta1 = spark.read.parquet(m1("bm25/meta")).head()
    def scalar(m: Map[String, String], k: String): Long =
      m(k).split("/").last.toLong
    assert(scalar(m1, "conf/n_docs") == meta1.getAs[Long]("n_docs"))
    assert(scalar(m1, "conf/total_len") == meta1.getAs[Long]("total_len"))
    // simulate a legacy store: strip the scalar lines from the
    // manifest file — readers must fall back to the meta blob and
    // serve identically
    val epochDir = EpochLayout.currentOrFail(spark, root)
      .stripPrefix("file:")
    val mf = java.nio.file.Paths.get(epochDir, "manifest.tsv")
    val stripped = new String(java.nio.file.Files.readAllBytes(mf),
        "UTF-8").linesIterator
      .filterNot(l => l.startsWith("conf/n_docs\t") ||
        l.startsWith("conf/total_len\t"))
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(mf, stripped.getBytes("UTF-8"))
    // drop the Hadoop local-FS checksum shadow — the manifest was
    // rewritten behind the filesystem's back to fake a legacy store
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(epochDir, ".manifest.tsv.crc"))
    val (legacyIdx, legacyLen) = ForgetStore.bm25Index(spark, root)
    assert(legacyIdx.nDocs == meta1.getAs[Long]("n_docs"))
    assert(legacyLen == meta1.getAs[Long]("total_len"))
    // a forget on the legacy store works and re-acquires the scalars
    val ids = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    ForgetStore.forget(spark, root, ids.toIndexedSeq)
    val m2 = ForgetStore.currentManifest(spark, root)._2
    val meta2 = spark.read.parquet(m2("bm25/meta")).head()
    assert(scalar(m2, "conf/n_docs") == meta2.getAs[Long]("n_docs"))
    assert(scalar(m2, "conf/total_len") == meta2.getAs[Long]("total_len"))
    assert(meta2.getAs[Long]("n_docs") ==
      docs.filter(col("doc_id") % 37 =!= 0).count())
  }

  test("parallel staging (default failpoint) equals the sequential path: same stats, same readers, same manifest") {
    // The production path stages artifacts CONCURRENTLY (runStages
    // with the default no-op failpoint); every failpoint-driven crash
    // spec above forces the sequential order, so the concurrent path
    // needs its own equivalence pin (round-17 advice): run the same
    // forget + ingest on two identical stores — one default
    // (parallel), one with a caller no-op hook (reference inequality
    // selects sequential) — and require identical mutation stats,
    // reader contents, and manifest shape.
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val oldEmb = emb.filter(col("vec_id") % 3 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val newEmb = emb.filter(col("vec_id") % 3 === 0)
    val ids = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 1)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      .toIndexedSeq
    val seqHook: Option[String => Unit] = Some(_ => ())
    val Seq((rootPar, audPar, ingPar), (rootSeq, audSeq, ingSeq)) =
      Seq(None, seqHook).map { fp =>
        val root = Files.createTempDirectory("forget_par").toString
        ForgetStore.init(spark, root, oldDocs, oldEmb)
        val aud = fp.fold(ForgetStore.forget(spark, root, ids))(f =>
          ForgetStore.forget(spark, root, ids, failpoint = f))
        val ing = fp.fold(
          ForgetStore.ingest(spark, root, newDocs, newEmb))(f =>
          ForgetStore.ingest(spark, root, newDocs, newEmb, failpoint = f))
        (root, aud, ing)
      }
    assert(audPar.sortBy(_.artifact) == audSeq.sortBy(_.artifact))
    assert(ingPar.sortBy(_.artifact) == ingSeq.sortBy(_.artifact))
    // manifests agree in shape and (root-relative) entry paths
    def rel(root: String) = ForgetStore.currentManifest(spark, root)
      ._2.map { case (k, v) => k -> v.stripPrefix(s"$root/") }
    assert(rel(rootPar) == rel(rootSeq))
    // every reader serves identical contents
    assert(corpusRows(ForgetStore.readCorpus(spark, rootPar)) ==
      corpusRows(ForgetStore.readCorpus(spark, rootSeq)))
    val (idxPar, lenPar) = ForgetStore.bm25Index(spark, rootPar)
    val (idxSeq, lenSeq) = ForgetStore.bm25Index(spark, rootSeq)
    assert(idxPar.nDocs == idxSeq.nDocs && idxPar.avgdl == idxSeq.avgdl
      && lenPar == lenSeq)
    val q = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    def ranked(idx: Retrieval.Bm25Index) =
      Retrieval.bm25Query(idx, q, k = 5, excludeSelf = true)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ranked(idxPar) == ranked(idxSeq) && ranked(idxPar).nonEmpty)
    assert(phraseRanked(ForgetStore.positionalIndex(spark, rootPar)) ==
      phraseRanked(ForgetStore.positionalIndex(spark, rootSeq)))
    val queries = emb.filter(col("vec_id") < 10)
    def knn(root: String) =
      ForgetStore.knn(spark, root, queries, k = 5, nprobe = 3)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(knn(rootPar) == knn(rootSeq) && knn(rootPar).nonEmpty)
  }
}
