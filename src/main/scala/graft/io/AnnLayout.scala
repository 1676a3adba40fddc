package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Similarity

/** At-rest IVF layout — the missing half of
  * [[graft.ops.Similarity.knnIvf]]'s scale story. knnIvf's scaladoc
  * says "the corpus is partitioned by cluster id, so a query touches
  * nprobe partitions instead of the full corpus"; reading the corpus
  * from one flat table, that partitioning is a SHUFFLE paid per query
  * batch, and every file is still scanned. Writing the corpus
  * Hive-partitioned by cluster id ONCE turns the probe list into a
  * partition filter: a query batch reads only the probed clusters'
  * directories (`PartitionFilters` in the scan — LayoutSpec pins it),
  * which at a 100 TB embedding store is the IVF 1/(clusters/nprobe)
  * scan fraction realized in bytes actually read, not just rows
  * filtered.
  *
  * The layout is two artifacts (three for IVF-PQ), all written from
  * the same corpus pass:
  *  - `path/corpus`: the vectors, `cluster=<id>/` partitioned
  *    (small-files-guarded via [[Bucketing.writePartitioned]]);
  *  - `path/reps`: one representative vector per cluster — the
  *    coarse quantizer a reader probes WITHOUT touching the corpus.
  *    Kept beside the data exactly like a real IVF index's codebook;
  *  - `path/pq` ([[trainIvfPq]] only): the product-quantizer
  *    sub-codebooks.
  *
  * A layout is WRITTEN ONCE. Every builder refuses a target that
  * already holds any of these artifacts, before writing anything
  * ([[requireFresh]]), and writes them straight into place — there is
  * no in-place append, compaction or retrain, so there is no swap to
  * make crash-safe here. Publication belongs to the caller, which
  * builds into a directory no reader resolves yet: a
  * [[FrozenStore.frozenPath]] stage, an unmarked
  * [[EpochLayout.publish]] epoch, a [[ForgetStore]] blob generation,
  * or a fresh temp dir. A caller that retries a crashed build clears
  * its own leftover first. A new corpus or codebook is a new build;
  * the one mutation is [[deleteTrained]], a takedown through
  * [[CowTable.merge]]'s partition swap.
  */
object AnnLayout {

  /** Layout artifacts a builder writes; see [[requireFresh]]. */
  private val Artifacts = Seq("corpus", "reps", "pq")

  /** Refuse to build over an existing layout: throws, before any
    * write, when `path` already holds a layout artifact. Rebuilding
    * in place would overwrite the corpus a reader may be scanning;
    * the caller's publish protocol owns replacement.
    */
  private def requireFresh(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val held = Artifacts.filter(a => fs.exists(new Path(path, a)))
    require(held.isEmpty, s"ANN layouts are write-once: $path already " +
      s"holds ${held.mkString(", ")}; build into a fresh directory")
  }

  /** Write the IVF layout: partitioned corpus + representative table.
    * One corpus scan for the data (the partition write), one
    * aggregation for the reps.
    */
  def writeIvf(corpus: DataFrame, path: String,
      clusterCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxRecordsPerFile: Long = 5000000L): Unit = {
    requireFresh(corpus.sparkSession, path)
    Bucketing.writePartitioned(corpus, s"$path/corpus",
      Seq(clusterCol), Seq(idCol), maxRecordsPerFile)
    repsOf(corpus, clusterCol, idCol, vecCol)
      .coalesce(1).write.parquet(s"$path/reps")
  }

  /** `(cluster, rep_id, rep_vec)` — min-id member per cluster, the
    * engine-exact medoid stand-in knnIvf uses; the same columns as a
    * trained layout's centroid reps.
    */
  private def repsOf(corpus: DataFrame, clusterCol: String,
      idCol: String, vecCol: String): DataFrame = {
    val minIds = corpus.groupBy(col(clusterCol))
      .agg(min(col(idCol)).as("rep_id"))
    corpus.select(col(idCol).as("rep_id"), col(vecCol).as("rep_vec"))
      .join(minIds, Seq("rep_id"))
      .select(col(clusterCol), col("rep_id"), col("rep_vec"))
  }

  /** Bounded POINT FETCH from an at-rest parquet table: the rows
    * whose `idCol` is in `ids`, delivered to parquet as a chain of
    * OR'd equality predicates instead of a join or an `isin`.
    *
    * Why not the obvious two:
    *  - a JOIN on the id column scans the FULL table — the shortlist
    *    ids are join keys, not scan filters, so a 100 TB corpus pays
    *    a 100 TB scan to fetch 500 rows (the [[graft.ops.Pq.knnRerank]]
    *    float-fetch shape);
    *  - `isin(ids)` folds to a Catalyst `In`, and parquet pushdown
    *    only expands `In` to per-value equality below
    *    `spark.sql.parquet.pushdown.inFilterThreshold` (default 10);
    *    above it the pushed filter degrades to the [min, max] RANGE
    *    of the whole id set — which on a scattered shortlist spans
    *    every row group and prunes nothing (Probe id_fetch measures
    *    exactly this degradation).
    * The explicit `Or(EqualTo…)` chain survives to the scan as
    * individual equality predicates at any list size, so parquet
    * row-group AND page-level pruning work: an id-sorted layout
    * gives each row group/page a tight id min/max, and a point id
    * touches ~one page. Measured (Probe id_fetch, 4M×32-float
    * corpus, 1 MiB row groups, warm local cache): 1 id 2.9× faster
    * than the join, 8 ids 2.4×, 16 ids 1.9×, 32 ids 1.2×; at 64 ids
    * the per-page seek overhead on a WARM LOCAL cache exceeds the
    * sequential decode it saves and the InSet full scan wins warm
    * timing — but the chain still reads the fewest bytes and wins
    * every COLD (fresh-plan, per-trigger serving) measurement, and
    * on object storage bytes are the cost model that matters. Keep
    * shortlists per-call in the tens; batch bigger fetches or join.
    *
    * `ids` is driver-resident by contract — same bounded-collect
    * class as [[knnIvf]]'s probed-cluster list (|queries|·shortlist
    * for a rerank fetch). The `maxIds` guard (default 16384) refuses
    * the corpus-sized misuse where a join IS the right plan; the
    * predicate chain is PAIRWISE-balanced below, so analysis and
    * codegen see a log-depth boolean tree, not a 16k-deep left spine.
    */
  /** The pushed point-read predicate behind [[fetchByIds]]: a
    * BALANCED tree of OR'd equalities (a left-leaning chain of 16k
    * ORs would blow the parser/codegen stack), each leaf pushable to
    * parquet row-group stats. Shared with [[ForgetStore]]'s
    * cross-artifact point fetches.
    */
  private[graft] def idPredicate(idCol: String, ids: Seq[Long],
      maxIds: Int = 16384): org.apache.spark.sql.Column = {
    require(ids.nonEmpty, "point fetch needs at least one id")
    require(ids.length <= maxIds,
      s"${ids.length} ids exceeds maxIds=$maxIds — at that size a " +
        "shuffle join beats per-row-group point reads; join instead")
    def balancedOr(ps: IndexedSeq[org.apache.spark.sql.Column])
        : org.apache.spark.sql.Column =
      if (ps.length == 1) ps.head
      else balancedOr(ps.grouped(2)
        .map(g => if (g.length == 2) g(0) || g(1) else g(0))
        .toIndexedSeq)
    balancedOr(ids.distinct.map(col(idCol) === lit(_)).toIndexedSeq)
  }

  def fetchByIds(spark: SparkSession, path: String, ids: Seq[Long],
      idCol: String = "vec_id", maxIds: Int = 16384): DataFrame =
    ParquetSchema.read(spark, path)
      .filter(idPredicate(idCol, ids, maxIds))

  /** IVF top-k against a [[writeIvf]] layout — result-identical to
    * [[graft.ops.Similarity.knnIvf]] on the same corpus (same probe
    * ranking, same exact-cosine rerank, same tie-breaks; pinned in
    * LayoutSpec and oracle-checked by q_ann_ivf_layout), but the
    * corpus scan reads ONLY the probed clusters' partitions.
    *
    * The probed-cluster set crosses the driver as an `isin` partition
    * filter — a BOUNDED collect (≤ |queries|·nprobe ids, and the
    * query side of a top-k batch is broadcast-class by design), the
    * same driver-side-rate-table shape as Sample's mixing tables.
    * Everything heavy stays distributed: the rerank join carries only
    * probed-partition rows.
    *
    * Why not dynamic partition pruning instead of the collect?
    * Measured (Probe ann_dpp, byte-level — plan strings are
    * unreliable here: the executed plan can show an
    * `IN dynamicpruning#N` filter that never pruned): under DEFAULT
    * config a broadcast semi-join on the probe list reads the FULL
    * corpus — `reuseBroadcastOnly` can't prune through the
    * window-derived probe subplan — while the static `isin` reads
    * ~6% of it. Flipping
    * `spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly=false`
    * session-wide does make DPP prune to within ~20% of the isin
    * path, but a library operator mutating global optimizer conf is
    * worse than one bounded tiny job. Collect stays, deliberately.
    */
  def knnIvf(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "label"): DataFrame =
    knnIvfOn(ParquetSchema.read(spark, s"$path/reps"), queries,
      k, nprobe, idCol, vecCol, clusterCol,
      pc => ParquetSchema.read(spark, s"$path/corpus")
        .filter(col(clusterCol).isin(pc: _*)))

  /** The probe + exact-rerank core of [[knnIvf]], decoupled from the
    * flat directory layout: `repsRaw` is the codebook table
    * (`clusterCol`, `rep_vec`) however it was resolved, and
    * `membersFor` returns the member rows (`clusterCol`, `idCol`,
    * `vecCol`) for the probed cluster set — the hook where a layout
    * turns the probe list into a partition filter. [[ForgetStore]]
    * probes its manifest-resolved epochs through this same core, so
    * ranking/tie-break semantics cannot drift between layouts.
    */
  private[graft] def knnIvfOn(repsRaw: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, idCol: String, vecCol: String,
      clusterCol: String,
      membersFor: IndexedSeq[Any] => DataFrame): DataFrame = {
    val reps = repsRaw
      .select(col(clusterCol).as("cluster"),
        Similarity.asDouble(col("rep_vec")).as("rv"))
      .withColumn("rn", Similarity.norm2(col("rv")))
    val q = queries.select(col(idCol).as("query_id"),
      Similarity.asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", Similarity.norm2(col("qv")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(Similarity.cosineFrom(Similarity.dot(col("qv"), col("rv")),
        col("qn") * col("rn")).desc, col("cluster"))
    val probed = q.crossJoin(broadcast(reps))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select("query_id", "qv", "qn", "cluster")
    val probedClusters = probed.select("cluster").distinct()
      .collect().map(_.get(0)).toIndexedSeq
    val members = membersFor(probedClusters)
      .select(col(clusterCol).as("cluster"), col(idCol).as("neighbor_id"),
        Similarity.asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", Similarity.norm2(col("cv")))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probed.join(members, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.cosineFrom(Similarity.dot(col("qv"), col("cv")),
        col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Quantized IVF layout — [[writeIvf]] with the floats REPLACED by
    * int8 codes ([[graft.ops.Similarity.q8CodesScaled]], stored as
    * array<tinyint> PLUS the per-vector double scale): the index at
    * rest is ~4× smaller, so the probed partitions cost ~4× fewer
    * bytes to scan — compression and partition pruning multiply.
    * Storing the scale is what makes this TRUE scalar quantization:
    * a reader reconstructs `scale·code/127 ≈ component`, so
    * DEQUANTIZED dot scoring — measured recall@10 = 0.96 vs dot
    * truth, where RAW code dots measure 0.06 (PERF.md ann_recall: an
    * l∞-normalized near-duplicate key, not an ANN score) — is
    * computable straight from the layout. The reps codebook stores
    * (codes, scale) too; [[knnIvfQ8]] probes and reranks with the
    * dequantized score end-to-end. The float layout ([[writeIvf]])
    * remains the exact-rerank option.
    */
  def writeIvfQ8(corpus: DataFrame, path: String,
      clusterCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxRecordsPerFile: Long = 5000000L): Unit = {
    requireFresh(corpus.sparkSession, path)
    val codes = Similarity.q8CodesScaled(corpus, idCol, vecCol,
        idCol, "codes", "scale")
      .withColumn("codes", col("codes").cast("array<tinyint>"))
      .join(corpus.select(col(idCol), col(clusterCol)), Seq(idCol))
    Bucketing.writePartitioned(codes, s"$path/corpus",
      Seq(clusterCol), Seq(idCol), maxRecordsPerFile)
    val minIds = codes.groupBy(col(clusterCol))
      .agg(min(col(idCol)).as("rep_id"))
    codes.select(col(idCol).as("rep_id"), col("codes").as("rep_codes"),
        col("scale").as("rep_scale"))
      .join(minIds, Seq("rep_id"))
      .select(col(clusterCol), col("rep_id"), col("rep_codes"),
        col("rep_scale"))
      .coalesce(1).write.parquet(s"$path/reps")
  }

  /** IVF top-k against a [[writeIvfQ8]] layout, ANN-faithful: quantize
    * the query batch keeping its scales, rank clusters by the
    * DEQUANTIZED dot against the reps — `(sq·srep·codedot)/127²`, the
    * [[graft.ops.Similarity.knnQuantizedDot]] score (ties → lowest
    * cluster) — and rerank probed members the same way (ties → lowest
    * id). The integer code dot stays the kernel; the two stored
    * scales turn it into a true dot estimate instead of the
    * l∞-normalized near-dup key raw code dots are. Same
    * partition-filter scan discipline as [[knnIvf]]; oracle-checked
    * by q_ann_ivf_q8.
    */
  def knnIvfQ8(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "label"): DataFrame = {
    val reps = ParquetSchema.read(spark, s"$path/reps")
      .select(col(clusterCol).as("cluster"), col("rep_codes"),
        col("rep_scale"))
    val q = Similarity.q8CodesScaled(queries, idCol, vecCol,
      "query_id", "qa", "sq")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy((col("sq") * col("rep_scale")
          * Similarity.intDot(col("qa"), col("rep_codes")).cast("double")
          / lit(16129.0)).desc,
        col("cluster"))
    val probed = q.crossJoin(broadcast(reps))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select("query_id", "qa", "sq", "cluster")
    val probedClusters = probed.select("cluster").distinct()
      .collect().map(_.get(0)).toIndexedSeq
    val members = ParquetSchema.read(spark, s"$path/corpus")
      .filter(col(clusterCol).isin(probedClusters: _*))
      .select(col(clusterCol).as("cluster"), col(idCol).as("neighbor_id"),
        col("codes"), col("scale"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    probed.join(members, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", col("sq") * col("scale")
        * Similarity.intDot(col("qa"), col("codes")).cast("double")
        / lit(16129.0))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** TRAINED-quantizer IVF — [[writeIvf]] with the coarse quantizer
    * LEARNED instead of inherited: run the shipped deterministic
    * Lloyd k-means ([[graft.ops.Similarity.kmeans]]: min-id seeds,
    * integer-quantized exact means, total-order argmax — same result
    * on any engine/partitioning), label the corpus with a final
    * [[graft.ops.Similarity.assignNearest]] pass, write it
    * Hive-partitioned by the learned label, and store the learned
    * CENTROIDS as the reps codebook (rep_id = the cluster id; no
    * member is "the" rep once the codebook is trained). [[knnIvf]]
    * then probes the trained codebook unchanged — same partition
    * filter, same rerank.
    *
    * Why train: with data-blind cluster labels the probe ranking is
    * uncorrelated with member geometry — measured recall@10 at
    * nprobe=8/256 was 0.018; k-means relabeling on the same corpus
    * recovered 1.0 at nprobe=4 (PERF.md ann_recall_trained). This is
    * the end-to-end wiring of that measurement.
    *
    * Cost: iters·(assign + means) shuffles over the corpus, then the
    * one partitioned write — a bounded index-build job, amortized
    * over every query against the layout. A new corpus or codebook
    * is a new build. Returns the trained centroid table (cluster,
    * cv).
    *
    * `seeds`: optional (cluster, cv) Lloyd initialization override —
    * pass [[graft.ops.Similarity.kmeansParInit]]'s output for
    * distance-aware k-means‖ seeding. Use it whenever corpus id order
    * correlates with content (per-source id blocks, crawl order) or
    * head rows may be duplicates: first-k-ids seeding from k identical
    * head vectors yields k identical centroids that Lloyd can NEVER
    * split (measured: top-cell share 0.40 vs 0.034 — PERF.md
    * round-12 kpp_seeding), and IVF probe cost follows top-cell share.
    */
  def trainIvf(corpus: DataFrame, path: String, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L,
      seeds: DataFrame = null): DataFrame = {
    requireFresh(corpus.sparkSession, path)
    val base = corpus.drop(clusterCol) // learned labels replace any prior ones
    val cents = Similarity.kmeans(base, k, iters, idCol, vecCol,
      seeds = seeds)
    val labeled = base.join(
      Similarity.assignNearest(base, cents, idCol, vecCol)
        .select(col("vec_id").as(idCol), col("cluster").as(clusterCol)),
      Seq(idCol))
    Bucketing.writePartitioned(labeled, s"$path/corpus",
      Seq(clusterCol), Seq(idCol), maxRecordsPerFile)
    cents.select(col("cluster").as(clusterCol),
        col("cluster").as("rep_id"), col("cv").as("rep_vec"))
      .coalesce(1).write.parquet(s"$path/reps")
    cents
  }

  /** [[trainIvf]] composed with the scaled-int8 at-rest format of
    * [[writeIvfQ8]] — trained recall AND ~4× smaller probed bytes in
    * ONE artifact: the learned k-means codebook labels the corpus,
    * the corpus is stored as (codes: array<tinyint>, scale: double)
    * partitioned by the learned label, and the reps are the QUANTIZED
    * CENTROIDS (code + scale of each learned centroid).
    * [[knnIvfQ8]] runs unchanged against it — dequantized probe
    * ranking against quantized centroids, dequantized rerank over
    * pruned partitions; oracle-checked end to end by
    * q_ann_ivf_trained_q8. Returns the (float) centroid table.
    */
  def trainIvfQ8(corpus: DataFrame, path: String, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L): DataFrame = {
    requireFresh(corpus.sparkSession, path)
    val base = corpus.drop(clusterCol)
    val cents = Similarity.kmeans(base, k, iters, idCol, vecCol)
    val labels = Similarity.assignNearest(base, cents, idCol, vecCol)
      .select(col("vec_id").as(idCol), col("cluster").as(clusterCol))
    val codes = Similarity.q8CodesScaled(base, idCol, vecCol,
        idCol, "codes", "scale")
      .withColumn("codes", col("codes").cast("array<tinyint>"))
      .join(labels, Seq(idCol))
    Bucketing.writePartitioned(codes, s"$path/corpus",
      Seq(clusterCol), Seq(idCol), maxRecordsPerFile)
    Similarity.q8CodesScaled(cents, "cluster", "cv",
        "rep_id", "rep_codes", "rep_scale")
      .withColumn("rep_codes", col("rep_codes").cast("array<tinyint>"))
      .select(col("rep_id").as(clusterCol), col("rep_id"),
        col("rep_codes"), col("rep_scale"))
      .coalesce(1).write.parquet(s"$path/reps")
    cents
  }

  /** IVF-PQ — the FAISS composition, assembled from three shipped
    * pieces: the TRAINED coarse quantizer ([[trainIvf]]'s
    * deterministic Lloyd codebook) partitions the corpus, PRODUCT
    * QUANTIZATION ([[graft.ops.Pq]]) replaces every stored vector
    * with its m sub-space codes, and queries probe the float
    * centroid reps exactly as [[knnIvf]] does. The probed-partition
    * scan therefore reads ~nprobe/k of a corpus that is itself
    * ~20× smaller than float at rest (PERF.md round-11 pq) —
    * partition pruning and code compression MULTIPLY, the
    * [[trainIvfQ8]] argument taken to PQ's compression level.
    *
    * Three artifacts: `corpus` (codes, Hive-partitioned by the
    * learned label), `reps` (float coarse centroids — the probe
    * codebook), `pq` (the m×k sub-centroid codebook as rows
    * (s, code, cv) — [[readPqModel]] reconstructs the
    * [[graft.ops.Pq.PqModel]]). PQ is trained on the RAW vectors
    * (not per-cluster residuals unless `residual` — raw-vector PQ
    * keeps encode independent of the coarse assignment). Returns
    * (coarse centroids, PqModel).
    */
  def trainIvfPq(corpus: DataFrame, path: String, kCoarse: Int,
      itersCoarse: Int, pqM: Int, pqK: Int, pqIters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L,
      residual: Boolean = false)
      : (DataFrame, graft.ops.Pq.PqModel) = {
    val spark = corpus.sparkSession
    requireFresh(spark, path)
    import spark.implicits._
    val base = corpus.drop(clusterCol)
    val cents = Similarity.kmeans(base, kCoarse, itersCoarse, idCol, vecCol)
    val labels = Similarity.assignNearest(base, cents, idCol, vecCol)
      .select(col("vec_id").as(idCol), col("cluster").as(clusterCol))
    // RESIDUAL refinement (the classic IVF-PQ, measured: direct
    // decoded recall 0.15 → 0.33 at equal bits on clustered data —
    // PERF.md round-11 pq): quantize x − coarseCentroid(x) instead of
    // x, because residuals are SMALL and the fixed sub-space cell
    // budget resolves small vectors finer. The price: encode depends
    // on the coarse assignment, and decode adds the centroid back
    // (knnIvfPq reads the flag from the layout).
    val toEncode =
      if (!residual) base
      else base.join(labels, Seq(idCol))
        .join(cents.select(col("cluster").as(clusterCol),
          col("cv").as("_cc")), Seq(clusterCol))
        .select(col(idCol),
          zip_with(Similarity.asDouble(col(vecCol)), col("_cc"),
            (a, b) => a - b).as(vecCol))
    val model = graft.ops.Pq.train(toEncode, pqM, pqK, pqIters, idCol, vecCol)
    val codes = graft.ops.Pq.encode(toEncode, model, idCol, vecCol)
      .join(labels, Seq(idCol))
    Bucketing.writePartitioned(codes, s"$path/corpus",
      Seq(clusterCol), Seq(idCol), maxRecordsPerFile)
    cents.select(col("cluster").as(clusterCol),
        col("cluster").as("rep_id"), col("cv").as("rep_vec"))
      .coalesce(1).write.parquet(s"$path/reps")
    model.codebooks.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (cv, code) =>
        (s, code, cv.toSeq, residual) } }
      .toDF("s", "code", "cv", "residual")
      .coalesce(1).write.parquet(s"$path/pq")
    (cents, model)
  }

  /** Reconstruct the [[graft.ops.Pq.PqModel]] from a [[trainIvfPq]]
    * layout's `pq` artifact — codebook-sized read.
    */
  def readPqModel(spark: SparkSession, path: String): graft.ops.Pq.PqModel = {
    val rows = ParquetSchema.read(spark, s"$path/pq")
      .orderBy("s", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
    val m = rows.map(_._1).max + 1
    val codebooks = (0 until m).map(s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3).toIndexedSeq)
    graft.ops.Pq.PqModel(m, codebooks.head.length,
      codebooks.head.head.length, codebooks)
  }

  /** Whether the layout's codes quantize RESIDUALS (self-describing:
    * written by [[trainIvfPq]] into the pq artifact; pre-residual
    * layouts lack the column and read as raw).
    */
  def readPqResidualFlag(spark: SparkSession, path: String): Boolean = {
    val df = ParquetSchema.read(spark, s"$path/pq")
    df.columns.contains("residual") &&
      df.select("residual").head().getBoolean(0)
  }

  /** Query the [[trainIvfPq]] layout: probe the float coarse reps
    * (the [[knnIvf]] cosine probe, same bounded collect→isin
    * partition filter), DECODE only the probed partitions' codes
    * (m O(1) codebook-literal lookups per row), rank by decoded dot.
    * Returns (query_id, rank, neighbor_id, adot) — feed the ids into
    * an exact rerank against a float table for the deployment shape
    * ([[graft.ops.Pq.knnRerank]]'s argument, q_ann_ivf_pq does it).
    */
  def knnIvfPq(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "label"): DataFrame = {
    val model = readPqModel(spark, path)
    val reps = ParquetSchema.read(spark, s"$path/reps")
      .select(col(clusterCol).as("cluster"),
        Similarity.asDouble(col("rep_vec")).as("rv"))
      .withColumn("rn", Similarity.norm2(col("rv")))
    val q = queries.select(col(idCol).as("query_id"),
      Similarity.asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", Similarity.norm2(col("qv")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(Similarity.cosineFrom(Similarity.dot(col("qv"), col("rv")),
        col("qn") * col("rn")).desc, col("cluster"))
    val probed = q.crossJoin(broadcast(reps))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select("query_id", "qv", "cluster")
    val probedClusters = probed.select("cluster").distinct()
      .collect().map(_.get(0)).toIndexedSeq
    val isResidual = readPqResidualFlag(spark, path)
    val decoded = graft.ops.Pq.decodeExpr(col("codes"), model)
    val membersRaw = ParquetSchema.read(spark, s"$path/corpus")
      .filter(col(clusterCol).isin(probedClusters: _*))
      .select(col(clusterCol).as("cluster"), col(idCol).as("neighbor_id"),
        col("codes"))
    // residual layout: reconstructed vector = coarse centroid +
    // decoded residual (the reps ARE the centroids — broadcast join)
    val members =
      if (!isResidual)
        membersRaw.select(col("cluster"), col("neighbor_id"),
          decoded.as("cv"))
      else membersRaw
        .join(broadcast(ParquetSchema.read(spark, s"$path/reps")
          .select(col(clusterCol).as("cluster"),
            Similarity.asDouble(col("rep_vec")).as("_cc"))),
          Seq("cluster"))
        .select(col("cluster"), col("neighbor_id"),
          zip_with(col("_cc"), decoded, (a, b) => a + b).as("cv"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("adot").desc, col("neighbor_id"))
    probed.join(members, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adot", Similarity.dot(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adot")
  }

  /** TAKEDOWN for a trained layout — delete a bounded vec-id set
    * from the at-rest corpus, rewriting ONLY the partitions that
    * hold those ids (a takedown that reaches the document corpus but
    * not the vector index leaves the removed content retrievable by
    * similarity — this closes the ANN artifact, the
    * [[graft.ops.Retrieval.removeFromIndex]] counterpart in
    * embedding space). Mechanics: one [[fetchByIds]] point read
    * (pushed per-id equality predicates — row-group pruned, never a
    * corpus scan) recovers each id's learned label, and the
    * (id, label) delete batch goes through [[CowTable.merge]]'s
    * per-partition copy-on-write swap, which also finishes any swap a
    * crashed merge left. The reps codebook is deliberately untouched:
    * deleting members changes cell OCCUPANCY, not the frozen
    * quantizer; refreshing the codebook is a new build. Ids absent
    * from the layout are no-ops. Returns the number of rows deleted.
    */
  def deleteTrained(spark: SparkSession, path: String, ids: Seq[Long],
      idCol: String = "vec_id", clusterCol: String = "label"): Long = {
    if (ids.isEmpty) return 0L
    val fetched = fetchByIds(spark, s"$path/corpus", ids, idCol)
      .select(col(idCol), col(clusterCol))
    // bounded by the takedown batch; materialized so the change set
    // cannot lazily re-read partitions the merge is rewriting
    val rows = fetched.collect().toIndexedSeq
    if (rows.isEmpty) return 0L
    val changes = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), fetched.schema)
      .withColumn("op", lit("delete"))
    CowTable.merge(spark, s"$path/corpus", changes, idCol, clusterCol)
    rows.length.toLong
  }

  /** The pruned corpus scan a probe list induces — exposed separately
    * so tests can assert on `inputFiles` (only probed `cluster=<id>/`
    * directories appear).
    */
  private[graft] def prunedCorpusScan(spark: SparkSession, path: String,
      clusterCol: String, clusters: Seq[Any]): DataFrame =
    ParquetSchema.read(spark, s"$path/corpus")
      .filter(col(clusterCol).isin(clusters: _*))
}

