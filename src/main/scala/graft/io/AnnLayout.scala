package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Similarity
import DirSwap.Dirs

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
  * The layout is two artifacts, both written from the same corpus
  * pass:
  *  - `path/corpus`: the vectors, `cluster=<id>/` partitioned
  *    (small-files-guarded via [[Bucketing.writePartitioned]]);
  *  - `path/reps`: one representative (min-id member — the same
  *    engine-exact medoid stand-in knnIvf uses) vector per cluster —
  *    the coarse quantizer a reader probes WITHOUT touching the
  *    corpus. Kept beside the data exactly like a real IVF index's
  *    codebook.
  */
object AnnLayout {

  /** Write the IVF layout: partitioned corpus + representative table.
    * One corpus scan for the data (the partition write), one
    * aggregation for the reps.
    */
  def writeIvf(corpus: DataFrame, path: String,
      clusterCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxRecordsPerFile: Long = 5000000L): Unit = {
    Bucketing.writePartitioned(corpus, s"$path/corpus",
      Seq(clusterCol), Seq(idCol), maxRecordsPerFile)
    repsOf(corpus, clusterCol, idCol, vecCol)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/reps")
  }

  /** `(cluster, rep_id, rep_vec)` — min-id member per cluster, the
    * engine-exact medoid stand-in knnIvf uses. rep_id is stored so
    * [[appendIvf]] can merge rep tables without re-reading the corpus.
    */
  private def repsOf(corpus: DataFrame, clusterCol: String,
      idCol: String, vecCol: String): DataFrame = {
    val minIds = corpus.groupBy(col(clusterCol))
      .agg(min(col(idCol)).as("rep_id"))
    corpus.select(col(idCol).as("rep_id"), col(vecCol).as("rep_vec"))
      .join(minIds, Seq("rep_id"))
      .select(col(clusterCol), col("rep_id"), col("rep_vec"))
  }

  /** Incremental index maintenance — the operation a 100 TB at-rest
    * index lives or dies by (a full rewrite per ingest batch would
    * cost the whole corpus): APPEND a new vector batch into the
    * existing layout. The batch's rows append into their
    * `cluster=<id>/` directories (only touched partitions gain
    * files — the same partitioned-write path as the initial layout,
    * small-files-guarded); the reps codebook is refreshed by merging
    * the OLD reps with the batch's per-cluster minima — min is
    * associative, so merge-of-minima == min-over-union, and no
    * corpus re-read ever happens. The merged reps table is
    * codebook-sized by definition, so materializing it driver-side
    * before overwriting its own input path is bounded (and the
    * overwrite-what-you-read hazard is the reason to materialize).
    * LayoutSpec pins: write(A) + append(B) answers queries
    * identically to write(A ∪ B) from scratch.
    *
    * Crash/reader safety: the merged reps are written to a staging
    * sibling (`reps.stage`) and RENAMED into place — a directory
    * rename on the same filesystem, so a failure between the corpus
    * append and the reps refresh leaves the OLD reps intact (stale
    * codebook: queries still probe correctly, merely without the new
    * clusters until a retried append completes the swap), never a
    * half-written one. The swap is [[DirSwap.swap]], and every read
    * path here goes through [[DirSwap.read]], so a crash at any step
    * of it leaves readers old-or-new data, never a failure, and
    * repair stays the next writer's job. Single WRITER assumed (two
    * concurrent appends would race the swap) — the same contract
    * every no-table-format parquet maintenance path here carries.
    */
  def appendIvf(newVecs: DataFrame, path: String,
      clusterCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxRecordsPerFile: Long = 5000000L,
      compactWhenFilesOver: Int = 0, compactFiles: Int = 1): Unit = {
    val spark = newVecs.sparkSession
    repairPartitionSwaps(spark, path)
    newVecs.repartition(col(clusterCol))
      .sortWithinPartitions(col(clusterCol), col(idCol))
      .write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(clusterCol)
      .parquet(s"$path/corpus")
    val old = DirSwap.read(spark, Dirs.sibling(s"$path/reps"))
    val merged = old
      .unionByName(repsOf(newVecs, clusterCol, idCol, vecCol))
      .groupBy(col(clusterCol))
      .agg(min_by(struct(col("rep_id"), col("rep_vec")), col("rep_id"))
        .as("_r"))
      .select(col(clusterCol), col("_r.rep_id").as("rep_id"),
        col("_r.rep_vec").as("rep_vec"))
      .collect() // codebook-sized; must leave the path before the swap
    spark.createDataFrame(
        spark.sparkContext.parallelize(merged.toIndexedSeq, 1), old.schema)
      .write.mode("overwrite").parquet(s"$path/reps.stage")
    DirSwap.swap(spark, Dirs.sibling(s"$path/reps"))
    if (compactWhenFilesOver > 0)
      compactIvfPartitions(spark, path, clusterCol, idCol,
        compactFiles, compactWhenFilesOver,
        maxRecordsPerFile = maxRecordsPerFile)
    ()
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
    spark.read.parquet(path)
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
    knnIvfOn(DirSwap.read(spark, Dirs.sibling(s"$path/reps")), queries,
      k, nprobe, idCol, vecCol, clusterCol,
      pc => spark.read.parquet(s"$path/corpus")
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
      .coalesce(1).write.mode("overwrite").parquet(s"$path/reps")
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
    val reps = DirSwap.read(spark, Dirs.sibling(s"$path/reps"))
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
    val members = spark.read.parquet(s"$path/corpus")
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
    * over every query against the layout, and incrementally
    * maintainable afterwards with [[appendTrained]] (NOT
    * [[appendIvf]], whose min-id reps merge is the UNtrained
    * codebook's maintenance rule and would overwrite learned
    * centroids). Returns the trained centroid table (cluster, cv).
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
    val spark = corpus.sparkSession
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
      .coalesce(1).write.mode("overwrite").parquet(s"$path/reps.stage")
    DirSwap.swap(spark, Dirs.sibling(s"$path/reps"))
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
    * pruned partitions. Maintenance: [[appendTrained]]'s
    * frozen-codebook rule applies (assign → quantize → append;
    * retraining is a new build); oracle-checked end to end by
    * q_ann_ivf_trained_q8. Returns the (float) centroid table.
    */
  def trainIvfQ8(corpus: DataFrame, path: String, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L): DataFrame = {
    val spark = corpus.sparkSession
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
      .coalesce(1).write.mode("overwrite").parquet(s"$path/reps.stage")
    DirSwap.swap(spark, Dirs.sibling(s"$path/reps"))
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
    * (not per-cluster residuals — the residual refinement is a
    * documented non-goal: raw-vector PQ keeps encode independent of
    * the coarse assignment, so [[appendTrained]]-style maintenance
    * could assign and encode in one pass). Returns (coarse
    * centroids, PqModel).
    */
  def trainIvfPq(corpus: DataFrame, path: String, kCoarse: Int,
      itersCoarse: Int, pqM: Int, pqK: Int, pqIters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L,
      residual: Boolean = false)
      : (DataFrame, graft.ops.Pq.PqModel) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.drop(clusterCol)
    val cents = Similarity.kmeans(base, kCoarse, itersCoarse, idCol, vecCol)
    val labels = Similarity.assignNearest(base, cents, idCol, vecCol)
      .select(col("vec_id").as(idCol), col("cluster").as(clusterCol))
    // RESIDUAL refinement (the classic IVF-PQ, measured: direct
    // decoded recall 0.15 → 0.33 at equal bits on clustered data —
    // PERF.md round-11 pq): quantize x − coarseCentroid(x) instead of
    // x, because residuals are SMALL and the fixed sub-space cell
    // budget resolves small vectors finer. The price: encode now
    // depends on the coarse assignment (append is assign → subtract
    // → encode, see appendTrainedPq) and decode adds the centroid
    // back (knnIvfPq reads the flag from the layout).
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
      .coalesce(1).write.mode("overwrite").parquet(s"$path/reps.stage")
    DirSwap.swap(spark, Dirs.sibling(s"$path/reps"))
    // Stage+swap like reps: a plain overwrite on a RE-build into an
    // existing layout can crash mid-write and leave a torn pq dir
    // with no .old for DirSwap.read to fall back to — the pq codebook
    // carries the same crash-safety contract as every other artifact
    // here.
    model.codebooks.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (cv, code) =>
        (s, code, cv.toSeq, residual) } }
      .toDF("s", "code", "cv", "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq.stage")
    DirSwap.swap(spark, Dirs.sibling(s"$path/pq"))
    (cents, model)
  }

  /** Reconstruct the [[graft.ops.Pq.PqModel]] from a [[trainIvfPq]]
    * layout's `pq` artifact — codebook-sized read.
    */
  def readPqModel(spark: SparkSession, path: String): graft.ops.Pq.PqModel = {
    val rows = DirSwap.read(spark, Dirs.sibling(s"$path/pq"))
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
    val df = DirSwap.read(spark, Dirs.sibling(s"$path/pq"))
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
    val reps = DirSwap.read(spark, Dirs.sibling(s"$path/reps"))
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
    val membersRaw = spark.read.parquet(s"$path/corpus")
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
        .join(broadcast(DirSwap.read(spark, Dirs.sibling(s"$path/reps"))
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

  /** Incremental maintenance for an IVF-PQ layout ([[trainIvfPq]]):
    * ONE pass assigns the batch to the frozen coarse codebook AND
    * encodes it with the frozen PQ codebook (raw-vector PQ makes the
    * two independent — the design reason documented on trainIvfPq),
    * then appends into the learned-label partitions. Reps and the pq
    * artifact stay untouched (the [[appendTrained]] frozen-codebook
    * rule; the [[appendTrainedWithStats]] drift gates apply
    * unchanged — retrain is a new [[trainIvfPq]] build). The
    * compaction threshold composes like every other append.
    * LayoutSpec pins append-equivalence with a from-scratch encode
    * of the union under the same frozen models.
    */
  def appendTrainedPq(newVecs: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L,
      compactWhenFilesOver: Int = 0, compactFiles: Int = 1): Unit = {
    val spark = newVecs.sparkSession
    repairPartitionSwaps(spark, path)
    val model = readPqModel(spark, path)
    val cents = DirSwap.read(spark, Dirs.sibling(s"$path/reps"))
      .select(col(clusterCol).as("cluster"), col("rep_vec").as("cv"))
    val base = newVecs.drop(clusterCol)
    val labels = Similarity.assignNearest(base, cents, idCol, vecCol)
      .select(col("vec_id").as(idCol), col("cluster").as(clusterCol))
    // residual layout: the promised two-step — subtract the assigned
    // centroid before encoding with the frozen PQ codebook
    val toEncode =
      if (!readPqResidualFlag(spark, path)) base
      else base.join(labels, Seq(idCol))
        .join(cents.select(col("cluster").as(clusterCol),
          Similarity.asDouble(col("cv")).as("_cc")), Seq(clusterCol))
        .select(col(idCol),
          zip_with(Similarity.asDouble(col(vecCol)), col("_cc"),
            (a, b) => a - b).as(vecCol))
    graft.ops.Pq.encode(toEncode, model, idCol, vecCol)
      .join(labels, Seq(idCol))
      .repartition(col(clusterCol))
      .sortWithinPartitions(col(clusterCol), col(idCol))
      .write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(clusterCol)
      .parquet(s"$path/corpus")
    if (compactWhenFilesOver > 0)
      compactIvfPartitions(spark, path, clusterCol, idCol,
        compactFiles, compactWhenFilesOver,
        maxRecordsPerFile = maxRecordsPerFile)
    ()
  }

  /** Incremental maintenance for a TRAINED layout ([[trainIvf]]):
    * assign the new batch to the FROZEN codebook (one
    * [[graft.ops.Similarity.assignNearest]] pass against `path/reps`
    * — broadcast-sized, no corpus read) and append its rows into
    * their learned-label partitions. The reps codebook is left
    * untouched — that is the point: the standard IVF practice is a
    * frozen coarse quantizer between retrains, and retraining is a
    * new [[trainIvf]] build by design. LayoutSpec pins reps
    * invariance, label agreement with assignNearest, and
    * query-identity against a hand-built reference on the unioned
    * corpus.
    *
    * RETRAIN POLICY (measured — PERF.md round-11 "frozen-codebook
    * drift"): recall is ROBUST to pure distribution shift, because
    * queries and corpus are binned by the SAME frozen codebook —
    * assignment consistency, not fit, is what IVF recall needs
    * (recall@10 held ≥ 0.94 at nprobe=4 / 1.0 at nprobe=16 while the
    * batch assignment cosine collapsed 0.98 → 0.41). What drift
    * costs is CROWDING: drifted batches pile into few cells,
    * inflating probed-partition scan bytes and, later, low-nprobe
    * recall. Gate retrains on the free per-batch aggregates of the
    * assignNearest pass this append already runs: WARN at assign-
    * cosine p50 < 0.7 (early, recall still intact), RETRAIN (a new
    * [[trainIvf]] build) when the batch's top-cell share exceeds
    * ~3× 1/k — the measured knee where crowding materializes.
    * [[appendTrainedWithStats]] computes and returns exactly these
    * statistics from the append's own assignment pass.
    */
  def appendTrained(newVecs: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L,
      compactWhenFilesOver: Int = 0, compactFiles: Int = 1): Unit = {
    val spark = newVecs.sparkSession
    DirSwap.repair(spark, Dirs.sibling(s"$path/reps"))
    repairPartitionSwaps(spark, path)
    val cents = DirSwap.read(spark, Dirs.sibling(s"$path/reps"))
      .select(col(clusterCol).as("cluster"), col("rep_vec").as("cv"))
    val base = newVecs.drop(clusterCol)
    val labeled = base.join(
      Similarity.assignNearest(base, cents, idCol, vecCol)
        .select(col("vec_id").as(idCol), col("cluster").as(clusterCol)),
      Seq(idCol))
    labeled.repartition(col(clusterCol))
      .sortWithinPartitions(col(clusterCol), col(idCol))
      .write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(clusterCol)
      .parquet(s"$path/corpus")
    if (compactWhenFilesOver > 0)
      compactIvfPartitions(spark, path, clusterCol, idCol,
        compactFiles, compactWhenFilesOver,
        maxRecordsPerFile = maxRecordsPerFile)
    ()
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
    * per-partition copy-on-write swap. The reps codebook is
    * deliberately untouched: deleting members changes cell OCCUPANCY,
    * not the frozen quantizer — exactly the [[appendTrained]]
    * frozen-codebook rule in reverse; heavy deletion shows up in the
    * next [[EpochLayout.maintainTrained]] batch's crowding gate, whose
    * retrain is the codebook's refresh path. Ids absent from the
    * layout are no-ops. Returns the number of rows deleted.
    */
  def deleteTrained(spark: SparkSession, path: String, ids: Seq[Long],
      idCol: String = "vec_id", clusterCol: String = "label"): Long = {
    DirSwap.repair(spark, Dirs.sibling(s"$path/reps"))
    repairPartitionSwaps(spark, path)
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

  /** Per-batch drift statistics from the assignment pass an append
    * already runs — the free gate inputs of the measured retrain
    * policy (PERF.md round-11: WARN at `assignCosP50 < 0.7`, RETRAIN
    * at `topCellShare > ~3/k`). Quantiles carry the dd2 sketch's
    * ≤0.5/d2 relative error on the +2-shifted cosine (≈ ±0.015
    * absolute on [-1, 1] — far inside the 0.7-threshold margin);
    * occupancy numbers are exact.
    */
  final case class AppendStats(n: Long, assignCosP50: Double,
      assignCosP05: Double, topCellShare: Double, cellsUsed: Long)

  /** [[appendTrained]] that also RETURNS the drift statistics the
    * retrain policy gates on, computed from the SAME assignNearest
    * pass the append needs anyway (the batch's assignment is
    * persisted across the two uses, so the corpus-shaped work runs
    * once):
    *  - assignment-cosine p05/p50 via the dd2 sketch on the
    *    +2-shifted cosine (cosine spans [-1, 1]; dd2 is
    *    positive-domain; the shift is undone on the estimate) —
    *    bounded state, engine-deterministic, no driver-side value
    *    collection;
    *  - top-cell share and cells-used from one codebook-sized
    *    occupancy aggregate.
    * A production intake loop calls this instead of
    * [[appendTrained]], logs the stats per epoch, and triggers
    * [[trainIvf]] when the policy fires — no second corpus pass,
    * no extra scan. LayoutSpec pins the stats against hand-computed
    * values and append-equivalence with appendTrained.
    */
  def appendTrainedWithStats(newVecs: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L,
      compactWhenFilesOver: Int = 0, compactFiles: Int = 1): AppendStats = {
    val spark = newVecs.sparkSession
    DirSwap.repair(spark, Dirs.sibling(s"$path/reps"))
    repairPartitionSwaps(spark, path)
    val cents = DirSwap.read(spark, Dirs.sibling(s"$path/reps"))
      .select(col(clusterCol).as("cluster"), col("rep_vec").as("cv"))
    val base = newVecs.drop(clusterCol)
    val assigned = Similarity.assignNearest(base, cents, idCol, vecCol)
      .persist()
    base.join(assigned
        .select(col("vec_id").as(idCol), col("cluster").as(clusterCol)),
        Seq(idCol))
      .repartition(col(clusterCol))
      .sortWithinPartitions(col(clusterCol), col(idCol))
      .write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(clusterCol)
      .parquet(s"$path/corpus")
    val occ = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("c"))
      .collect() // codebook-sized
      .map(_.getLong(1))
    val n = occ.sum
    val quants = graft.functions.DdSketch.dd2Quantiles(
        graft.functions.DdSketch.dd2Buckets(assigned,
          col("cosine") + lit(2.0)),
        Seq(0.05, 0.5))
      .collect().map(r => r.getDouble(0) -> (r.getDouble(1) - 2.0)).toMap
    assigned.unpersist()
    if (compactWhenFilesOver > 0)
      compactIvfPartitions(spark, path, clusterCol, idCol,
        compactFiles, compactWhenFilesOver,
        maxRecordsPerFile = maxRecordsPerFile)
    AppendStats(n,
      assignCosP50 = quants.getOrElse(0.5, Double.NaN),
      assignCosP05 = quants.getOrElse(0.05, Double.NaN),
      topCellShare = if (n == 0L) 0.0 else occ.max.toDouble / n,
      cellsUsed = occ.length.toLong)
  }

  /** Outcome of one [[EpochLayout.maintainTrained]] epoch: the
    * append's drift statistics plus which policy gates fired.
    * `retrained = true` means the crowding gate fired and a rebuilt
    * codebook was published as a new epoch.
    */
  final case class MaintainResult(stats: AppendStats,
      warned: Boolean, retrained: Boolean)

  /** Incremental maintenance for a TRAINED Q8 layout
    * ([[trainIvfQ8]]): assign the new batch against the DEQUANTIZED
    * stored codebook (`code·scale/127` — the only codebook a
    * Q8-layout reader has, so append-time assignment is
    * self-consistent with probe-time ranking), quantize the batch,
    * and append into the learned-label partitions. The quantized
    * reps stay untouched — same frozen-codebook rule as
    * [[appendTrained]]. A borderline vector can land in a different
    * partition than the float-codebook assignment [[trainIvfQ8]]
    * used for the initial corpus; labels only gate which partitions
    * a probe reads, never the rerank score, so this shifts recall at
    * the margin, not correctness (LayoutSpec pins query-identity
    * against an unpruned reference over the unioned layout).
    */
  def appendTrainedQ8(newVecs: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label",
      maxRecordsPerFile: Long = 5000000L,
      compactWhenFilesOver: Int = 0, compactFiles: Int = 1): Unit = {
    val spark = newVecs.sparkSession
    repairPartitionSwaps(spark, path)
    val cents = DirSwap.read(spark, Dirs.sibling(s"$path/reps"))
      .select(col(clusterCol).as("cluster"),
        transform(col("rep_codes"),
          c => c.cast("double") * col("rep_scale") / lit(127.0)).as("cv"))
    val base = newVecs.drop(clusterCol)
    val labels = Similarity.assignNearest(base, cents, idCol, vecCol)
      .select(col("vec_id").as(idCol), col("cluster").as(clusterCol))
    val codes = Similarity.q8CodesScaled(base, idCol, vecCol,
        idCol, "codes", "scale")
      .withColumn("codes", col("codes").cast("array<tinyint>"))
      .join(labels, Seq(idCol))
    codes.repartition(col(clusterCol))
      .sortWithinPartitions(col(clusterCol), col(idCol))
      .write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(clusterCol)
      .parquet(s"$path/corpus")
    if (compactWhenFilesOver > 0)
      compactIvfPartitions(spark, path, clusterCol, idCol,
        compactFiles, compactWhenFilesOver,
        maxRecordsPerFile = maxRecordsPerFile)
    ()
  }

  /** Small-file compaction for the layout's `cluster=<id>/`
    * partitions — the last unbounded-file-count path in the repo:
    * every [[appendIvf]]/[[appendTrained]]/[[appendTrainedQ8]] batch
    * adds a file set to each touched partition (`maxRecordsPerFile`
    * bounds file SIZE, nothing bounded file COUNT), so a long-running
    * ingest degrades probed-partition scans exactly the way the dedup
    * index log did before its compaction landed. This is the same
    * in-place maintenance semantic (the reference's Redis SET on an
    * existing key, `internal/app/services/storage/cache_service.go:45`)
    * one level down: per partition, rewrite the accumulated file set
    * to `compactFiles` files (id-sorted, so rewritten row groups keep
    * their stats locality) and swap it in crash-safely.
    *
    * Scale shape: the decision pass is ONE driver-side listing of the
    * partition directories (codebook-sized — #dirs == #clusters) with
    * a per-dir file count; only partitions over `onlyWhenFilesOver`
    * (or all listed, when 0 — the offline full-compaction mode) pay a
    * rewrite, and each rewrite reads exactly that partition's bytes —
    * work proportional to accumulated garbage, never corpus size.
    * `clusters` restricts the sweep to named partition values (the
    * "compact what this ingest touched" mode).
    *
    * Crash safety: stage dirs and backups are HIDDEN siblings inside
    * the corpus root (`.stage_cluster=5` / `.old_cluster=5` — dot
    * prefix, ignored by partition discovery, so a reader NEVER sees a
    * partial partition as data). The swap is [[DirSwap.swap]]; a
    * crash inside it leaves the partition directory missing and the
    * hidden backup present — invisible-rows, not wrong-rows — and
    * [[repairPartitionSwaps]] (called on entry here and by every
    * append) restores it. The reps codebook is never touched. Single
    * writer assumed, as everywhere in this layout.
    *
    * Returns the number of partitions rewritten. LayoutSpec pins
    * query-identity before/after on a multi-append layout and the
    * bounded per-partition file count across N appends.
    */
  def compactIvfPartitions(spark: SparkSession, path: String,
      clusterCol: String = "label", idCol: String = "vec_id",
      compactFiles: Int = 1, onlyWhenFilesOver: Int = 0,
      clusters: Seq[Any] = null,
      maxRecordsPerFile: Long = 5000000L): Int = {
    import org.apache.hadoop.fs.Path
    require(onlyWhenFilesOver <= 0 || onlyWhenFilesOver > compactFiles,
      s"onlyWhenFilesOver=$onlyWhenFilesOver must exceed " +
        s"compactFiles=$compactFiles: the compacted partition alone " +
        "would re-trip the threshold on every pass")
    val corpus = new Path(s"$path/corpus")
    val fs = corpus.getFileSystem(spark.sparkContext.hadoopConfiguration)
    repairPartitionSwaps(spark, path)
    if (!fs.exists(corpus)) return 0
    val wanted: Set[String] =
      if (clusters == null) null
      else clusters.map(v => s"$clusterCol=$v").toSet
    var compacted = 0
    fs.listStatus(corpus).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(s"$clusterCol=") &&
          (wanted == null || wanted(name))) {
        val nFiles = fs.listStatus(st.getPath).count(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (nFiles > compactFiles &&
            (onlyWhenFilesOver <= 0 || nFiles > onlyWhenFilesOver)) {
          val stage = new Path(corpus, s".stage_$name")
          if (fs.exists(stage)) fs.delete(stage, true)
          spark.read.parquet(st.getPath.toString)
            .repartition(compactFiles)
            .sortWithinPartitions(idCol)
            .write.option("maxRecordsPerFile", maxRecordsPerFile)
            .mode("overwrite").parquet(stage.toString)
          DirSwap.swap(spark, Dirs(stage.toString, st.getPath.toString,
            new Path(corpus, s".old_$name").toString))
          compacted += 1
        }
      }
    }
    compacted
  }

  /** Finish any partition swap a crashed [[compactIvfPartitions]]
    * left half-done ([[DirSwap.repairPartitions]] over the corpus
    * root). Every layout writer calls this on entry, so a crash
    * degrades the layout for at most one maintenance cycle.
    */
  def repairPartitionSwaps(spark: SparkSession, path: String): Unit =
    DirSwap.repairPartitions(spark, s"$path/corpus", stageRoot = None)

  /** Per-partition layout statistics from ONE driver-side listing —
    * no data read: `(cluster value, parquet file count, bytes)` for
    * every `cluster=<id>/` directory. The shared input of both
    * maintenance policies: file counts feed the
    * [[compactIvfPartitions]] threshold, and byte skew is the at-rest
    * face of the CROWDING statistic the retrain policy gates on
    * (PERF.md round-11: a drifted ingest piles rows into few cells —
    * visible here as top-partition byte share — inflating probed
    * bytes per query even while recall holds). Codebook-sized output;
    * repairs any crashed partition swap first so a post-crash listing
    * reflects the repaired layout.
    */
  def layoutStats(spark: SparkSession, path: String,
      clusterCol: String = "label"): Seq[(String, Int, Long)] = {
    import org.apache.hadoop.fs.Path
    repairPartitionSwaps(spark, path)
    val corpus = new Path(s"$path/corpus")
    val fs = corpus.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(corpus)) return Seq.empty
    fs.listStatus(corpus).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$clusterCol="))
      .map { st =>
        val files = fs.listStatus(st.getPath).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        (st.getPath.getName.stripPrefix(s"$clusterCol="),
          files.length, files.map(_.getLen).sum)
      }
      .sortBy(_._1)
  }

  /** [[layoutStats]] plus EXACT per-partition row counts from the
    * parquet FOOTERS — `(cluster value, file count, bytes, rows)` —
    * still no data read: a footer is a tail-of-file metadata block
    * holding the row count of every row group, so the whole audit
    * costs one driver-side listing plus one ~8 KB footer fetch per
    * file (bounded by [[compactIvfPartitions]]'s file-count policy),
    * not a corpus scan. Footer fetches run on a bounded driver pool —
    * sequential opens are latency-bound (~10 ms each measured on
    * local disk, worse on object stores), and the fetches are
    * independent, so the wall cost is files/16 round trips. This
    * makes the CROWDING statistic the retrain policy gates on exact
    * AT REST: [[EpochLayout.maintainTrained]] reads it from the
    * append batch's own assignment, but a layout that drifted
    * across many past appends (or was inherited from another writer)
    * can be audited without pushing any batch through —
    * [[auditTrained]] below.
    */
  def layoutRowStats(spark: SparkSession, path: String,
      clusterCol: String = "label",
      footerTimeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(120, "s"))
      : Seq[(String, Int, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    repairPartitionSwaps(spark, path)
    val corpus = new Path(s"$path/corpus")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = corpus.getFileSystem(conf)
    if (!fs.exists(corpus)) return Seq.empty
    val cells = fs.listStatus(corpus).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$clusterCol="))
      .map { st =>
        (st.getPath.getName.stripPrefix(s"$clusterCol="),
          fs.listStatus(st.getPath).filter(f =>
            f.isFile && f.getPath.getName.endsWith(".parquet")).toSeq)
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, cells.iterator.map(_._2.size).sum)))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val submitted = cells.map { case (cell, files) =>
        (cell, files, Future.traverse(files) { f => Future {
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
          try r.getRecordCount finally r.close()
        }})
      }
      submitted.map { case (cell, files, rows) =>
        // bounded wait: one wedged footer open (an object store hanging
        // a single GET) must fail the audit NAMING the cell instead of
        // blocking the driver forever
        val counts =
          try Await.result(rows, footerTimeout)
          catch {
            case e: java.util.concurrent.TimeoutException =>
              throw new RuntimeException(
                s"layoutRowStats: footer reads for cell " +
                  s"$clusterCol=$cell under $path/corpus did not " +
                  s"complete within $footerTimeout", e)
          }
        (cell, files.length, files.map(_.getLen).sum, counts.sum)
      }.sortBy(_._1)
    } finally pool.shutdown()
  }

  /** Outcome of an at-rest crowding audit: exact row counts per cell
    * (from [[layoutRowStats]]), the top-cell row share, and whether
    * the measured retrain gate (share > factor/k against the
    * INSTALLED codebook's k) fires.
    */
  final case class AuditResult(cells: Long, rows: Long,
      topCellShare: Double, retrain: Boolean)

  /** The [[EpochLayout.maintainTrained]] crowding gate applied AT
    * REST — no append, no assignment pass, no corpus read: row
    * counts come from the parquet footers, k from the layout's own
    * reps table, and the gate threshold is the same measured
    * `retrainShareFactor / k` knee (PERF.md round-11 "frozen-codebook
    * drift": crowding, not assignment fit, is what inflates probed
    * bytes). The periodic maintenance audit a fleet runs over every
    * layout it owns — codebook-sized cost per layout, independent of
    * corpus size. A fired gate is acted on by pushing the next batch
    * through [[EpochLayout.maintainTrained]] (whose rebuild machinery
    * already exists) or rebuilding directly via [[trainIvf]].
    */
  def auditTrained(spark: SparkSession, path: String,
      retrainShareFactor: Double = 3.0,
      clusterCol: String = "label"): AuditResult = {
    val stats = layoutRowStats(spark, path, clusterCol)
    val k = DirSwap.read(spark, Dirs.sibling(s"$path/reps")).count()
    require(k > 0, s"empty reps table at $path")
    val total = stats.map(_._4).sum
    val share =
      if (total == 0L) 0.0
      else stats.map(_._4).max.toDouble / total
    AuditResult(stats.length.toLong, total, share,
      retrain = share > retrainShareFactor / k.toDouble)
  }

  /** The pruned corpus scan a probe list induces — exposed separately
    * so tests can assert on `inputFiles` (only probed `cluster=<id>/`
    * directories appear).
    */
  def prunedCorpusScan(spark: SparkSession, path: String,
      clusterCol: String, clusters: Seq[Any]): DataFrame =
    spark.read.parquet(s"$path/corpus")
      .filter(col(clusterCol).isin(clusters: _*))
}
