package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Numeric portability: dot products are sequential left-to-right
  * folds in double precision (`aggregate` HOF) — the same order the
  * DuckDB oracle's `list_reduce` uses — so cosine values are
  * bit-identical across engines and top-k ranking is deterministic
  * (ties broken by id).
  *
  * Scale design: brute-force top-k broadcasts the (small) query set
  * and streams the corpus map-side — no shuffle of the corpus; cost
  * is |Q|·|C| dots. The LSH variant buckets by sign bits so candidate
  * generation is an equality join on the bucket key; at 100 TB this is
  * the difference between a full cross join and a skew-bounded
  * hash join. An IVF variant would replace the bucket key with a
  * nearest-centroid id — same join shape.
  */
object Similarity {

  /** Cast a float vector to double (exact widening). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential double dot product — the native codegen expression
    * (graftbridge.DotProduct). Bit-identical to [[dotHof]] and to the
    * oracle's list_reduce (same summation order).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotNative(a, b)

  /** Reference HOF formulation (CodegenFallback; kept for equivalence
    * tests and as documentation of the numeric contract).
    */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(v: Column): Column = dot(v, v)

  /** cosine(a, b) = dot / sqrt(|a|²·|b|²) — single sqrt so the oracle
    * can reproduce the exact floating-point expression shape.
    *
    * ZERO-NORM CONVENTION (one rule for the whole cosine family): a
    * pair involving a zero-norm vector has cosine 0.0 — a vector
    * with no direction is equally (un)similar to everything. Without
    * the guard the division is 0/0 = NaN, and because NaN sorts
    * GREATER than every double in both engines, a single zero-norm
    * CENTROID would win every argmax and silently swallow the whole
    * corpus (the DdSketch NaN-domain lesson applied here). With the
    * guard: zero vectors keep their rows everywhere, assign to the
    * smallest cluster id on the all-zero tie, never beat a genuinely
    * positive similarity, and never trip a near-dup threshold.
    * VectorExprSpec pins all of this through assignNearest, semDedup,
    * and knnIvfPq. (The shipped oracles replay the unguarded
    * expression; the synthetic corpora contain no zero vectors, so
    * values are identical — the guard exists for real data.)
    */
  def cosine(a: Column, b: Column): Column =
    cosineFrom(dot(a, b), norm2(a) * norm2(b))

  /** cosine from a precomputed dot and the PRODUCT of squared norms —
    * the shared guarded primitive ([[cosine]] doc).
    */
  private[graft] def cosineFrom(dotAb: Column, nn: Column): Column =
    when(nn === 0.0, lit(0.0)).otherwise(dotAb / sqrt(nn))

  /** Pair cosine from precomputed squared norms: bit-identical to
    * [[cosine]] (the norm is the same fold, just evaluated once per
    * row instead of once per pair). The norm columns live in projects
    * BELOW the join, so each side's norm is computed once per input
    * row — per-pair cost drops from three vector traversals to one,
    * which at |Q|·|C| pairs is the dominant term.
    */
  private def cosinePre(dotAb: Column, normA: Column, normB: Column): Column =
    cosineFrom(dotAb, normA * normB)

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself), rank-ordered with id
    * tie-break. `queries` and `corpus` both need (id, vec) columns.
    */
  def knnBruteForce(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm2(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Brute-force top-k over symmetric int8 scalar-quantized codes —
    * the storage-compression path of [[knnBruteForce]]: each vector
    * becomes dim int8 codes (4× smaller than float32 at rest; a
    * production layout stores the codes and drops the floats), and
    * ranking runs on EXACT int64 dot products of the codes — no
    * float comparison anywhere, an even stronger portability contract
    * than the exact-double cosine path. Quantization:
    * floor((x·127)/s) with s = max|x_i| — deterministic IEEE double
    * ops in an expression shape the oracle mirrors token-for-token;
    * the per-vector scale makes code dots magnitude-blind (an exact
    * scalar multiple of a vector gets identical codes — pinned in
    * TrainingSpec). NOTE the similarity is l∞-normalized, which is a
    * near-DUPLICATE key, not a cosine/dot proxy — for ANN-faithful
    * ranking use [[knnQuantizedDot]] (dequantized scoring; the
    * measured difference is recall@10 0.06 vs ~1, PERF.md
    * ann_recall). Zero vectors quantize to zero codes. Same broadcast-the-queries /
    * stream-the-corpus shape as [[knnBruteForce]]: no corpus shuffle,
    * cost |Q|·|C| integer dots on codes a real deployment reads 4×
    * faster than the floats.
    */
  def knnQuantized(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = q8Codes(queries, idCol, vecCol, "query_id", "qa")
    val c = q8Codes(corpus, idCol, vecCol, "neighbor_id", "qb")
    val idot = intDot(col("qa"), col("qb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot", idot)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "qdot")
  }

  /** `(idAs, codesAs)` — the int8 code table of [[knnQuantized]]'s
    * quantizer, exposed so at-rest layouts can STORE the codes
    * (array<bigint> of values in [−127, 127]; a production layout
    * casts to tinyint for the full 4× — see AnnLayout.writeIvfQ8).
    * The scale `_s` is materialized BEFORE the code lambda so the
    * lambda references an attribute, not a re-inlined array_max per
    * element (the TextOps.shingles O(n²) lesson).
    */
  def q8Codes(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, codesAs: String): DataFrame =
    q8CodesScaled(df, idCol, vecCol, idAs, codesAs, "_scale")
      .drop("_scale")

  /** [[q8Codes]] keeping the per-vector scale — what a real quantized
    * layout stores next to the codes, because DEQUANTIZED scoring
    * needs it (see [[knnQuantizedDot]]).
    */
  def q8CodesScaled(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, codesAs: String, scaleAs: String): DataFrame =
    df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as("_v"))
      .withColumn("_s", array_max(transform(col("_v"), x => abs(x))))
      .select(col(idAs),
        when(col("_s") === 0.0, transform(col("_v"), _ => lit(0L)))
          .otherwise(transform(col("_v"),
            x => floor(x * lit(127.0) / col("_s")))).as(codesAs),
        col("_s").as(scaleAs))

  /** Exact int64 sequential dot over two integer code arrays (cast
    * per element so tinyint-at-rest codes widen before multiplying).
    */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** DEQUANTIZED quantized top-k — the ANN-faithful scoring for int8
    * codes: score = (sa·sb·qdot)/127² ≈ the true dot product (error
    * is quantization rounding only), where [[knnQuantized]]'s raw
    * code dot is an l∞-normalized similarity that is NOT a cosine/dot
    * proxy (measured: recall@10 vs cosine truth 0.06 on heterogeneous
    * vectors — see PERF.md ann_recall; raw codes remain the right key
    * for near-DUPLICATE detection, where near-identical vectors have
    * near-identical codes). The scales are the two doubles a real
    * quantized layout stores beside the codes; the score is one
    * deterministic IEEE product chain the oracle mirrors
    * token-for-token, with (score, id) total-order ranking.
    */
  def knnQuantizedDot(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = q8CodesScaled(queries, idCol, vecCol, "query_id", "qa", "sa")
    val c = q8CodesScaled(corpus, idCol, vecCol, "neighbor_id", "qb", "sb")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        col("sa") * col("sb") * intDot(col("qa"), col("qb")).cast("double")
          / lit(16129.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Sign-LSH bucket key: one bit per leading dimension (1 ⇔ ≥ 0).
    * Random-hyperplane LSH with axis-aligned planes — deterministic
    * and engine-portable.
    */
  def signBucket(vec: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(vec, i) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** IVF-style ANN: an inverted file keyed by cluster id with one
    * representative vector per cluster (here the min-id member — a
    * medoid stand-in that is engine-exact, unlike float averaging,
    * whose low-bit rounding differs across engines). Query phase:
    * rank clusters by cosine to the representative, probe the top
    * `nprobe` inverted lists, exact-rerank only their members.
    *
    * Scale shape: reps are tiny (one per cluster) and broadcast; the
    * corpus is partitioned by cluster id, so a query touches nprobe
    * partitions instead of the full corpus — the IVF trade of recall
    * for a 1/(clusters/nprobe) scan fraction. With a trained
    * quantizer the representative table is the codebook; the join
    * shape is identical.
    */
  def knnIvf(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "label"): DataFrame = {
    val minIds = corpus.groupBy(col(clusterCol).as("cluster"))
      .agg(min(col(idCol)).as("rid"))
    val reps = minIds.join(
      corpus.select(col(idCol).as("rid"), asDouble(col(vecCol)).as("rv")),
      Seq("rid"))
      .withColumn("rn", norm2(col("rv")))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm2(col("qv")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(cosinePre(dot(col("qv"), col("rv")), col("qn"), col("rn")).desc,
        col("cluster"))
    val probed = q.crossJoin(broadcast(reps))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select("query_id", "qv", "qn", "cluster")
    val members = corpus.select(col(clusterCol).as("cluster"),
      col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv")))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probed.join(members, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** LSH-bucketed near-dup pairs: candidates share the sign bucket,
    * then exact cosine ≥ threshold. The equality join on the bucket
    * key replaces the all-pairs cross join.
    */
  def lshCosinePairs(vectors: DataFrame, bits: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucket(col(vecCol), bits).as("bucket"))
      .withColumn("n", norm2(col("v")))
    val a = v.select(col("id").as("i"), col("v").as("av"), col("n").as("an"), col("bucket"))
    val b = v.select(col("id").as("j"), col("v").as("bv"), col("n").as("bn"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("i") < col("j"))
      .withColumn("cosine", cosinePre(dot(col("av"), col("bv")), col("an"), col("bn")))
      .filter(col("cosine") >= threshold)
      .select("i", "j", "cosine")
  }

  /** One Lloyd / IVF-coarse assignment step: each vector → its
    * argmax-cosine centroid (ties → lowest cluster id). The centroid
    * table is one row per cluster — tiny — so it broadcasts and the
    * k-fold expansion happens map-side; the per-vector argmax is a
    * `max_by` over an (cosine, -cluster) ordering struct, which Spark
    * partial-aggregates BELOW the exchange (same `partial_max_by`
    * shape PlanAuditSpec pins for q_latest_per_key), so the one
    * shuffle carries |corpus| pre-reduced rows, not |corpus|·k.
    * Determinism: the ordering struct is totally ordered (exact
    * double cosine, then the numerically-exact negated cluster id),
    * so the winner is engine-portable.
    *
    * Full k-means = iterate assignNearest → [[centroids]] (quantized
    * exact means) to fixpoint; each iteration is these two shuffles.
    */
  def assignNearest(vectors: DataFrame, centroidTable: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "cluster", centVecCol: String = "cv"): DataFrame = {
    val c = centroidTable.select(col(clusterCol).as("cluster"),
      asDouble(col(centVecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv")))
    val v = vectors.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", norm2(col("v")))
    v.crossJoin(broadcast(c))
      .withColumn("cosine", cosinePre(dot(col("v"), col("cv")), col("vn"), col("cn")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cluster"), col("cosine")),
        struct(col("cosine"), (-col("cluster")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.cluster").as("cluster"),
        col("best.cosine").as("cosine"))
  }

  /** Full Lloyd k-means: seed with the k SMALLEST-id vectors
    * (deterministic, like the oracle-checked q_kmeans_assign; cluster
    * labels are those ids, so with dense 0-based ids the labels are
    * 0..k-1), validated to yield exactly k seeds, then iterate
    * assign → quantized-exact mean a fixed number of rounds. Fixed
    * iteration count, not a convergence test: a fixpoint check is an
    * extra action per round, and training-pipeline k-means (IVF
    * codebooks, SemDeDup buckets) runs a known small budget anyway.
    * Each round is two shuffles (argmax rows, then |k|·dims partial
    * sums); `localCheckpoint` cuts the lineage so round r+1's plan
    * doesn't re-derive rounds 1..r (the iterative-plan lesson from the
    * CC loop). Empty clusters keep their previous centroid (standard
    * Lloyd fallback), expressed as a left join + coalesce.
    * Determinism: every step is exact (integer-quantized means, exact
    * double cosines, total-order argmax) ⇒ same result on any engine,
    * any partitioning — tested in TrainingSpec, not just claimed.
    */
  def kmeans(vectors: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Long = 1000000L, seeds: DataFrame = null): DataFrame = {
    // seeds: optional (cluster, cv) override — e.g. [[kmeansParInit]]
    // .select("cluster", "cv") for distance-aware seeding
    var cents = Option(seeds)
      .map(_.select(col("cluster").cast("long"), asDouble(col("cv")).as("cv")))
      .getOrElse(vectors.orderBy(col(idCol)).limit(k)
        .select(col(idCol).cast("long").as("cluster"),
          asDouble(col(vecCol)).as("cv")))
      .localCheckpoint(true)
    val nSeeds = cents.count()
    require(nSeeds == k,
      s"kmeans needs k=$k distinct seed vectors, found only $nSeeds rows")
    for (_ <- 1 to iters) {
      val assigned = assignNearest(vectors, cents, idCol, vecCol)
      val means = assigned
        .join(vectors.select(col(idCol).as("vec_id"), col(vecCol).as("v")),
          Seq("vec_id"))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "comp")))
        .withColumn("q", round(col("comp").cast("double") * lit(scale)).cast("long"))
        .groupBy("cluster", "pos")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .withColumn("m", col("sq").cast("double") / (col("n") * lit(scale)))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cluster"), transform(col("pm"), x => x("m")).as("mv"))
      cents = cents.join(means, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("mv"), col("cv")).as("cv"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Cluster-bucketed k-NN GRAPH — every vector's top-k neighbors
    * WITHIN its assigned cluster, the building block embedding-dedup
    * and diversity-selection pipelines construct before thresholding
    * ([[semDedup]] is exactly this graph collapsed to a keep/drop
    * verdict; keeping the ranked edges lets one corpus pass serve
    * multiple downstream thresholds and graph algorithms — feed the
    * edges to [[Dedup.connectedComponentsForest]] for cluster discovery).
    *
    * Scale shape: assignment is the broadcast argmax
    * ([[assignNearest]]); candidate edges come from the equality
    * self-join on the cluster id — Σ_c |cluster|² pairs, never
    * |corpus|² — and the per-vector top-k is a hash-partitioned
    * window over those bucketed pairs. A vector alone in its cluster
    * contributes no rows (an isolated graph node); multi-probe
    * recall, if needed, composes by unioning a second
    * [[assignNearest]] level, the IVF pattern.
    */
  def knnGraph(vectors: DataFrame, centroidTable: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "cluster", centVecCol: String = "cv"): DataFrame = {
    val assigned = assignNearest(vectors, centroidTable,
        idCol, vecCol, clusterCol, centVecCol)
      .join(vectors.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("v")), Seq("vec_id"))
      .withColumn("n", norm2(col("v")))
    val a = assigned.select(col("cluster"), col("vec_id"),
      col("v").as("av"), col("n").as("an"))
    val b = assigned.select(col("cluster"), col("vec_id").as("neighbor_id"),
      col("v").as("bv"), col("n").as("bn"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    a.join(b, Seq("cluster"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosinePre(dot(col("av"), col("bv")),
        col("an"), col("bn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id").as(idCol), col("cluster").as(clusterCol),
        col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Nearest-centroid assignment under SQUARED L2 — the metric
    * product quantization needs ([[Pq]]): PQ approximates the FULL
    * dot product, dot(q, x) = Σ_m dot(q_m, x_m) ≈ Σ_m dot(q_m, c_m),
    * and the sub-centroid minimizing the dot-approximation error is
    * the L2-nearest one (cosine would ignore subvector magnitude and
    * mis-assign). dist² = |x|² − 2·x·c + |c|², every term the same
    * engine-exact dot fold the cosine path uses, so the oracle
    * replays it token-for-token. Ties → lowest cluster id (min_by on
    * the (dist², cluster) struct — a total order). Broadcast
    * crossJoin + partial min_by, the assignNearest scale shape.
    */
  def assignNearestL2(vectors: DataFrame, centroidTable: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "cluster", centVecCol: String = "cv"): DataFrame = {
    val c = centroidTable.select(col(clusterCol).as("cluster"),
      asDouble(col(centVecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv")))
    val v = vectors.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", norm2(col("v")))
    v.crossJoin(broadcast(c))
      .withColumn("dist2",
        col("vn") - lit(2.0) * dot(col("v"), col("cv")) + col("cn"))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cluster"), col("dist2")),
        struct(col("dist2"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("best.cluster").as("cluster"),
        col("best.dist2").as("dist2"))
  }

  /** Lloyd k-means under squared L2 — [[kmeans]] with the assignment
    * metric swapped ([[assignNearestL2]]); seeds, the
    * integer-quantized exact mean update, and the empty-cluster
    * keep-previous fallback are identical, so the determinism
    * argument carries over unchanged. The [[Pq]] sub-space trainer.
    */
  def kmeansL2(vectors: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Long = 1000000L, seeds: DataFrame = null): DataFrame = {
    var cents = Option(seeds)
      .map(_.select(col("cluster").cast("long"), asDouble(col("cv")).as("cv")))
      .getOrElse(vectors.orderBy(col(idCol)).limit(k)
        .select(col(idCol).cast("long").as("cluster"),
          asDouble(col(vecCol)).as("cv")))
      .localCheckpoint(true)
    val nSeeds = cents.count()
    require(nSeeds == k,
      s"kmeansL2 needs k=$k distinct seed vectors, found only $nSeeds rows")
    for (_ <- 1 to iters) {
      val assigned = assignNearestL2(vectors, cents, idCol, vecCol)
      val means = assigned
        .join(vectors.select(col(idCol).as("vec_id"), col(vecCol).as("v")),
          Seq("vec_id"))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "comp")))
        .withColumn("q", round(col("comp").cast("double") * lit(scale)).cast("long"))
        .groupBy("cluster", "pos")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .withColumn("m", col("sq").cast("double") / (col("n") * lit(scale)))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cluster"), transform(col("pm"), x => x("m")).as("mv"))
      cents = cents.join(means, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("mv"), col("cv")).as("cv"))
        .localCheckpoint(true)
    }
    cents
  }

  /** One selected seed of [[kmeansParInit]]: selection rank (the
    * cluster id a downstream trainer uses), the seed's source vector
    * id, its attraction weight (points nearest to it among all
    * candidates), and the vector itself.
    */
  final case class KppSeed(cluster: Long, vec_id: Long, w: Long,
      cv: Seq[Double])

  /** DETERMINISTIC k-means‖ seeding (Bahmani et al., VLDB'12:
    * "Scalable K-Means++") — the distance-aware seeding [[kmeans]] /
    * [[kmeansL2]] currently skip (first-k-ids seeding is
    * oracle-trivial but distance-blind: when the data's true clusters
    * aren't uniformly represented among the first k rows, Lloyd
    * starts from crowded seeds and the IVF layout inherits the
    * imbalance). Sequential k-means++ is inherently k passes; k-means‖
    * OVERSAMPLES ~`oversample` candidates per round for a fixed few
    * rounds, then reduces the candidate set to k — each round is one
    * corpus pass, and the reduction runs on a model-sized set.
    *
    * Every stochastic step is DERANDOMIZED into exact integer
    * arithmetic so the whole chain replays hash-exact in the oracle
    * (the temperature-mixing/DSIR coin discipline):
    *
    *  - d²(x, C) comes from [[assignNearestL2]] (the engine-exact
    *    |x|²−2·x·c+|c|² fold), quantized q = round(2^scaleBits · d²)
    *    as a long, so the round's potential φ = Σq is an EXACT long
    *    (a raw double Σd² would be partition-order-dependent);
    *  - the per-point keep coin "p = min(1, ℓ·q/φ)" is the exact
    *    integer comparison h·φ < ℓ·q·2^60 with h the point's salted
    *    60-bit md5 — both products in decimal(38,0) (≤ ~2^102, exact;
    *    the oracle compares the same integers in HUGEINT). Points at
    *    d² = 0 (the candidates themselves, exact duplicates) can
    *    never re-enter: the right side is 0;
    *  - the weight of each candidate is its attraction count under
    *    the (d², id)-total-ordered assignment;
    *  - the final reduction is the deterministic greedy weighted
    *    farthest-first: start at the heaviest candidate (w DESC, id
    *    ASC), then repeatedly add the candidate maximizing
    *    w · min_{s∈chosen} round(2^scaleBits · d²(c, s)) (score DESC,
    *    id ASC) — weighted k-centers on the model-sized candidate
    *    set, the usual k-means‖ finisher with the weighted-k-means++
    *    coin replaced by its deterministic argmax.
    *
    * Scale shape: `rounds` corpus passes, each a broadcast-crossJoin
    * assignment against a ≤(1+ℓ·rounds)-row candidate table + one
    * exact-long agg + one model-sized collect of new candidates; the
    * reduction is driver-side over the bounded candidate set (the
    * codebook-sized-collect discipline). Returns the k seeds as
    * (cluster 0..k-1 in selection order, vec_id, w, cv) — `cv` slots
    * straight into [[kmeans]]/[[kmeansL2]]-style centroid tables and
    * [[graft.io.AnnLayout]] reps.
    */
  def kmeansParInit(vectors: DataFrame, k: Int, rounds: Int = 3,
      oversample: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding", scaleBits: Int = 20,
      salt: String = "kpp|"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val l = if (oversample > 0) oversample else 2 * k
    val s = 1L << scaleBits
    val two60 = 1L << 60
    val v = vectors.select(col(idCol).cast("long").as("vec_id"),
      asDouble(col(vecCol)).as("v"))
    def candDf(c: Seq[(Long, Seq[Double])]): DataFrame =
      c.toDF("cluster", "cv")
    // candidate 0: the smallest-id vector (deterministic start)
    var cands: Vector[(Long, Seq[Double])] =
      v.orderBy("vec_id").limit(1).as[(Long, Seq[Double])].collect().toVector
    require(cands.nonEmpty, "kmeansParInit needs a non-empty corpus")
    for (r <- 1 to rounds) {
      val d = assignNearestL2(v, candDf(cands), "vec_id", "v")
        .withColumn("q", round(col("dist2") * s).cast("long"))
        .localCheckpoint()
      val phi = d.agg(sum("q")).head().getLong(0)
      if (phi > 0) {
        // the kept set is bounded only IN EXPECTATION (~l per round:
        // sum of min(1, l*q/phi) <= l); a degenerate distance
        // distribution (q comparable to phi for many points) or an
        // oversized oversample could pass a corpus-sized set and OOM
        // the driver — unlike every other model-sized collect in this
        // module. Enforce a hard cap and REFUSE over it (silent
        // truncation would change the seed set the oracle replays):
        // 16l + 256 is >8x the expectation, astronomically unlikely
        // outside genuine degeneracy.
        val maxKept = 16 * l + 256
        val kept = d
          .withColumn("h",
            graft.functions.Sketches.md5Hash60(s"$salt$r|",
              col("vec_id").cast("string")))
          .filter(col("h").cast("decimal(38,0)") * lit(phi) <
            lit(l).cast("decimal(38,0)") * col("q") * lit(two60))
          .join(v, Seq("vec_id"))
          .select(col("vec_id"), col("v"))
          .limit(maxKept + 1)
          .as[(Long, Seq[Double])].collect()
        require(kept.length <= maxKept,
          s"k-means|| round $r kept > $maxKept candidates (expectation " +
            s"~$l) — degenerate distance distribution or oversample " +
            "too large; shrink oversample or pre-sample the corpus")
        cands = cands ++ kept.sortBy(_._1)
      }
    }
    require(cands.length >= k,
      s"k-means|| produced ${cands.length} candidates < k=$k — " +
        "raise oversample/rounds or shrink k")
    // attraction weights under the total-ordered assignment
    val w = assignNearestL2(v, candDf(cands), "vec_id", "v")
      .groupBy("cluster").count()
      .as[(Long, Long)].collect().toMap
    // greedy weighted farthest-first reduction (driver, model-sized);
    // d² here is the same |a|²−2ab+|b|² fold the engine/oracle use
    def fold(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def qd2(a: Seq[Double], b: Seq[Double]): Long =
      math.round((fold(a, a) - 2.0 * fold(a, b) + fold(b, b)) * s)
    val weighted = cands.map { case (id, cv) =>
      (id, cv, w.getOrElse(id, 0L)) }
    val first = weighted.minBy { case (id, _, cw) => (-cw, id) }
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    while (chosen.length < k) {
      val next = weighted
        .filter(c => !chosen.exists(_._1 == c._1))
        .map { case (id, cv, cw) =>
          (id, cv, cw, cw * chosen.iterator.map(s0 => qd2(cv, s0._2)).min) }
        .minBy { case (id, _, _, score) => (-score, id) }
      chosen += ((next._1, next._2, next._3))
    }
    spark.createDataFrame(chosen.zipWithIndex.map { case ((id, cv, cw), i) =>
      KppSeed(i.toLong, id, cw, cv) }.toSeq)
      .select(col("cluster"), col("vec_id"), col("w"), col("cv"))
  }

  /** 1-BIT SIGN SKETCH — the far end of the at-rest compression
    * spectrum (float32 256 B → q8 64 B → PQ ~12 B → THIS: 8 B for a
    * 64-dim vector, 32×): each dimension contributes its sign bit
    * (x > 0), packed 32 bits per int64 word (32 not 64 so the oracle's
    * `1::BIGINT << b` never touches the sign bit — both engines then
    * agree on xor/bit_count over plain positive longs). Hamming
    * distance between sign sketches is a cosine-angle proxy (SimHash
    * with axis-aligned hyperplanes — Charikar'02 applied to the raw
    * dims; for isotropic embeddings a random rotation would decorrelate
    * dims, but determinism and oracle-replay win here).
    *
    * The expression is a STATIC UNROLL — `dims` CASE terms summed into
    * ceil(dims/32) words — all codegen'd comparisons/adds, no HOF
    * lambda, mirrored token-for-token by the SQL oracle. Returns
    * (vec_id, word_idx, word) EXPLODED — scalar columns hash-compare
    * across engines without list-type coupling, and the long format is
    * directly joinable per word for the hamming fold.
    */
  def binSketch(vectors: DataFrame, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      thresholds: Seq[Double] = Nil): DataFrame = {
    val nWords = (dims + 31) / 32
    binWords(vectors, dims, idCol, vecCol, "vec_id", "sv", thresholds)
      .select(col("vec_id"),
        explode(array((0 until nWords).map(w =>
          struct(lit(w.toLong).as("word_idx"),
            element_at(col("sv"), w + 1).as("word"))): _*)).as("s"))
      .select(col("vec_id"), col("s.word_idx"), col("s.word"))
  }

  /** Per-dimension QUANTIZED means for centered sketching — the
    * integer-exact mean recipe of [[kmeans]] (sum of round(x·10⁶)
    * longs, divided once at the end): a per-dim float sum would be
    * partition-order-dependent; the quantized long sum is exact, so
    * the derived thresholds (and every bit cut on them) replay
    * identically in the oracle. Returns the dims-sized threshold
    * vector — model-sized driver data by construction.
    *
    * Why center: [[binSketch]]'s raw cut at 0 assumes each dimension
    * is sign-balanced. Real embedding models emit dims with strong
    * non-zero means (anisotropy); a dim whose values are all positive
    * contributes a CONSTANT bit — zero hamming information, sketch
    * capacity silently shrinks (measured collapse + recovery in
    * Probe bin_recall_biased). Cutting at the per-dim mean restores
    * ~50/50 bits with one corpus agg pass.
    */
  def binMeans(vectors: DataFrame, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Double] = {
    require(dims > 0, "binMeans needs the vector dimensionality")
    val v = vectors.select(asDouble(col(vecCol)).as("v"))
    val aggs = (0 until dims).map { d =>
      sum(round(element_at(col("v"), d + 1) * 1000000.0).cast("long"))
        .as(s"s$d")
    } :+ count(lit(1)).as("n")
    val row = v.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(dims)
    require(n > 0, "binMeans needs a non-empty corpus")
    (0 until dims).map(d => row.getLong(d).toDouble / (n * 1000000L).toDouble)
  }

  /** The packed form of [[binSketch]]: (outId, outVec array<long> of
    * ceil(dims/32) 32-bit-packed sign words). `thresholds` (empty =
    * cut at 0) holds per-dim cut points — pass [[binMeans]] for
    * centered sketching.
    */
  private def binWords(vectors: DataFrame, dims: Int, idCol: String,
      vecCol: String, outId: String, outVec: String,
      thresholds: Seq[Double] = Nil): DataFrame = {
    require(dims > 0, "binSketch needs the vector dimensionality")
    require(thresholds.isEmpty || thresholds.length == dims,
      s"thresholds size ${thresholds.length} != dims $dims")
    val nWords = (dims + 31) / 32
    val words = (0 until nWords).map { w =>
      (0 until math.min(32, dims - w * 32)).map { b =>
        val d = w * 32 + b
        val cut = if (thresholds.isEmpty) lit(0f) else lit(thresholds(d))
        when(element_at(col(vecCol), d + 1) > cut,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    vectors.select(col(idCol).cast("long").as(outId),
      array(words: _*).as(outVec))
  }

  /** DOMINANT PRINCIPAL DIRECTION — derandomized integer power
    * iteration on the exact integer scatter matrix (the anisotropy
    * DIAGNOSIS behind [[binMeans]]'s fix: mean-centering repairs
    * constant bits, PC1 tells you which directions still carry the
    * variance — split axes for spill trees, whitening priorities,
    * "is this embedding space collapsed?" checks).
    *
    * Exactness chain (everything replays in the oracle):
    *  - quantize q_i = round(x_i·2^qBits) per component (long);
    *  - ONE corpus pass aggregates the raw scatter S[i,j] = Σ q_i·q_j
    *    and the sums s_i = Σ q_i — exact longs (per-row cost is
    *    dims² products, map-side partial agg collapses each partition
    *    to dims² rows, so the shuffle is model-sized at any corpus);
    *  - the centered scatter M = n·S − s·sᵀ is formed DRIVER-side in
    *    BigInt (dims² entries, model-sized) — same eigenvectors as
    *    the covariance (positive scaling);
    *  - power iteration: v₀ = e_j at the max-diagonal j (min j on
    *    ties); each round w = M·v in BigInt, then renormalize
    *    v = (w·2^20)/max|w| with division TRUNCATING TOWARD ZERO —
    *    BigInt `/` and DuckDB HUGEINT `//` agree on negatives
    *    (both -7/2 = -3), which is what makes the rounds replayable.
    *
    * Overflow headroom (engine side, before BigInt): each S[i,j]
    * partial sum is ≤ n·2^(2·qBits)·max|x|² — at the default
    * qBits=10 that bounds n·max|x|² < 2^42 (~4e12 rows of unit-range
    * embeddings); shrink qBits for bigger corpora or pre-sample (PC1
    * is a statistic — a uniform sample estimates it; this operator
    * is the exact small/medium-corpus face).
    *
    * Returns (pos, v) — dims rows, components scaled to
    * max|v| = 2^20. Sign is pinned by v₀ and truncation, so the
    * result is deterministic, not just determined-up-to-sign.
    */
  def pc1Power(vectors: DataFrame, dims: Int, iters: Int = 3,
      qBits: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims > 0 && iters > 0, "pc1Power needs dims > 0, iters > 0")
    require(qBits > 0 && qBits < 20, "qBits must leave product headroom")
    val spark = vectors.sparkSession
    import spark.implicits._
    val s = 1L << qBits
    val q = vectors.select(transform(asDouble(col(vecCol)),
      x => round(x * s).cast("long")).as("q"))
    val n = q.count()
    require(n > 0, "pc1Power needs a non-empty corpus")
    val qi = q.select(col("q"), posexplode(col("q")).as(Seq("i", "qi")))
    val sums = qi.groupBy("i").agg(sum("qi").as("si"))
      .as[(Int, Long)].collect().toMap
    val scat = qi.select(col("i"), col("qi"),
        posexplode(col("q")).as(Seq("j", "qj")))
      .groupBy("i", "j").agg(sum(col("qi") * col("qj")).as("sij"))
      .as[(Int, Int, Long)].collect()
    // centered scatter in BigInt; power iteration — all model-sized
    val m = Array.ofDim[BigInt](dims, dims)
    for (i <- 0 until dims; j <- 0 until dims) m(i)(j) = BigInt(0)
    scat.foreach { case (i, j, sij) =>
      m(i)(j) = BigInt(n) * BigInt(sij) -
        BigInt(sums.getOrElse(i, 0L)) * BigInt(sums.getOrElse(j, 0L))
    }
    val j0 = (0 until dims).minBy(i => (-m(i)(i), i))
    var v = Array.tabulate(dims)(i => if (i == j0) BigInt(1) else BigInt(0))
    val scale = BigInt(1L << 20)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dims)(i =>
        (0 until dims).map(j => m(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max
      require(mx > 0, "pc1Power: zero matvec — degenerate (constant) corpus")
      v = w.map(x => x * scale / mx) // BigInt /: truncates toward zero
    }
    (0 until dims).map(i => (i.toLong, v(i).toLong))
      .toDF("pos", "v")
  }

  /** Hamming-shortlist ANN over [[binSketch]] sketches with exact
    * cosine rerank — the 32×-compressed first pass: queries' sketches
    * broadcast against the corpus sketch table (8 B/vector read
    * instead of 256 B — at 100 TB the scan that fits in page cache),
    * per-pair hamming = Σ_words bit_count(xor) as an EXACT long,
    * shortlist = top-`shortlist` by (hamming ASC, id ASC), then the
    * exact-double cosine rerank reads the RAW vectors for shortlist
    * rows only (id-equality join — the selective probe). Same
    * two-phase contract as [[graft.ops.Pq.knnRerank]]: the sketch
    * decides WHERE to look, exact arithmetic decides the answer, and
    * the whole chain replays in the oracle (integer hamming, exact
    * cosine, total-order ties).
    */
  def knnBinary(queries: DataFrame, corpus: DataFrame, dims: Int, k: Int,
      shortlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      thresholds: Seq[Double] = Nil): DataFrame = {
    // The corpus sketch goes through an RDD round-trip ON PURPOSE:
    // whole-stage codegen DEFERS the 64-CASE word projection to its
    // first use, which after fusing with the nested-loop join is
    // INSIDE the per-broadcast-row loop — the sketch gets recomputed
    // |Q| times per corpus row (measured 20.4 s vs 1.6 s on 10M
    // pairs, Probe bin_recall). The barrier materializes each sketch
    // once per corpus row and the join stage reads 16-byte rows. At
    // production scale the barrier is moot: the corpus sketch is
    // AT-REST data (q_ann_bin's 8 B/vector table), scanned, not
    // recomputed per query. The broadcast query side needs no
    // barrier — its projection runs once at broadcast time.
    val cs0 = binWords(corpus, dims, idCol, vecCol, "neighbor_id", "sv",
      thresholds)
    val cs = corpus.sparkSession.createDataFrame(cs0.rdd, cs0.schema)
    val qs = binWords(queries, dims, idCol, vecCol, "query_id", "qv",
      thresholds)
    // STATIC per-word unroll (nWords is known from dims) — keeps the
    // |Q|·|C| hamming inside whole-stage codegen; the zip_with/
    // aggregate HOF formulation is an interpreted lambda per pair
    val nWords = (dims + 31) / 32
    val hammingExpr = (0 until nWords).map { w =>
      bit_count(element_at(col("qv"), w + 1)
        .bitwiseXOR(element_at(col("sv"), w + 1))).cast("long")
    }.reduce(_ + _)
    val ham = cs.crossJoin(broadcast(qs))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hammingExpr)
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id"))
    val short = ham.withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= shortlist)
      .select("query_id", "neighbor_id", "hamming")
    val qraw = queries.select(col(idCol).cast("long").as("query_id"),
        asDouble(col(vecCol)).as("qraw"))
      .withColumn("qn", norm2(col("qraw")))
    val craw = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        asDouble(col(vecCol)).as("craw"))
      .withColumn("cn", norm2(col("craw")))
    val rer = short.join(broadcast(qraw), Seq("query_id"))
      .join(craw, Seq("neighbor_id"))
      .withColumn("cosine",
        cosinePre(dot(col("qraw"), col("craw")), col("qn"), col("cn")))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("hamming"), col("cosine"))
  }

  /** Top-`probes` cluster assignment — [[assignNearest]] widened to
    * keep the `probes` best centroids per vector (same total order:
    * cosine DESC, cluster ASC; probe_rank 1 row == assignNearest).
    * The multi-probe primitive: IVF probing, multi-probe graph
    * construction, and soft-assignment diagnostics all read from it.
    * Same broadcast-crossJoin shape as assignNearest — the widening
    * is a window over the already-materialized per-(vector, centroid)
    * cosines, no extra corpus pass.
    */
  def assignNearestMulti(vectors: DataFrame, centroidTable: DataFrame,
      probes: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "cluster", centVecCol: String = "cv"): DataFrame = {
    val c = centroidTable.select(col(clusterCol).as("cluster"),
      asDouble(col(centVecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv")))
    val v = vectors.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", norm2(col("v")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("cluster"))
    v.crossJoin(broadcast(c))
      .withColumn("cosine", cosinePre(dot(col("v"), col("cv")), col("vn"), col("cn")))
      .withColumn("probe_rank", row_number().over(w))
      .filter(col("probe_rank") <= probes)
      .select(col("vec_id"), col("cluster"), col("probe_rank"), col("cosine"))
  }

  /** MULTI-PROBE k-NN graph — [[knnGraph]] with the cross-cluster
    * blind spot closed: single-probe graphs cannot see a true
    * neighbor whose cluster differs from the vector's own (a pair
    * straddling a cluster boundary), which costs edge recall exactly
    * in the overlapping-cluster regime where embedding corpora live.
    * Here each vector PROBES its `probes` nearest clusters and takes
    * candidates from vectors PRIMARY-assigned there — the IVF query
    * discipline applied to graph construction. Measured (PERF.md
    * round-11 knn_graph_recall): on planted clusters matched by the
    * trained codebook, probe 1 already reads edge recall 1.0 (no
    * boundary pairs — multi-probe buys nothing); on STRUCTURELESS
    * data, where every neighborhood straddles cell boundaries, edge
    * recall climbs 0.22 → 0.33 → 0.49 at probes 1/2/4 — each probe
    * level trades candidate volume (`probes`× the single-probe join)
    * for boundary edges no single-probe graph can see.
    *
    * Scale shape: candidate pairs are Σ_c |probers(c)|·|members(c)| —
    * `probes`× the single-probe join, still never |corpus|² — and
    * need NO dedup pass: a pair (v, u) can arise only once, because
    * u has exactly ONE primary cluster and v's probed clusters are
    * distinct (a dropDuplicates here measured 3× the whole query —
    * it shuffled every candidate WITH its vector payloads for
    * duplicates that cannot exist). probes=1 reproduces [[knnGraph]]
    * exactly (TrainingSpec pins it). Output schema == knnGraph's,
    * cluster = the PRIMARY assignment.
    */
  def knnGraphMultiProbe(vectors: DataFrame, centroidTable: DataFrame,
      k: Int, probes: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", clusterCol: String = "cluster",
      centVecCol: String = "cv"): DataFrame = {
    val multi = assignNearestMulti(vectors, centroidTable, probes,
      idCol, vecCol, clusterCol, centVecCol)
    val data = vectors.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm2(col("v")))
    val primary = multi.filter(col("probe_rank") === 1)
      .select(col("vec_id"), col("cluster"))
    val a = multi.select(col("vec_id"), col("cluster"))
      .join(data, Seq("vec_id"))
      .select(col("cluster"), col("vec_id"), col("v").as("av"),
        col("n").as("an"))
    val b = primary.join(data, Seq("vec_id"))
      .select(col("cluster"), col("vec_id").as("neighbor_id"),
        col("v").as("bv"), col("n").as("bn"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    a.join(b, Seq("cluster"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosinePre(dot(col("av"), col("bv")),
        col("an"), col("bn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(primary.withColumnRenamed("cluster", "_pc"), Seq("vec_id"))
      .select(col("vec_id").as(idCol), col("_pc").as(clusterCol),
        col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup at scale = cluster
    * first, compare ONLY within a cluster. Assignment via
    * [[assignNearest]]; then an equality self-join on the cluster id
    * generates candidate pairs and a vector is dropped iff a
    * smaller-id cluster-mate sits at cosine ≥ τ — the same
    * keep-the-first verdict contract as Dedup's `applyVerdicts`
    * lineage. Returns (vec_id, cluster, keep).
    *
    * Scale shape: the quadratic term is bounded per cluster — k is
    * chosen so |cluster| ≈ |corpus|/k keeps the in-bucket join flat,
    * and a runaway cluster is pre-pruned with Sample.stratifiedHash
    * or re-split by a second assignNearest level (an IVF-style coarse
    * quantizer tree), both composable from these primitives. Compare
    * q_dedup_embed (LSH-bucketed near-dup): same join discipline,
    * learned buckets instead of sign bits.
    */
  def semDedup(vectors: DataFrame, centroidTable: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", clusterCol: String = "cluster",
      centVecCol: String = "cv"): DataFrame = {
    val assigned = assignNearest(vectors, centroidTable,
      idCol, vecCol, clusterCol, centVecCol)
      .join(vectors.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("v")), Seq("vec_id"))
      .withColumn("n", norm2(col("v")))
    val a = assigned.select(col("cluster"), col("vec_id").as("i"),
      col("v").as("av"), col("n").as("an"))
    val b = assigned.select(col("cluster"), col("vec_id").as("j"),
      col("v").as("bv"), col("n").as("bn"))
    val dropped = a.join(b, Seq("cluster")).filter(col("i") < col("j"))
      .withColumn("pc", cosinePre(dot(col("av"), col("bv")), col("an"), col("bn")))
      .filter(col("pc") >= threshold)
      .select(col("j").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("_drop", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        not(coalesce(col("_drop"), lit(false))).as("keep"))
  }

  /** Incremental SemDeDup — the new-batch-vs-corpus face of
    * [[semDedup]], i.e. the q_dedup_incr band-key-postings pattern
    * lifted to embedding space: both sides assign to the shared
    * codebook via [[assignNearest]], and a NEW vector is dropped iff
    * some CORPUS cluster-mate sits at cosine ≥ τ. Candidate pairs come
    * from the equality join on the cluster id alone, so the pair count
    * is bounded by Σ_c |new_c|·|corpus_c| — cluster occupancy, never
    * |new|·|corpus| — and the corpus is touched map-only plus one
    * keyed join. There is NO corpus self-join: corpus-vs-corpus dedup
    * is [[semDedup]]'s offline job; this is the per-ingest delta pass
    * — [[Dedup.lshBandKeys]]' incremental shape, with cluster
    * postings playing the band-key role. Returns (vec_id, cluster,
    * keep) for the NEW side only.
    */
  def semDedupIncremental(newBatch: DataFrame, corpus: DataFrame,
      centroidTable: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "cluster", centVecCol: String = "cv"): DataFrame = {
    def assigned(df: DataFrame) =
      assignNearest(df, centroidTable, idCol, vecCol, clusterCol, centVecCol)
        .join(df.select(col(idCol).as("vec_id"),
          asDouble(col(vecCol)).as("v")), Seq("vec_id"))
        .withColumn("n", norm2(col("v")))
    val aN = assigned(newBatch)
    val dropped = aN
      .select(col("cluster"), col("vec_id"), col("v").as("av"), col("n").as("an"))
      .join(assigned(corpus)
        .select(col("cluster"), col("v").as("bv"), col("n").as("bn")),
        Seq("cluster"))
      .withColumn("pc", cosinePre(dot(col("av"), col("bv")), col("an"), col("bn")))
      .filter(col("pc") >= threshold)
      .select(col("vec_id")).distinct()
    aN.join(dropped.withColumn("_drop", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        not(coalesce(col("_drop"), lit(false))).as("keep"))
  }

  /** Per-label centroids in long form — one row per (label, dim):
    * the building block for IVF index maintenance, cluster-quality
    * monitoring, and embedding-drift checks.
    *
    * Exactness scheme: a cross-row SUM of floats is order-dependent in
    * IEEE arithmetic (different partitionings → different low bits →
    * hash-compare failures), so components are first quantized to
    * integers — q = round(v·scale) as int64, identical in any engine
    * since the product and round are single deterministic double ops —
    * then summed exactly, with ONE double division at the end
    * (sum / (n·scale), both sides exact integers well under 2^53).
    * The quantization error (≤ 0.5/scale per component) is explicit
    * and documented rather than hidden in float-sum nondeterminism.
    *
    * Scale shape: posexplode → partial-agg sum/count → final agg.
    * One shuffle whose key space is |labels|·dims rows — independent
    * of corpus size; the explode itself is map-side.
    */
  def centroids(vectors: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding", scale: Long = 1000000L): DataFrame =
    vectors
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("q", round(col("v").cast("double") * lit(scale)).cast("long"))
      .groupBy("label", "pos")
      .agg(sum(col("q")).as("_sq"), count(lit(1)).as("n"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        (col("_sq").cast("double") / (col("n") * lit(scale))).as("centroid"),
        col("n"))
}
