package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph algorithms over edge tables — the layer above
  * [[Dedup.connectedComponentsForest]]'s cluster discovery: once a corpus
  * has a similarity graph ([[Similarity.knnGraph]] /
  * [[Similarity.knnGraphMultiProbe]] edges), centrality turns it
  * into SELECTION signal — rank documents by how linked-to they are
  * inside their neighborhood and keep the hubs (or drop them:
  * boilerplate detection), the link-analysis face of
  * curation next to the quality classifier's content face.
  */
object GraphOps {

  /** Deterministic integer PageRank — the [[Similarity.kmeans]]
    * quantization recipe applied to power iteration, so the ENTIRE
    * iterated computation is exact long arithmetic and the oracle
    * replays it unrolled (q_pagerank hash-matches):
    *
    *  - ranks are fixed-point longs, one unit = 2^-scaleBits of a
    *    unit rank; every node starts at exactly 1.0 (r = 2^scaleBits);
    *  - an iteration sends each node's rank equally along its
    *    out-edges as floorDiv(r, outdeg) — exact integer division,
    *    identical on any engine (all quantities non-negative, so
    *    floor == truncate == SQL integer division);
    *  - the damped update is
    *    r' = floorDiv((dampDen−dampNum)·2^scaleBits, dampDen)
    *       + floorDiv(dampNum · Σ inbound, dampDen)
    *    with the inbound sum an exact long aggregation —
    *    associative, commutative, partition-order-invariant;
    *  - floor division leaks ≤ 1 unit per edge per iteration and a
    *    dangling node's mass simply vanishes — both sub-rounding
    *    effects (≤ |E|·2^-scaleBits per round, invisible at
    *    scaleBits = 32) accepted as the price of cross-engine
    *    exactness, the same trade every quantized kernel here makes.
    *
    * Scale shape: per iteration ONE join of the edge table with the
    * node-rank table (shuffle on src), one keyed sum (shuffle on
    * dst), one left join back to nodes — linear in |E|, the standard
    * distributed power-iteration plan; state is the |V|-row rank
    * table, localCheckpointed per round so plans don't nest (the
    * kmeans/CC iterative-plan lesson). Edges are treated as given
    * (a duplicated edge carries double weight — dedupe upstream if
    * that is not intended).
    *
    * Returns (id, r) — fixed-point rank per node.
    */
  def pageRank(edges: DataFrame, iters: Int,
      dampNum: Int = 85, dampDen: Int = 100, scaleBits: Int = 32,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen)
    // Headroom contract: total rank mass is ≤ |V|·2^scaleBits (damping
    // only shrinks it), and a single hub's inbound sum is bounded by
    // that total — so ranks are exact iff |V| < 2^(63−scaleBits)
    // (≈ 2·10^9 nodes at the default 32; pick scaleBits ≤ 24 for a
    // 10^11-node web graph). The damped update below is arranged so
    // its intermediates never exceed the inbound sum itself — the
    // mass bound is the ONLY overflow surface.
    require(scaleBits > 0 && scaleBits < 40, "rank units must leave sum headroom")
    val s = 1L << scaleBits
    // LAZY initial checkpoints (round 17): eager ones cost one
    // driver-blocking job each before the loop starts; lazy blocks
    // materialize inside iteration 1's jobs instead, same cut
    // lineage. The PER-ITERATION checkpoint below must stay EAGER:
    // old.unpersist() runs right after it, and a lazy new-r would
    // still depend on old's blocks when they are dropped.
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).localCheckpoint(false)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(false)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val base = Math.floorDiv((dampDen - dampNum).toLong * s, dampDen.toLong)
    var r = nodes.select(col("id"), lit(s).as("r"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      val ins = e.join(r, e("src") === r("id"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("ins"))
      val old = r
      // floorDiv(dampNum · ins, dampDen) computed WITHOUT the raw
      // product: for a ≥ 0, floor(n·a/d) = (a div d)·n + ((a mod d)·n)
      // div d exactly (write a = q·d + m; q·n is integral). The naive
      // dampNum * ins overflows Long once a hub's inbound sum nears
      // 2^63/dampNum — reachable at |V| ≈ 10^8 with scaleBits = 32,
      // since total mass is bounded by |V|·2^scaleBits — and Spark's
      // non-ANSI multiply wraps silently. The split form's
      // intermediates never exceed max(ins, result), so ranks stay
      // exact whenever |V|·2^scaleBits itself fits in a Long (the
      // bound the scaleBits require below documents).
      val insL = s"coalesce(ins, CAST(0 AS BIGINT))"
      r = nodes.join(ins, nodes("id") === ins("dst"), "left")
        .select(col("id"),
          (lit(base) + expr(
            s"($insL div $dampDen) * $dampNum" +
              s" + (($insL % $dampDen) * $dampNum) div $dampDen"))
            .as("r"))
        .localCheckpoint(true)
      old.unpersist()
      ()
    }
    r
  }
}
