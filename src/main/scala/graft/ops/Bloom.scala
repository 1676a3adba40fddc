package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership prefilters — the standard way a 100 TB
  * pipeline makes its exclusion joins cheap (decontamination against a
  * benchmark set, bad-URL / opt-out lists, already-ingested keys).
  *
  * Built on Spark's OWN runtime-filter machinery rather than a Scala
  * UDF: [[BloomFilterAggregate]] (`bloom_filter_agg`) builds the
  * sketch as a distributed partial aggregate, and
  * [[BloomFilterMightContain]] probes it with whole-stage codegen —
  * the exact pair Catalyst injects for adaptive runtime filtering,
  * driven here explicitly because the filter side is a *semantic*
  * exclusion set, not a join-pruning heuristic.
  *
  * Exactness contract: a Bloom filter has NO false negatives, so
  * `mightContain = false` proves absence. Every operator here uses the
  * sketch only to SPLIT the work — rows failing the probe are resolved
  * immediately, rows passing it (true hits + ~fpp of the rest) go
  * through the exact join — so results are bit-identical to the
  * un-accelerated plan and share its DuckDB oracle.
  *
  * Scale shape: the sketch is a bit array (~1.2 MB per million keys at
  * 1 % fpp) embedded in the plan as a literal — orders of magnitude
  * smaller than broadcasting the key set itself as a hash relation —
  * and the probe is a map-side filter, so the only shuffle left is the
  * candidate slice. For sketches beyond tens of MB, build per key
  * range and union, or fall back to a shuffled join; the crossover is
  * recorded in PERF.md.
  */
object Bloom {

  /** Aggregate `key` into a serialized Bloom filter sized for
    * `expectedItems` at `fpp`. One distributed partial-agg job; None
    * when `df` is empty (no sketch to probe). Keys are xxhash64-folded
    * to longs first — the same convention Spark's injected runtime
    * filters use, making build and probe hash-compatible by
    * construction.
    */
  def build(df: DataFrame, key: Column, expectedItems: Long,
      fpp: Double = 0.01): Option[Array[Byte]] = {
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(key)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    Option(df.select(ColumnBridge.column(agg)).head().get(0))
      .map(_.asInstanceOf[Array[Byte]])
  }

  /** Probe column: true when `key` MIGHT be in the sketch (false
    * proves absence). `None` (empty build side) probes to false.
    */
  def mightContain(bloom: Option[Array[Byte]], key: Column): Column =
    bloom.fold(lit(false))(bytes =>
      ColumnBridge.column(BloomFilterMightContain(
        Literal(bytes), ColumnBridge.expression(xxhash64(key)))))

  /** Bitwise union of two sketches — incremental exclusion-list
    * maintenance: yesterday's sketch ∪ today's delta without
    * re-aggregating the full history. Both sides MUST have been built
    * with the same (expectedItems, fpp) sizing (same bit width and
    * hash count — [[org.apache.spark.util.sketch.BloomFilter]] refuses
    * incompatible merges); the union's fpp degrades gracefully with
    * total inserted keys, and no-false-negatives is preserved, so
    * every exactness contract above carries over.
    */
  def union(a: Option[Array[Byte]], b: Option[Array[Byte]])
      : Option[Array[Byte]] = (a, b) match {
    case (Some(x), Some(y)) =>
      val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(x))
      fa.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(y)))
      val out = new java.io.ByteArrayOutputStream()
      fa.writeTo(out)
      Some(out.toByteArray)
    case (x, None) => x
    case (None, y) => y
  }

  /** Exact left-anti join (`big` rows whose `bigKey` has no match in
    * `small`) with a Bloom fast path: rows failing the probe are
    * PROVABLY unmatched and bypass the join entirely; only the
    * might-contain slice enters the exact anti join that clears the
    * false positives.
    *
    * `big` is scanned twice (both map-only) — the deliberate trade at
    * scale, where scans are cheap and the win is that the shuffled
    * anti join sees the candidate slice instead of the full corpus.
    * An empty `small` short-circuits to `big` unchanged.
    */
  def antiJoin(big: DataFrame, bigKey: Column, small: DataFrame,
      smallKey: Column, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    require(!big.columns.contains("_bloom_key"),
      "antiJoin reserves the internal column name _bloom_key; " +
        "rename or drop it on the big side first")
    build(small, smallKey, expectedItems, fpp) match {
      case None => big
      case bloom @ Some(_) =>
        val probe = mightContain(bloom, bigKey)
        val keys = small.select(smallKey.as("_bloom_key")).distinct()
        big.filter(!probe).unionByName(
          big.filter(probe)
            .join(keys, bigKey === col("_bloom_key"), "left_anti"))
    }
  }
}
