package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Bloom

/** Pins for the Bloom prefilter family: the no-false-negative
  * exactness contract (the reason the accelerated queries can share
  * their un-accelerated twins' oracles), the candidate-split
  * selectivity that is the whole point at scale, and the empty/null
  * edges.
  */
class BloomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("no false negatives: every built key probes true") {
    val keys = (1 to 5000).map(i => s"key-$i")
    val df = keys.toDF("k")
    val bloom = Bloom.build(df, col("k"), expectedItems = 5000)
    assert(bloom.isDefined)
    val missed = df.filter(!Bloom.mightContain(bloom, col("k"))).count()
    assert(missed == 0L, "a Bloom filter must never miss a built key")
  }

  test("false-positive rate stays near the sized fpp") {
    val built = (1 to 10000).map(i => s"in-$i").toDF("k")
    val bloom = Bloom.build(built, col("k"), expectedItems = 10000, fpp = 0.01)
    val absent = (1 to 20000).map(i => s"out-$i").toDF("k")
    val fp = absent.filter(Bloom.mightContain(bloom, col("k"))).count()
    // sized for 1 %; 5 % ceiling keeps the test stable across hash luck
    assert(fp <= 1000L, s"false-positive count $fp way over the sized fpp")
  }

  test("antiJoin is exactly left_anti, and the sketch splits the work") {
    // 60k big keys, 10k exclusions overlapping half of them
    val big = spark.range(0, 60000).select(
      concat(lit("k"), col("id")).as("k"), (col("id") % 7).as("payload"))
    val small = spark.range(0, 20000, 2).select(concat(lit("k"), col("id")).as("bad"))
    val expected = big.join(small, col("k") === col("bad"), "left_anti")
    val got = Bloom.antiJoin(big, col("k"), small, col("bad"), expectedItems = 10000)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // the scale claim: only matches + ~fpp of the rest enter the exact
    // join — the candidate slice must be close to the true-match count
    val bloom = Bloom.build(small, col("bad"), expectedItems = 10000)
    val candidates = big.filter(Bloom.mightContain(bloom, col("k"))).count()
    assert(candidates >= 10000L, "every true match must be a candidate")
    assert(candidates <= 12500L,
      s"candidate slice $candidates should be ~matches + fpp*rest, not the corpus")
  }

  test("empty exclusion side short-circuits; null keys survive the anti join") {
    val big = Seq(Some("a"), Some("b"), None).toDF("k")
    val empty = spark.emptyDataset[String].toDF("bad")
    assert(Bloom.build(empty, col("bad"), 100).isEmpty)
    assert(Bloom.antiJoin(big, col("k"), empty, col("bad"), 100).count() == 3)
    // SQL anti-join semantics: a null key never equals anything ⇒ kept
    val small = Seq("a").toDF("bad")
    val got = Bloom.antiJoin(big, col("k"), small, col("bad"), 100)
      .as[Option[String]].collect().toSet
    assert(got == Set(Some("b"), None))
  }

  test("union merges sketches losslessly (incremental exclusion lists)") {
    val day1 = (1 to 3000).map(i => s"old-$i").toDF("k")
    val day2 = (1 to 3000).map(i => s"new-$i").toDF("k")
    // identical sizing on both builds — the merge-compatibility rule
    val merged = Bloom.union(
      Bloom.build(day1, col("k"), expectedItems = 10000),
      Bloom.build(day2, col("k"), expectedItems = 10000))
    assert(merged.isDefined)
    val all = day1.unionByName(day2)
    assert(all.filter(!Bloom.mightContain(merged, col("k"))).count() == 0,
      "union must preserve no-false-negatives over BOTH builds")
    // union with an empty side is the identity
    val one = Bloom.build(day1, col("k"), 10000)
    assert(Bloom.union(one, None) == one && Bloom.union(None, one) == one)
    // and the merged sketch still rejects most absent keys
    val absent = (1 to 5000).map(i => s"none-$i").toDF("k")
    assert(absent.filter(Bloom.mightContain(merged, col("k"))).count() < 500)
  }

  test("probe stays inside whole-stage codegen (no interpreted fallback)") {
    val bloom = Bloom.build(Seq("x").toDF("k"), col("k"), 100)
    // range (not a local relation) so the filter can't constant-fold away
    val plan = spark.range(10).select(concat(lit("k"), col("id")).as("k"))
      .filter(Bloom.mightContain(bloom, col("k")))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks an operator inside a WholeStageCodegen span
    assert("""\*\(\d+\) Filter might_contain""".r.findFirstIn(plan).isDefined, plan)
  }
}
