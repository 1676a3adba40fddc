package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

class SkewCcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Driver-side disjoint-set: the independent ground truth, every
    * node labeled with its component's min id.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // second pass: full path compression to the component min
    nodes.map(x => x -> find(x)).sortBy(_._1)
  }

  test("connected components: non-convergence at maxIter throws") {
    // a 4-chain needs more than one star round to settle
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("i", "j")
    assertThrows[IllegalStateException](
      Dedup.connectedComponentsStar(pairs, maxIter = 1).collect())
  }

  test("connected components: min label per component, chains converge") {
    // components: {1,2,3,4} (chain), {10,11}, pair graph only
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val want = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L))
    assert(labelsOf(Dedup.connectedComponentsStar(pairs)) == want)
    assert(labelsOf(Dedup.connectedComponentsForest(pairs)) == want)
  }

  test("AQE splits a skewed sort-merge join partition at runtime (skew=true)") {
    // the one skew path: AQE detects the hot key's oversized
    // partition and splits it
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val facts = spark.range(200000)
        .selectExpr("id", "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id % 97) END AS k")
      val dim = spark.range(98).selectExpr("concat('k', id) AS k", "id AS w")
        .union(spark.range(1).selectExpr("'hot' AS k", "id AS w"))
      val joined = facts.join(dim, "k")
      // execute THIS QueryExecution (count() would wrap a new one and
      // leave joined's AQE plan unfinalized)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected a skew-split SMJ in:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("partitioned layout: directory pruning engages, one file per value") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = spark.range(3000).selectExpr(
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END AS part",
      "id AS ts", "id * 2 AS v")
    graft.io.Bucketing.writePartitioned(df, dir, Seq("part"), Seq("ts"))
    val back = spark.read.parquet(dir).filter(col("part") === "b")
    assert(back.count() == 1000)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("part#"),
      s"expected the partition predicate in PartitionFilters:\n$scan")
    // small-files guard: the repartition coalesces each value into ONE
    // task -> one parquet file per partition directory
    val files = new java.io.File(dir, "part=b")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected one coalesced file, got $files")
  }

  test("star-contraction CC matches min-label on random graphs") {
    val fixed = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
    assert(labelsOf(Dedup.connectedComponentsStar(fixed.toDF("i", "j"))) ==
      unionFind(fixed))
    val rnd = new scala.util.Random(42)
    val rpairs = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    assert(labelsOf(Dedup.connectedComponentsStar(rpairs.toDF("i", "j"))) ==
      unionFind(rpairs))
  }

  test("CC property: both algorithms match a union-find reference model") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(40)
      val edges = Seq.fill(n)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(p => p._1 != p._2)
      val want = unionFind(edges)
      val df = edges.toDF("i", "j")
      for (impl <- Seq(Dedup.connectedComponentsStar(df),
          Dedup.connectedComponentsForest(df)))
        assert(labelsOf(impl) == want, s"seed=$seed")
    }
  }

  test("forest CC: multi-partition coalesce tree merges cross-partition components") {
    // a 300-node chain spread over 24 partitions with a tiny fanIn so
    // the merge tree is several levels deep — every cross-partition
    // seam must still collapse to one component rooted at the min id
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("i", "j")
      .repartition(24)
    val labels = Dedup.connectedComponentsForest(chain, fanIn = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 300 && labels.forall(_._2 == 1L))
    // and a mixed multi-component graph across partitions
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2)
    assert(labelsOf(Dedup.connectedComponentsForest(edges.toDF("i", "j").repartition(16), fanIn = 4)) ==
      unionFind(edges))
  }

  test("star-contraction CC converges in O(log n) rounds on a high-diameter chain") {
    // a 60-node chain: diameter 59 would need 59 min-label rounds;
    // star contraction closes it inside its default 20-round budget
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("i", "j")
    val labels = Dedup.connectedComponentsStar(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 60 && labels.forall(_._2 == 1L))
  }
}
