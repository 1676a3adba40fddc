package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftright}

/** At-rest layouts: Hive-style partitioned writes, and the Morton
  * (Z-order) keys that faces sort by to cluster rows close in more
  * than one dimension.
  */
object Bucketing {

  /** Hive-style partitioned layout — the at-rest half of PREDICATE
    * pruning: a tick history laid out `partition_col=value/` lets any
    * reader with an equality or range predicate on the partition
    * column skip whole directories before a single byte is read
    * (`PartitionFilters` in the scan node), which at a 100 TB history
    * is the difference between scanning a day and scanning a decade.
    *
    * The `repartition(partitionCols)` before the write is the
    * small-files guard: without it every input partition writes one
    * file per partition value it touches (tasks × values files of a
    * few KB each — the classic metadata killer); with it each value's
    * rows coalesce into one task, and `maxRecordsPerFile` re-splits
    * oversized values into bounded files. `sortCols` orders rows
    * WITHIN each file so parquet row-group min/max stats become tight
    * non-overlapping ranges — a range predicate on the sort key then
    * skips row groups inside the surviving directories too.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L): Unit = {
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Bit-spread/mask schedule for the Morton interleave: a 31-bit
    * value fanned onto the even bit positions of a 64-bit word.
    * Shared between the Column form, the generated oracle SQL, and
    * the `graft_zorder` SQL function so every surface computes
    * identical keys.
    */
  val SpreadSteps: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL,
    8 -> 0x00FF00FF00FF00FFL,
    4 -> 0x0F0F0F0F0F0F0F0FL,
    2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  /** Morton (Z-order) key of two dimensions: bits of `a` and `b`
    * interleaved, so sorting by the key clusters rows that are close
    * in BOTH dimensions. Inputs are masked to their low 31 bits (this
    * is a layout key, not data — callers bucket real values into that
    * range first); the result stays positive, so plain long ordering
    * is curve ordering. Pure built-in bitwise ops — codegen'd, no UDF.
    */
  def zValue(a: Column, b: Column): Column = {
    def spread(c: Column): Column =
      SpreadSteps.foldLeft(c.cast("long").bitwiseAND(lit(0x7FFFFFFFL))) {
        case (x, (s, m)) => x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
      }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** The identical key as ANSI SQL over bigint bit ops (DuckDB runs
    * it verbatim) — lets z-key computations be oracle-checked.
    */
  def zValueSql(a: String, b: String): String = {
    def spread(e: String): String =
      SpreadSteps.foldLeft(s"($e & 2147483647)") {
        case (x, (s, m)) => s"(($x | ($x << $s)) & $m)"
      }
    s"(${spread(a)} | (${spread(b)} << 1))"
  }

  /** [[zValue]] for k dimensions (2 ≤ k ≤ 8): bit j of dimension i
    * lands at position j·k + i, each dimension contributing its low
    * ⌊62/k⌋ bits, result positive. k = 2 routes to the magic-number
    * spread; higher k builds the interleave as ⌊62/k⌋ explicit
    * extract-shift terms per dimension — a bulkier (still codegen'd,
    * still built-in) expression that only runs in layout write jobs,
    * where it is paid once per row written, not per query.
    */
  def zValueN(dims: Seq[Column]): Column = {
    val k = dims.size
    require(k >= 2 && k <= 8, s"zValueN takes 2..8 dimensions, got $k")
    if (k == 2) zValue(dims(0), dims(1))
    else {
      val bits = 62 / k
      val terms = for {
        (d, i) <- dims.zipWithIndex
        j <- 0 until bits
      } yield shiftleft(
        shiftright(d.cast("long"), j).bitwiseAND(lit(1L)), j * k + i)
      terms.reduce(_ bitwiseOR _)
    }
  }

  /** ANSI-SQL rendering of [[zValueN]]'s extract-shift schedule for
    * k ≥ 3 (k = 2 has the magic-number [[zValueSql]]) — the oracle
    * side of the bit-for-bit curve check (q_zorder3).
    */
  def zValueNSql(dims: Seq[String]): String = {
    val k = dims.size
    require(k >= 3 && k <= 8, s"zValueNSql takes 3..8 dimensions, got $k")
    val bits = 62 / k
    val terms = for {
      (d, i) <- dims.zipWithIndex
      j <- 0 until bits
    } yield s"(((CAST($d AS BIGINT) >> $j) & 1) << ${j * k + i})"
    terms.mkString("(", " | ", ")")
  }
}
