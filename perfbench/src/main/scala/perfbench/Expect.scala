package perfbench

import scala.collection.immutable.ListMap
import scala.util.hashing.MurmurHash3

import Inputs._

/** Expected outputs computed in plain Scala from the generated inputs,
  * and the comparisons against what the program produced. Nothing here
  * calls into the program: the serve model re-states the transform
  * rules (value rules on original names, then rename, remove and
  * override) instead of calling `Transform`.
  *
  * Every comparison returns None on a match and a description of the
  * first difference otherwise, so the self-checks can feed it a
  * deliberately wrong expectation and require a Some.
  */
object Expect {

  /** Canonical text of one ingested row: name, timestamp, exchange and
    * the payload sorted by key.
    */
  def canonical(name: String, ts: Long, exchange: String,
      payload: scala.collection.Map[String, String]): String =
    payload.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString(s"$name|$ts|$exchange|", ";", "")

  /** Order-free digest of a multiset of rows: count plus two sums of
    * independent 32-bit hashes.
    */
  final case class Digest(n: Long, a: Long, b: Long) {
    def +(o: Digest): Digest = Digest(n + o.n, a + o.a, b + o.b)
  }
  def digest(rows: Iterator[String]): Digest = {
    var n = 0L; var a = 0L; var b = 0L
    rows.foreach { s =>
      n += 1
      a += MurmurHash3.stringHash(s) & 0xffffffffL
      b += MurmurHash3.stringHash(s, 0x3c074a61) & 0xffffffffL
    }
    Digest(n, a, b)
  }

  def appended(frames: Seq[Frame]): Digest =
    digest(frames.iterator.filter(_.valid)
      .map(f => canonical(f.name, f.ts, exchangeOf(f.name), f.payload)))

  /** Keep-last: the newest valid frame per symbol, with its exchange. */
  def latest(frames: Seq[Frame]): Map[String, String] =
    frames.filter(_.valid).groupBy(_.name).map { case (n, fs) =>
      val f = fs.maxBy(_.ts)
      n -> canonical(f.name, f.ts, exchangeOf(f.name), f.payload)
    }

  def sameDigest(want: Digest, got: Digest): Option[String] =
    if (want == got) None else Some(s"digest want $want got $got")

  def sameMap[K, V](what: String, want: Map[K, V], got: Map[K, V]): Option[String] =
    if (want == got) None
    else {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val diff = want.keySet.intersect(got.keySet).find(k => want(k) != got(k))
      Some(s"$what: ${missing.size} missing, ${extra.size} extra" +
        diff.fold("")(k => s", first differing key $k: want ${want(k)} got ${got(k)}"))
    }

  // ---- the serve plane's per-client transform, restated ----

  private val MetaKeys = Set("symbol", "timestamp", "exchange")

  /** A value rule on one field: numeric values only; unknown ops and
    * division by zero leave the value as it was.
    */
  private def applyRule(v: String, op: String, x: Double): String =
    v.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite) match {
      case None => v
      case Some(d) => op match {
        case "add" => (d + x).toString
        case "subtract" => (d - x).toString
        case "multiply" => (d * x).toString
        case "divide" if x != 0.0 => (d / x).toString
        case _ => v
      }
    }

  /** The served payload of one latest row for one client config:
    * flatten (meta fields stamped last), value rules on the original
    * names, renames (all read the original map), removes, overrides.
    */
  def served(row: LatestRow, cfg: Option[Cfg]): Map[String, String] = {
    val flat = row.payload.filter { case (k, _) => !MetaKeys(k) } ++
      ListMap("symbol" -> row.name, "timestamp" -> row.ts.toString, "exchange" -> row.exchange)
    cfg.fold(flat.toMap) { c =>
      val ruled = flat.map { case (k, v) =>
        k -> c.rules.get(k).fold(v) { case (op, x) => applyRule(v, op, x) }
      }
      val targets = c.renames.values.toSet
      val renamed = ruled
        .filter { case (k, _) => !targets(k) || c.renames.contains(k) }
        .map { case (k, v) => c.renames.getOrElse(k, k) -> v }
      val removed = renamed.filter { case (k, _) => !c.removes.contains(k) }
      (removed.filter { case (k, _) => !c.overrides.contains(k) } ++ c.overrides).toMap
    }
  }
}
