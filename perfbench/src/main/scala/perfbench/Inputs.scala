package perfbench

import scala.collection.immutable.ListMap

/** Every input the workloads feed the program, made from the seed alone.
  * The program only ever sees these generated frames, tables and
  * configs; the expectations the checks use are computed from the same
  * values here, never from the program's outputs.
  */
object Inputs {

  val Exchanges: Vector[String] =
    Vector("nse", "mcx", "cepe", "gift", "comex", "other", "forex", "crypto", "usstock")

  /** The dimension: 293 symbols spread over the 9 exchanges. */
  val Symbols: Vector[String] = Vector.tabulate(293)(i => f"S$i%03d")
  def exchangeOf(sym: String): String = dim.getOrElse(sym, "unknown")
  lazy val dim: Map[String, String] =
    Symbols.zipWithIndex.map { case (s, i) => s -> Exchanges(i % Exchanges.length) }.toMap

  /** Symbols the feed sends that the dimension does not hold. */
  val UnknownSymbols: Vector[String] = Vector.tabulate(7)(i => f"U$i%02d")

  val BaseTs = 1700000000000L

  // shares of the frame kinds (the rest are valid frames for known symbols)
  val CorruptShare = 0.005
  val EmptyNameShare = 0.005
  val ZeroTsShare = 0.005
  val UnknownShare = 0.01

  /** One generated wire frame. `valid` frames pass decode and validation. */
  final case class Frame(text: String, valid: Boolean, name: String, ts: Long,
      payload: ListMap[String, String])

  /** A price from 10.00 to 999.99, two decimals. */
  private def price(r: java.util.Random): String = {
    val cents = 1000 + r.nextInt(99000)
    val c = cents % 100
    s"${cents / 100}.${if (c < 10) "0" else ""}$c"
  }

  /** `n` frames in the `TickSource.frame` wire shape
    * `{"name","timestamp","data":{"data":{...}}}`; timestamps are
    * distinct and rise with the frame index.
    */
  def frames(seed: Long, n: Int): Vector[Frame] = {
    val r = new java.util.Random(seed)
    Vector.tabulate(n) { i =>
      val u = r.nextDouble()
      val ts = BaseTs + i.toLong * 2 + r.nextInt(2)
      val payload = ListMap("bid" -> price(r), "ask" -> price(r),
        "last" -> price(r), "vol" -> r.nextInt(100000).toString)
      if (u < CorruptShare) Frame(s"""{corrupt frame $i""", false, "", 0L, ListMap.empty)
      else {
        val (name, t, valid) =
          if (u < CorruptShare + EmptyNameShare) ("", ts, false)
          else if (u < CorruptShare + EmptyNameShare + ZeroTsShare)
            (Symbols(r.nextInt(Symbols.length)), 0L, false)
          else if (u < CorruptShare + EmptyNameShare + ZeroTsShare + UnknownShare)
            (UnknownSymbols(r.nextInt(UnknownSymbols.length)), ts, true)
          else (Symbols(r.nextInt(Symbols.length)), ts, true)
        val body = payload.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
        Frame(s"""{"name":"$name","timestamp":$t,"data":{"data":{$body}}}""",
          valid, name, t, payload)
      }
    }
  }

  /** The serve workload's at-rest latest table: one row per symbol with
    * an eight-field payload.
    */
  final case class LatestRow(name: String, ts: Long, exchange: String,
      payload: ListMap[String, String])

  val ServeFields: Vector[String] =
    Vector("bid", "ask", "last", "vol", "open", "high", "low", "chg")

  def latestRows(seed: Long): Vector[LatestRow] = {
    val r = new java.util.Random(seed ^ 0x5eed)
    Symbols.zipWithIndex.map { case (s, i) =>
      val p = ListMap.from(ServeFields.map {
        case "vol" => "vol" -> r.nextInt(100000).toString
        case f => f -> price(r)
      })
      LatestRow(s, BaseTs + i * 7L + r.nextInt(5), exchangeOf(s), p)
    }
  }

  /** One (client, symbol) transform config in the parsed config-table
    * shape: value rules on original field names, then rename, remove and
    * override on post-rename names.
    */
  final case class Cfg(client: String, symbol: String,
      rules: ListMap[String, (String, Double)], renames: ListMap[String, String],
      removes: Vector[String], overrides: ListMap[String, String])

  private val Ops = Vector("add", "subtract", "multiply", "divide")

  /** Configs for every (client, symbol) pair, each using all four rule kinds. */
  def configs(seed: Long, clients: Seq[String], symbols: Seq[String]): Vector[Cfg] = {
    val r = new java.util.Random(seed ^ 0xc0f)
    for (c <- clients.toVector; s <- symbols) yield {
      val fields = scala.util.Random.javaRandomToRandom(r).shuffle(ServeFields)
      val rules = ListMap(fields(0) -> (Ops(r.nextInt(4)), 1 + r.nextInt(40) / 8.0),
        fields(1) -> (Ops(r.nextInt(4)), 1 + r.nextInt(40) / 8.0))
      val renames = ListMap(fields(2) -> s"${fields(2)}_x")
      val removes = Vector(fields(3))
      val overrides = ListMap(fields(4) -> s"o${r.nextInt(1000)}", "src" -> c)
      Cfg(c, s, rules, renames, removes, overrides)
    }
  }

  /** The corpus table for the at-rest maintenance faces, in the schema
    * the catalog reads: documents(doc_id, text, lang, source, n_chars).
    */
  private val Words = Vector("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "the", "line", "sort",
    "window", "data", "column", "join", "small", "big", "query", "stream",
    "filter", "group", "order", "customer", "vector", "a")
  private val Langs = Vector("en", "en", "en", "zh", "de", "fr", "es")

  final case class Doc(docId: Long, text: String, lang: String, source: String, nChars: Long)

  def documents(seed: Long, n: Int): Vector[Doc] = {
    val r = new java.util.Random(seed ^ 0xd0c)
    Vector.tabulate(n) { i =>
      val text = Vector.fill(12 + r.nextInt(70))(Words(r.nextInt(Words.length))).mkString(" ")
      Doc(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }
}
