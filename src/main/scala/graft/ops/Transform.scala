package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{SymbolConfig, ValueRule}

/** The per-client transform engine (SURVEY.md §2.4) — the reference's
  * "query language" (server.go:176-238) re-expressed as Catalyst map
  * higher-order functions over a `map<string,string>` payload.
  *
  * Semantics pinned from the reference:
  *  - application order is value-rules → rename → remove → override
  *    (server.go:190-222);
  *  - value rules: numeric coercion at use site; non-numeric values,
  *    unknown ops, and divide-by-zero all leave the value unchanged
  *    (server.go:194,224-238);
  *  - rules address ORIGINAL field names (pre-rename); removes and
  *    overrides address post-rename names;
  *  - rename onto an existing key overwrites it (server.go:200-205);
  *  - flatten stamps symbol/timestamp/exchange AFTER the payload copy,
  *    so payload fields can never shadow the meta fields
  *    (server.go:176-188);
  *  - override `timestamp="current"` injects current epoch millis
  *    (server.go:213-219).
  *
  * Determinism tightened vs the reference: Go map iteration order made
  * rename chains nondeterministic; here renames all read the ORIGINAL
  * map, and two renames onto one target are unsupported (documented).
  *
  * Scale design: the config-driven form (`interpret`) takes the config
  * as COLUMNS, so one client-agnostic plan serves any number of
  * (client, symbol) configs via a broadcast join — no per-client plan
  * explosion, no driver-side loop, everything whole-stage-codegen'd.
  * The Scala-config form (`applySymbolConfig`) just feeds literal maps
  * into the same interpreter: one code path, tested once.
  */
object Transform {

  /** Keys stamped by flatten; payload fields cannot shadow them. */
  private val metaKeys = Seq("symbol", "timestamp", "exchange")

  /** P1 — flatten/normalize: promote payload fields, then stamp the
    * three meta fields last (meta wins on collision).
    */
  def normalize(
      df: DataFrame,
      nameCol: String = "name",
      tsCol: String = "timestamp",
      exchangeCol: String = "exchange",
      payloadCol: String = "payload",
      outCol: String = "flat"): DataFrame = {
    val metaMap = map(
      lit("symbol"), col(nameCol),
      lit("timestamp"), col(tsCol).cast("string"),
      lit("exchange"), col(exchangeCol))
    val cleaned = map_filter(col(payloadCol),
      (k, _) => !k.isin(metaKeys.map(lit(_)): _*))
    df.withColumn(outCol, map_concat(cleaned, metaMap))
  }

  /** P2 — one value rule applied to one stringified value. Returns the
    * transformed value, or `v` unchanged when the rule is null, the
    * value is non-numeric, the op is unknown, or a divide-by-zero.
    */
  private def applyRule(rule: Column, v: Column): Column = {
    // null on non-numeric (ANSI-safe). try_cast also parses the strings
    // "NaN"/"Infinity" — but reference payloads are JSON, which cannot
    // carry non-finite numbers, so treat them as non-numeric passthrough.
    val parsed = v.try_cast("double")
    val d = when(parsed.isNaN || abs(parsed) === lit(Double.PositiveInfinity),
      lit(null)).otherwise(parsed)
    val rv = rule.getField("value")
    val computed = when(rule.getField("op") === "add", d + rv)
      .when(rule.getField("op") === "subtract", d - rv)
      .when(rule.getField("op") === "multiply", d * rv)
      .when(rule.getField("op") === "divide" && rv =!= 0.0, d / rv)
    when(rule.isNull || d.isNull, v)
      .otherwise(coalesce(computed.cast("string"), v))
  }

  /** P2 — apply a field→rule map to the payload. */
  def valueRules(payload: Column, rules: Column): Column =
    when(rules.isNull, payload).otherwise(
      transform_values(payload, (k, v) => applyRule(element_at(rules, k), v)))

  /** P3 — rename fields. All renames read the original map; an entry
    * whose key is a rename target (and is not itself renamed) is
    * overwritten, matching server.go:200-205.
    */
  def renameFields(payload: Column, renames: Column): Column = {
    val targets = map_values(renames)
    // Drop entries that will be overwritten by a rename target, unless
    // they are themselves renamed away.
    val kept = map_filter(payload,
      (k, _) => !array_contains(targets, k) || map_contains_key(renames, k))
    val renamed = map_from_entries(transform(map_entries(kept),
      e => struct(
        coalesce(element_at(renames, e.getField("key")), e.getField("key")).as("key"),
        e.getField("value").as("value"))))
    when(renames.isNull, payload).otherwise(renamed)
  }

  /** P4 — remove listed fields (post-rename names). */
  def removeFields(payload: Column, removes: Column): Column =
    when(removes.isNull, payload).otherwise(
      map_filter(payload, (k, _) => !array_contains(removes, k)))

  /** P5 — set literal fields; magic pair timestamp="current" injects
    * wall-clock epoch millis (server.go:213-219).
    */
  def overrideFields(payload: Column, overrides: Column): Column = {
    val resolved = transform_values(overrides,
      (k, v) => when(k === "timestamp" && v === "current",
        unix_millis(current_timestamp()).cast("string")).otherwise(v))
    val cleaned = map_filter(payload, (k, _) => !map_contains_key(overrides, k))
    when(overrides.isNull, payload).otherwise(map_concat(cleaned, resolved))
  }

  /** The full §2.4 pipeline in the reference's fixed order. Any null
    * config column is skipped (F3: missing config ⇒ identity).
    *
    * Fused kernel since round 14 (see
    * [[org.apache.spark.sql.graftbridge.TransformInterpret]]): the
    * composed chain's five interpreted map HOFs each materialize a
    * full map copy per row — 48–87 µs/row measured under the
    * materializing bench. The kernel runs the whole chain in one
    * pass; the timestamp="current" magic resolves OUTSIDE the kernel
    * (same transform_values as before) so the wall clock stays the
    * composed form's per-query constant. TransformSpec pins
    * fused == [[interpretComposed]] over the full events corpus.
    */
  def interpret(payload: Column, rules: Column, renames: Column,
      removes: Column, overrides: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, TransformInterpret}
    val resolved = transform_values(overrides,
      (k, v) => when(k === "timestamp" && v === "current",
        unix_millis(current_timestamp()).cast("string")).otherwise(v))
    ColumnBridge.column(TransformInterpret(
      ColumnBridge.expression(payload),
      ColumnBridge.expression(rules),
      ColumnBridge.expression(renames),
      ColumnBridge.expression(removes),
      ColumnBridge.expression(resolved)))
  }

  /** The composed-HOF formulation [[interpret]] replaced — kept as
    * the readable reference implementation (each stage is the
    * documented operator it names); TransformSpec pins corpus-wide
    * equality with the fused kernel.
    */
  private[graft] def interpretComposed(payload: Column, rules: Column,
      renames: Column, removes: Column, overrides: Column): Column =
    overrideFields(
      removeFields(
        renameFields(
          valueRules(payload, rules),
          renames),
        removes),
      overrides)

  /** Scala-config entry point: compile a [[SymbolConfig]] to literal
    * columns and run the same interpreter.
    */
  def applySymbolConfig(payload: Column, cfg: SymbolConfig): Column = {
    def strMap(m: Map[String, String]): Column =
      if (m.isEmpty) lit(null).cast("map<string,string>") else typedlit(m)
    val rules: Column =
      if (cfg.valueRules.isEmpty) lit(null).cast("map<string,struct<op:string,value:double>>")
      else map(cfg.valueRules.toSeq.sortBy(_._1).flatMap { case (k, ValueRule(op, v)) =>
        Seq(lit(k), struct(lit(op).as("op"), lit(v).as("value")))
      }: _*)
    val removes: Column =
      if (cfg.removeFields.isEmpty) lit(null).cast("array<string>")
      else typedlit(cfg.removeFields)
    interpret(payload, rules, strMap(cfg.renameFields), removes,
      strMap(cfg.overrideFields))
  }

  /** Serving-plane transform (§3.3): every client sees every record in
    * the snapshot; records whose (client, symbol) has a config row are
    * transformed, the rest pass through (F3, server.go:112-115).
    *
    * `configs` columns: client_id, symbol, rules, renames, removes,
    * overrides. Configs are per-client dimension data — small — so the
    * join is broadcast: the snapshot fans out map-side, no shuffle.
    * One client-agnostic plan serves any number of clients; zero
    * configs serve zero rows (the empty cross join).
    *
    * Duplicate (client, symbol) rows are malformed — the reference
    * keys a client's config by symbol — and are normalized to one row
    * each before the join, so a duplicated config row never doubles a
    * client's served records.
    */
  def serveSnapshot(snapshot: DataFrame, configs: DataFrame,
      symbolCol: String = "symbol", payloadCol: String = "flat"): DataFrame = {
    val clients = configs.select("client_id").distinct()
    val cfg = configs.dropDuplicates("client_id", "symbol")
      .withColumnRenamed("symbol", "_cfg_symbol")
      .withColumnRenamed("client_id", "_cfg_client")
    snapshot
      .crossJoin(broadcast(clients))
      .join(broadcast(cfg),
        col(symbolCol) === col("_cfg_symbol") &&
          col("client_id") === col("_cfg_client"), "left")
      .drop("_cfg_symbol", "_cfg_client")
      .withColumn(payloadCol,
        interpret(col(payloadCol), col("rules"), col("renames"),
          col("removes"), col("overrides")))
      .drop("rules", "renames", "removes", "overrides")
  }

  /** Forwarder to [[serveSnapshot]], kept because the benchmark
    * harness (`perfbench/`, which compiles this tree) calls it.
    */
  def serveSnapshotAuto(snapshot: DataFrame, configs: DataFrame,
      symbolCol: String = "symbol", payloadCol: String = "flat"): DataFrame =
    serveSnapshot(snapshot, configs, symbolCol, payloadCol)
}
