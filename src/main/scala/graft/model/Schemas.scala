package graft.model

import org.apache.spark.sql.types._

/** Core data model, re-expressed Spark-first.
  *
  * Reference semantics (cited against /root/reference):
  *  - `MarketData` record: internal/app/models/market_data.go:5-10 —
  *    three fixed typed columns (name, timestamp, exchange) plus an open
  *    JSON payload (`data`), persisted as JSONB (postgres.go:52-58).
  *  - Wire shape is doubly nested: `{"name","timestamp","data":{"data":{...}}}`
  *    (server.go:180-182).
  *  - Per-client transform config: internal/app/dto/client.go:3-18.
  *
  * We keep the payload two-tier: the raw JSON string column for lossless
  * persistence, and a parsed `map<string,string>` for the transform
  * engine (numeric coercion happens at rule-application site, matching
  * the reference's float64 type-assertion in server.go:194).
  */
final case class MarketData(
    name: String,
    timestamp: Long, // epoch millis (server.go:215)
    exchange: String,
    data: String // raw JSON payload
)

/** One arithmetic value rule: op in {add, subtract, multiply, divide}
  * (server.go:224-238). Unknown op and divide-by-zero leave the value
  * unchanged (server.go:233-237).
  */
final case class ValueRule(op: String, value: Double)

/** Per-symbol transform config (dto/client.go:5-13). Application order
  * is fixed and observable: value rules → rename → remove → override
  * (server.go:190-222).
  */
final case class SymbolConfig(
    renameFields: Map[String, String] = Map.empty,
    valueRules: Map[String, ValueRule] = Map.empty,
    overrideFields: Map[String, String] = Map.empty,
    removeFields: Seq[String] = Seq.empty
)

object Schemas {

  /** Wire message schema — doubly nested payload (server.go:180-182).
    * The inner payload is kept dynamic as map<string,string>; values are
    * coerced to double only where a rule fires.
    */
  val wireSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("timestamp", LongType),
    StructField("data", StructType(Seq(
      StructField("data", MapType(StringType, StringType))
    )))
  ))

  /** Relational shape of the persisted market_data table
    * (postgres.go:52-58: VARCHAR / BIGINT / VARCHAR / JSONB).
    */
  val marketDataSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("exchange", StringType),
    StructField("data", StringType)
  ))

  /** clients_configs.config JSONB shape, snake_case field names as the
    * reference serializes them (dto/client.go:3-18 json tags:
    * rename_fields, value_rules, override_fields, remove_fields,
    * use_current_ts).
    */
  val clientConfigSchema: StructType = StructType(Seq(
    StructField("symbols", MapType(StringType, StructType(Seq(
      StructField("rename_fields", MapType(StringType, StringType)),
      StructField("value_rules", MapType(StringType, StructType(Seq(
        StructField("op", StringType),
        StructField("value", DoubleType)
      )))),
      StructField("override_fields", MapType(StringType, StringType)),
      StructField("remove_fields", ArrayType(StringType)),
      StructField("use_current_ts", BooleanType)
    ))))
  ))
}
