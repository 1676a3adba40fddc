package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Auth-plane operators (SURVEY.md §2.1 S5/S6, §2.3 F4, §2.4 P8).
  *
  * The reference authenticates a connection by hex(sha256(api_key))
  * point lookup against active keys (utils/helper.go:8-11,
  * postgres.go:138-163). As a flow operator that is a broadcast
  * left-semi join: the key table is small dimension data, the fact
  * side never shuffles.
  */
object Auth {

  /** P8 — hex(sha256(key)), matching Go's hex.EncodeToString output. */
  def hashKey(c: Column): Column = sha2(c, 256)

  /** S5/F4 — keep only fact rows whose presented key hashes to an
    * active key (is_active filter pushed below the join).
    */
  def activeKeySemiJoin(facts: DataFrame, keys: DataFrame,
      presentedKeyCol: String, keyHashCol: String = "key_hash",
      activeCol: String = "is_active"): DataFrame = {
    val active = keys.filter(col(activeCol)).select(col(keyHashCol).as("_kh"))
    facts.join(broadcast(active),
      hashKey(col(presentedKeyCol)) === col("_kh"), "left_semi")
  }

  /** C2 side-effect — key last-use bookkeeping. The reference fires an
    * async `UPDATE api_keys SET last_used_at = now()` per auth
    * (postgres.go:157-160, server.go:57-67); the Spark-native analogue
    * is a keyed aggregate of the max observed use time per key hash —
    * idempotent and mergeable (write it with
    * [[graft.stream.Pipeline.upsertLatest]] keyed on key_hash), so
    * replays and out-of-order batches cannot regress the value, where
    * row-level fire-and-forget UPDATEs can.
    */
  def lastUsed(facts: DataFrame, presentedKeyCol: String,
      tsCol: String): DataFrame =
    facts.select(hashKey(col(presentedKeyCol)).as("key_hash"),
        col(tsCol).as("last_used_at"))
      .groupBy("key_hash").agg(max(col("last_used_at")).as("last_used_at"))
}
