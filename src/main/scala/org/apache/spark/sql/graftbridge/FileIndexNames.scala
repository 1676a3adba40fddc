package org.apache.spark.sql.graftbridge

import org.apache.spark.util.HadoopFSUtils

/** The rule Spark's file index uses for names it never reads (`_` and
  * `.` prefixes, in-flight copies), for [[graft.io.ParquetSchema]]'s
  * walk to the file Spark would read. `HadoopFSUtils` is
  * `private[spark]`, hence this bridge.
  */
object FileIndexNames {
  def hidden(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
