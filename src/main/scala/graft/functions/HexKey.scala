package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's portable md5 draw: the first `digits` hex digits of
  * md5(`prefix` ++ `parts` joined by ":") read as an int64. The SQL twin
  * every oracle spells out is
  * `CAST(('0x' || substr(md5('<prefix>' || p1 || ':' || p2 …), 1, digits)) AS BIGINT)`,
  * so both engines draw the same key bit for bit. With 15 digits the key
  * is below 2⁶⁰, the static span the PrefixSum and epoch-fold callers
  * rely on. */
object HexKey {
  def apply(prefix: String, digits: Int, parts: Column*): Column = {
    require(parts.nonEmpty, "HexKey: at least one key part")
    val joined = parts.head +: parts.tail.flatMap(p => Seq(lit(":"), p))
    conv(substring(md5(concat(lit(prefix) +: joined: _*)), 1, digits), 16, 10)
      .cast("long")
  }
}
