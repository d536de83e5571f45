package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Small format scalars (SURVEY.md §2.8 F7-F10, F16). */
object Formats {

  /** F8: TimestampType → RFC3339 string (block.rs:26-30 stores
    * `Utc.to_rfc3339()`; internally we keep TimestampType and project
    * the string only at serialization edges). */
  def rfc3339(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX")

  /** F9: seconds between two timestamps (lifetimes.rs:232-237). */
  def deltaSeconds(a: Column, b: Column): Column =
    unix_timestamp(a) - unix_timestamp(b)

  /** F10: wei → Gwei (block.rs:40, 81-84). */
  def weiToGwei(wei: Column): Column = wei.cast("double") / 1e9

  /** F7: lowercase 0x hex of binary. */
  def hexLower(bin: Column): Column = concat(lit("0x"), lowerHexDigits(hex(bin)))

  /** A string of hex digits in lowercase. Equal to `lower` on such
    * strings, but a plain character map: Spark's `lower` case-maps
    * through ICU, whose tables initialise once per JVM on first use
    * (about 1.8 s of one thread on a 4-core host), a cost a cold
    * extract would otherwise pay only to lowercase hex digits. */
  def lowerHexDigits(digits: Column): Column = translate(digits, "ABCDEF", "abcdef")

  /** F16: order-insensitive ABI node-list equality (abi.rs:49-59) —
    * compare canonicalized signature multisets. */
  def abiSetEquals(a: Column, b: Column): Column =
    array_sort(a) === array_sort(b)
}
