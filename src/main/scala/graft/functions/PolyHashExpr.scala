package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the cross-engine polynomial string hash: left fold of
  * `h*31 + codepoint (mod 2^32)`, empty/null-safe.
  *
  * Bit-identical to the declarative form in `graft.text.TextHash.polyHash`
  * (aggregate over `ascii(substr(i,1))` — i.e., per-CODEPOINT, exactly what
  * the code below iterates) and to the DuckDB oracle's `list_reduce`, but
  * runs as a single generated loop per row instead of a per-character
  * higher-order-function chain — this is the hot inner loop of shingling,
  * minhash, simhash and fingerprinting. TextSpec pins the values.
  */
object PolyHash {
  private val M = (1L << 32) - 1 // mod 2^32 == mask since operands stay >= 0

  /** The reference fold, iterating CODE POINTS (matches `substr`/`ascii`
    * semantics for any unicode input, not just ASCII).
    */
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) & M
      i += Character.charCount(cp)
    }
    h
  }

  def hash(u: UTF8String): Long = hash(u.toString)

  def apply(c: Column): Column =
    GraftBridge.staticCall(this, "hash", LongType, Seq(c), Seq(StringType))
}
