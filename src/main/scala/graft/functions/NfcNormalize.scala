package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native kernel — the canonical-composition
  * step of text cleaning (é as one codepoint, not e + combining acute),
  * via the JDK's `java.text.Normalizer` (ICU-grade, in the standard
  * library). Spark ships no normalization function, and a UDF here would
  * sit in the hottest path of corpus cleaning.
  *
  * The fast path skips work entirely: `Normalizer.isNormalized` is O(n)
  * over a quick-check table and almost always true for real corpora
  * (ASCII and already-composed text), so the common case allocates
  * nothing but the pass-through.
  *
  * Cross-engine note: DuckDB's `nfc_normalize` (utf8proc) implements the
  * same Unicode algorithm; outputs agree for all stable codepoints —
  * divergence would need characters newer than one engine's Unicode
  * table, which the oracle corpus doesn't contain. SpanBpeSpec's
  * `normalize` test pins composition and the ASCII pass-through.
  */
object NfcNormalize {
  def nfc(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  def apply(c: Column): Column =
    GraftBridge.staticCall(this, "nfc", StringType, Seq(c), Seq(StringType))
}
