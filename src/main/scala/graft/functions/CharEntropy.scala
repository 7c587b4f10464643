package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Character-level Shannon entropy (bits/codepoint) in ONE generated pass.
  *
  * The declarative HOF form is quadratic twice over: `substr(i, 1)` seeks
  * from the string start (variable-width UTF-8), so building the char
  * array is O(len²), and every expression referenced inside a
  * higher-order-function lambda is re-evaluated PER ELEMENT, so the
  * entropy fold rebuilt that array once per distinct character — 115 s
  * for the sf0.1 bench query. Here: decode codepoints once, sort, walk
  * runs — O(len log len), no re-evaluation.
  *
  * Bit parity with the declarative fold (and the DuckDB oracle) is kept
  * by replicating the EXACT double op order: runs visited in ascending
  * codepoint order (UTF-8 byte order == codepoint order, which is what
  * `array_sort` over single-char strings produced), term =
  * −(p·ln p) with p = run/n, left-to-right summation, final ÷ by the
  * shared ln2 literal. Round4Spec pins the parity against the declarative
  * fold over the real corpus.
  */
object CharEntropy {
  private val Ln2 = 0.6931471805599453

  def entropy(u: UTF8String): Double = {
    val s = u.toString
    if (s.isEmpty) return 0.0
    // decode codepoints once (substr/ascii semantics: per CODEPOINT)
    var n = 0
    var i = 0
    while (i < s.length) { n += 1; i += Character.charCount(s.codePointAt(i)) }
    val cps = new Array[Int](n)
    i = 0
    var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(k) = cp; k += 1
      i += Character.charCount(cp)
    }
    java.util.Arrays.sort(cps)
    val nd = n.toDouble
    var sum = 0.0
    var run = 1
    var j = 1
    while (j <= n) {
      if (j < n && cps(j) == cps(j - 1)) run += 1
      else {
        val p = run / nd
        // StrictMath: Catalyst's log codegen calls java.lang.StrictMath.log,
        // and bit parity with the declarative fold (and the DuckDB gate
        // that passed against it) requires the same function
        sum += -(p * java.lang.StrictMath.log(p))
        run = 1
      }
      j += 1
    }
    sum / Ln2
  }

  def apply(c: Column): Column =
    GraftBridge.staticCall(this, "entropy", DoubleType, Seq(c), Seq(StringType))
}
