package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}

/** Wide SimHash over a token array, as `words` 32-bit signature parts.
  *
  * Why parts instead of one 64-bit value: every part is a NON-NEGATIVE
  * 32-bit integer, so all downstream arithmetic (band extraction, xor,
  * popcount) stays in the positive long range on both engines — no
  * sign-bit/arithmetic-shift traps, and the DuckDB oracle can reproduce
  * each part with plain BIGINT math.
  *
  * Part 0 votes with the cross-engine polynomial token hash
  * ([[PolyHash.hash]]); part k votes with k applications of [[mix32]] (an
  * xorshift + Knuth multiplicative step mod 2^32). The xorshift matters:
  * a pure affine (LCG) step would make bit 0 of every derived hash a
  * deterministic function of bit 0 of the original, collapsing the extra
  * signature bits exactly where SimHash needs independence.
  *
  * Single generated loop per row (tokens × words × 32 votes) — the
  * declarative HOF form costs one array traversal PER BIT and was the
  * dominant cost of the 16-bit signature already. Bit-identical to the
  * declarative fold (SimHashSpec pins it) and to the oracle SQL.
  *
  * Scale: 64 bits (words=2) is the production width. The round-3 16-bit
  * signature had only 2^16 distinct values, so past ~10^7 docs every
  * banding bucket became a capped mega-bucket and recall collapsed; at 64
  * bits the signature space outgrows any realistic corpus.
  */
object SimHashParts {

  /** Second/third/... independent 32-bit hash derived from a 32-bit hash:
    * xorshift-16, Knuth multiplicative step mod 2^32, then a FINAL
    * xorshift-16 (murmur-finalizer shape). The trailing xorshift is load-
    * bearing: without it, bit 0 of the output is an affine function of bit
    * 0 of the input for every h < 2^16 — and short tokens have small
    * polynomial hashes — which would correlate the extra signature words
    * exactly where SimHash needs independence. All intermediates stay
    * < 2^49 — the same closed form is ANSI-safe SQL (`OracleSqlGen.mix32`)
    * and overflow-free under Spark's ANSI mode in the declarative twin
    * (`TextHash.mix32`).
    */
  def mix32(h: Long): Long = {
    val m = h ^ (h >>> 16)
    val x = ((((m >>> 16) * 2654435761L) & 0xffffL) * 65536L +
      (m & 0xffffL) * 2654435761L + 1013904223L) & 0xffffffffL
    x ^ (x >>> 16)
  }

  /** All `words` parts in one pass over the tokens. Empty input → all-zero
    * parts (no votes, every "sum > 0" test false) — matching the
    * declarative fold and the SQL twin.
    */
  def parts(toks: ArrayData, words: Int): ArrayData = {
    val counts = new Array[Int](words * 32)
    val n = toks.numElements()
    var t = 0
    while (t < n) {
      var h = PolyHash.hash(toks.getUTF8String(t))
      var w = 0
      while (w < words) {
        val base = w * 32
        var b = 0
        while (b < 32) {
          counts(base + b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
        h = mix32(h)
        w += 1
      }
      t += 1
    }
    val out = new Array[Long](words)
    var w = 0
    while (w < words) {
      var sig = 0L
      var b = 0
      while (b < 32) {
        if (counts(w * 32 + b) > 0) sig |= (1L << b)
        b += 1
      }
      out(w) = sig
      w += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, words: Int): Column = {
    require(words >= 1 && words <= 8, s"words must be in [1,8], got $words")
    GraftBridge.staticCall(this, "parts", ArrayType(LongType, containsNull = false),
      Seq(c, lit(words)), Seq(ArrayType(StringType), IntegerType))
  }
}
