package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct character-n-gram polynomial hashes in ONE generated
  * pass — the shared prep kernel of the whole dedup suite (`prepDocs`,
  * MinHash, PPJoin verify all consume exactly this array).
  *
  * The declarative form (`array_sort(array_distinct(transform(shingles,
  * polyHash)))` over `substr(i, n)` slices) pays O(len²) in `substr`
  * seeks (variable-width UTF-8 seeks from the string start) plus one
  * substring allocation per position. Here: decode codepoints once, roll
  * the window hash per position (no allocations), sort, dedupe in place —
  * O(len·n + k log k).
  *
  * Set equality with the declarative form is exact: hashing all positions
  * then deduping produces the same distinct-hash set as deduping
  * substrings first (hash collisions between distinct substrings merge
  * identically either way), and the DuckDB oracle's
  * `OracleSqlGen.shingleHashes` computes the same values — Round4Spec
  * pins the parity. Null text → null; shorter than n → empty.
  */
object SortedShingleHashes {
  private val M = (1L << 32) - 1 // mod 2^32 == mask since operands stay >= 0

  def hashes(u: UTF8String, n: Int): GenericArrayData = {
    val s = u.toString
    // decode codepoints once (substr/polyHash semantics are per-codepoint)
    var len = 0
    var i = 0
    while (i < s.length) { len += 1; i += Character.charCount(s.codePointAt(i)) }
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val cps = new Array[Int](len)
    i = 0
    var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i); cps(k) = cp; k += 1
      i += Character.charCount(cp)
    }
    val count = len - n + 1
    val hs = new Array[Long](count)
    var p = 0
    while (p < count) {
      var h = 0L
      var j = 0
      while (j < n) { h = (h * 31 + cps(p + j)) & M; j += 1 }
      hs(p) = h
      p += 1
    }
    java.util.Arrays.sort(hs)
    // dedupe in place over the sorted array
    var out = 1
    var q = 1
    while (q < count) {
      if (hs(q) != hs(q - 1)) { hs(out) = hs(q); out += 1 }
      q += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, out))
  }

  def apply(c: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    GraftBridge.staticCall(this, "hashes", ArrayType(LongType, containsNull = false),
      Seq(c, lit(n)), Seq(StringType, IntegerType))
  }
}
