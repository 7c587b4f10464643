package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MOSS winnowing fingerprints in ONE generated pass — the native kernel
  * behind [[graft.text.TextHash.winnow]]: hash every char k-gram
  * (codepoint polynomial hash, exactly [[SortedShingleHashes]]'s loop),
  * slide a window of `w` consecutive k-gram hashes keeping each window's
  * minimum, return the SORTED DISTINCT selected hashes.
  *
  * The declarative form pays one `substr` + polyHash HOF lambda per k-gram
  * plus a `slice` allocation + `array_min` walk per window position —
  * all interpreted per row. Here: decode codepoints once, roll hashes with
  * no allocation, take window minima with a monotonic deque (O(grams)
  * total, not O(grams·w)), sort + dedupe in place. Value-identical to the
  * declarative twin (Round6Spec pins it); fewer than `w` k-grams → one
  * fingerprint (the global minimum, the paper's boundary rule); shorter
  * than k → empty array.
  */
object WinnowHashes {
  private val M = (1L << 32) - 1 // mod 2^32 == mask since operands stay >= 0

  def winnow(u: UTF8String, k: Int, w: Int): GenericArrayData = {
    val s = u.toString
    // decode codepoints once (substr/polyHash semantics are per-codepoint)
    var len = 0
    var i = 0
    while (i < s.length) { len += 1; i += Character.charCount(s.codePointAt(i)) }
    if (len < k) return new GenericArrayData(Array.emptyLongArray)
    val cps = new Array[Int](len)
    i = 0
    var p = 0
    while (i < s.length) {
      val cp = s.codePointAt(i); cps(p) = cp; p += 1
      i += Character.charCount(cp)
    }
    val m = len - k + 1 // k-gram count
    val hs = new Array[Long](m)
    p = 0
    while (p < m) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 31 + cps(p + j)) & M; j += 1 }
      hs(p) = h
      p += 1
    }
    val nWin = math.max(m - (w - 1), 1)
    val sel = new Array[Long](nWin)
    // monotonic min-deque over window positions (ties keep the EARLIER
    // element — same value as array_min either way)
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0 // exclusive
    var q = 0
    while (q < m) {
      while (tail > head && hs(dq(tail - 1)) >= hs(q)) tail -= 1
      dq(tail) = q; tail += 1
      val start = q - (w - 1) // window [start, q]
      if (start >= 0 || q == m - 1) {
        // evict indices left of the window (when m < w the single window
        // is [0, m-1] and nothing evicts)
        val lo = math.max(start, 0)
        while (dq(head) < lo) head += 1
        if (start >= 0) sel(start) = hs(dq(head))
        else sel(0) = hs(dq(head)) // m < w: one global-min fingerprint
      }
      q += 1
    }
    java.util.Arrays.sort(sel)
    var out = 1
    var r = 1
    while (r < nWin) {
      if (sel(r) != sel(r - 1)) { sel(out) = sel(r); out += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, out))
  }

  def apply(c: Column, k: Int, w: Int): Column = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    require(w >= 1, s"window must be >= 1, got $w")
    GraftBridge.staticCall(this, "winnow", ArrayType(LongType, containsNull = false),
      Seq(c, lit(k), lit(w)), Seq(StringType, IntegerType, IntegerType))
  }
}
