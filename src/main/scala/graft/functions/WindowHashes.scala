package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Rolling k-window polynomial hashes over a token-hash array in ONE
  * generated pass — the kernel behind [[graft.text.Spans]]' duplicate-span
  * detectors: window i (0-based start) hashes tokens [i, i+k) as the left
  * fold `(acc·131 + th(j)) mod 2³²`.
  *
  * The declarative form folds k `element_at` lookups through interpreted
  * HOF lambdas PER WINDOW — O(tokens·k) lambda dispatches per document
  * (k = 13 for GPT-3-style decontamination). Here the fold itself is kept
  * (k multiplies per window — the values must match the plain-SQL oracle
  * spelling exactly, and a subtract-the-head rolling update would change
  * nothing observable but costs a mod-inverse trick not worth the
  * spelling risk); what the kernel removes is the per-window allocation
  * and lambda dispatch. Value-identical to the declarative twin
  * (Round6Spec pins it). Fewer than k tokens → empty array; a null token
  * hash → null result (HOF parity).
  */
object WindowHashes {
  private val M = (1L << 32) - 1 // mod 2^32 == mask since operands stay >= 0

  def roll(th: ArrayData, k: Int): GenericArrayData = {
    val n = th.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (th.isNullAt(i)) return null
      hs(i) = th.getLong(i)
      i += 1
    }
    val count = n - k + 1
    val out = new Array[Long](count)
    var p = 0
    while (p < count) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 131 + hs(p + j)) & M; j += 1 }
      out(p) = h
      p += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, k: Int): Column = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    GraftBridge.staticCall(this, "roll", ArrayType(LongType, containsNull = false),
      Seq(c, lit(k)), Seq(ArrayType(LongType), IntegerType), returnsNull = true)
  }
}
