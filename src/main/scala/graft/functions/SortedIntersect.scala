package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** |A ∩ B| for two SORTED long arrays, via a zero-allocation merge scan —
  * the verification kernel of the jaccard/minhash dedup joins.
  *
  * `array_intersect` materializes a hash set per invocation; for candidate-
  * pair verification that is one allocation-heavy set per PAIR. With both
  * sides sorted once per document (amortized over all its pairs), the
  * intersection count is a single O(|A|+|B|) pointer walk.
  * KernelParitySpec pins it against `size(array_intersect(a, b))`.
  */
object SortedIntersectCount {
  /** merge count over sorted (ascending, distinct) long arrays. */
  def count(a: ArrayData, b: ArrayData): Int = {
    var i = 0; var j = 0; var n = 0
    val la = a.numElements(); val lb = b.numElements()
    while (i < la && j < lb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  def apply(a: Column, b: Column): Column =
    GraftBridge.staticCall(this, "count", IntegerType, Seq(a, b),
      Seq(ArrayType(LongType), ArrayType(LongType)))
}
