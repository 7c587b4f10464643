package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Left-fold dot product of two double arrays in ONE generated loop — the
  * inner kernel of every cosine in the ANN/dedup suite.
  *
  * Exactly the declarative `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)`:
  * the loop accumulates `acc = acc + a(i) * b(i)` in index order, which is
  * the identical IEEE-754 operation sequence — bit-for-bit equal output
  * (Round6Spec pins the parity). Null/semantics parity with the HOF form:
  * mismatched lengths or any null element make `zip_with`'s product null,
  * which nulls the whole fold — so this kernel returns null for those too.
  *
  * Why it exists (guide §4 "eliminate non-codegen expressions in the hot
  * path"): the HOF chain allocates a zipped array per PAIR and walks it
  * through interpreted lambdas; inside the quadratic step of
  * embedding near-dup / semantic dedup / brute top-k that is the dominant
  * per-pair cost at production dims.
  */
object DotProductD {
  /** Boxed so the call can signal the null cases (length mismatch or a
    * null element — the zip_with parity rules).
    */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def apply(a: Column, b: Column): Column =
    GraftBridge.staticCall(this, "dot", DoubleType, Seq(a, b),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)), returnsNull = true)
}
