package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

/** Random-hyperplane sign bucket of a double vector in ONE generated pass
  * — the LSH bucketing projection of [[graft.ann.Ann.signBucket]]: bit p
  * is set iff the left-fold dot of the vector with deterministic LCG
  * hyperplane p is > 0.
  *
  * Plane component (p, i): ((p·2²⁰ + i)·1103515245 + 12345) mod 2³¹
  * scaled to [-0.5, 0.5) — the identical closed form of
  * [[graft.ann.Ann.planeComponent]], and the accumulation is the same
  * per-index left fold as the declarative `zip_with`+`aggregate`, so
  * bucket values match bit-for-bit (KernelParitySpec pins it for
  * non-null arrays). The HOF twin allocated `planes` zipped index arrays
  * per ROW and re-derived each LCG component through interpreted lambdas. A null element nulls the HOF
  * fold, whose `when(d > 0, …).otherwise(0)` then contributes 0 — the
  * kernel mirrors that (any-null → bucket 0, as does empty input).
  */
object SignBucketD {
  private val M31 = (1L << 31) - 1 // mod 2^31 == mask since operands stay >= 0
  private val Scale = (1L << 31).toDouble

  def bucket(v: ArrayData, planes: Int): Long = {
    val n = v.numElements()
    var i = 0
    while (i < n) { // any null element -> every plane's fold nulls -> bucket 0
      if (v.isNullAt(i)) return 0L
      i += 1
    }
    var key = 0L
    var p = 0
    while (p < planes) {
      val base = p.toLong * 1048576L
      var acc = 0.0
      var j = 0
      while (j < n) {
        val pc = (((base + j) * 1103515245L + 12345L) & M31).toDouble / Scale - 0.5
        acc += v.getDouble(j) * pc
        j += 1
      }
      if (acc > 0) key |= 1L << p
      p += 1
    }
    key
  }

  def apply(c: Column, planes: Int): Column = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1,62], got $planes")
    GraftBridge.staticCall(this, "bucket", LongType, Seq(c, lit(planes)),
      Seq(ArrayType(DoubleType), IntegerType))
  }
}
