package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType}

/** Top-k nearest centroids (by cosine) of a double vector — the IVF coarse
  * quantizer's assignment/probe kernel at SCALE-SAFE plan size.
  *
  * The round-3 shape baked every centroid into the plan as literal
  * dot-product subexpressions: O(nList·dim) expression NODES, so Catalyst
  * analysis/codegen blew up long before data did (a 100 TB corpus wants
  * 4k-64k lists). Here the centroid matrix rides as ONE codegen reference
  * object — constant plan size at any nList, zero joins, zero shuffles;
  * the per-row O(nList·dim) flop loop is the algorithmic cost of a flat
  * quantizer and runs as one generated tight loop over primitive arrays.
  *
  * IEEE op order matches the literal-expression form of the same search
  * EXACTLY (ascending left-fold dot and norms, cos = dot/(vnorm·cnorm),
  * precomputed centroid norms), so it returns the assignments and probes
  * that form returns — `AnnParitySpec` pins it against that twin. A null
  * vector or a null element yields null (no list), as [[DotProductD]]
  * does; a vector whose dim differs from the centroids' throws.
  */
object NearestCentroids {

  /** SQL double ordering (Spark's own `compareDoubles`: NaN greatest,
    * NaN = NaN, -0.0 = 0.0) with the index tiebreak — the order the
    * literal struct-compare twins use.
    */
  private def better(a: Double, ai: Int, b: Double, bi: Int,
      tieLarger: Boolean): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(a, b)
    if (c != 0) c > 0 else if (tieLarger) ai > bi else ai < bi
  }

  def topK(v: ArrayData, k: Int, tieLarger: Boolean,
      cents: Array[Array[Double]], norms: Array[Double]): ArrayData = {
    val dim = v.numElements()
    val x = new Array[Double](dim)
    var s2 = 0.0
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      val xi = v.getDouble(i); x(i) = xi; s2 += xi * xi; i += 1
    }
    val vnorm = math.sqrt(s2)
    val kk = math.min(k, cents.length)
    val bs = new Array[Double](kk)
    val bi = new Array[Int](kk)
    var n = 0
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)
      // ragged input fails LOUDLY: a silently truncated dot would bucket
      // the vector by a prefix of its dims
      if (ctr.length != dim)
        throw new IllegalArgumentException(
          s"vector dim $dim != centroid dim ${ctr.length} (list $c)")
      var d = 0.0
      var j = 0
      while (j < dim) { d += x(j) * ctr(j); j += 1 }
      val cos = d / (vnorm * norms(c))
      // insertion into the descending top-k
      if (n < kk || better(cos, c, bs(n - 1), bi(n - 1), tieLarger)) {
        var p = if (n < kk) n else n - 1
        while (p > 0 && better(cos, c, bs(p - 1), bi(p - 1), tieLarger)) {
          bs(p) = bs(p - 1); bi(p) = bi(p - 1); p -= 1
        }
        bs(p) = cos; bi(p) = c
        if (n < kk) n += 1
      }
      c += 1
    }
    val out = new Array[Int](n)
    System.arraycopy(bi, 0, out, 0, n)
    new GenericArrayData(out)
  }

  /** @param tieLargerIdx cosine ties prefer the LARGER list id when true —
    *   the probe order, descending (cos, li) like the literal twin's
    *   `reverse(array_sort(...))`; assignment uses false, like its
    *   `greatest(struct(cos, -li))` (ties → smaller li).
    */
  def apply(v: Column, centroids: Array[Array[Double]], k: Int,
      tieLargerIdx: Boolean): Column = {
    // centroid norms with the literal twin's exact fold order (ascending sum)
    val norms = centroids.map(ctr => math.sqrt(ctr.map(x => x * x).sum))
    require(centroids.nonEmpty && centroids.length == norms.length && k >= 1)
    GraftBridge.staticCall(this, "topK", ArrayType(IntegerType, containsNull = false),
      Seq(v, lit(k), lit(tieLargerIdx)), Seq(ArrayType(DoubleType), IntegerType, BooleanType),
      refs = Seq(centroids, norms), returnsNull = true)
  }
}
