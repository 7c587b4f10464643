package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Product-quantization kernels at SCALE-SAFE plan size (the
  * [[NearestCentroids]] doctrine applied to PQ): the full codebook
  * — m subspaces × nCodes codewords × dsub dims — rides as ONE codegen
  * reference object, so the plan stays constant-size at the codebook
  * shapes a real corpus needs (m=8..64, nCodes=256), where a
  * literal-expression encoding would be O(m·nCodes·dsub) plan NODES.
  *
  * IEEE op order matches the literal-expression twin EXACTLY: L2 distance
  * is an ascending left-fold of (x-c)² over the subvector, codes break
  * distance ties toward the SMALLER codeword index (the twin's
  * `least(struct(d, i))`), and the flat ADC LUT is laid out
  * [j·nCodes + i] in ascending (j, i). `AnnParitySpec` pins both. A null
  * vector or a null element yields null (no codes, no LUT), as
  * [[DotProductD]] does; a vector whose dim is not m·dsub throws.
  */
object PqKernels {

  /** The loop codes and LUT share: calls `put(j, i, d)` with the squared L2
    * distance d from v's subvector j to codeword i of codebook j, in
    * ascending (j, i). Returns false, calling nothing, when v has a null
    * element.
    */
  private def distances(v: ArrayData, book: Array[Array[Array[Double]]])(
      put: (Int, Int, Double) => Unit): Boolean = {
    val dsub = book(0)(0).length
    val dim = v.numElements()
    if (dim != book.length * dsub)
      throw new IllegalArgumentException(
        s"vector dim $dim != m·dsub = ${book.length}·$dsub")
    val x = new Array[Double](dim)
    var p = 0
    while (p < dim) {
      if (v.isNullAt(p)) return false
      x(p) = v.getDouble(p)
      p += 1
    }
    var j = 0
    while (j < book.length) {
      val cws = book(j)
      val off = j * dsub
      var i = 0
      while (i < cws.length) {
        val cw = cws(i)
        var d = 0.0
        p = 0
        while (p < dsub) {
          val t = x(off + p) - cw(p)
          d += t * t
          p += 1
        }
        put(j, i, d)
        i += 1
      }
      j += 1
    }
    true
  }

  /** codes(v): for each subspace j, the index of the L2-nearest codeword of
    * codebook[j] to v[j·dsub, (j+1)·dsub). Output: array<int> of length m.
    */
  def codes(v: ArrayData, book: Array[Array[Array[Double]]]): ArrayData = {
    val out = new Array[Int](book.length)
    val best = new Array[Double](book.length)
    // argmin in SQL double order (NaN greatest); ties keep the smaller i
    val complete = distances(v, book) { (j, i, d) =>
      if (i == 0 || SQLOrderingUtil.compareDoubles(best(j), d) > 0) { best(j) = d; out(j) = i }
    }
    if (complete) new GenericArrayData(out) else null
  }

  /** lut(q): flat ADC lookup table — entry [j·nCodes + i] is the L2
    * distance from q's subvector j to codeword i of codebook j. Output:
    * array<double> of length m·nCodes.
    */
  def lut(v: ArrayData, book: Array[Array[Array[Double]]]): ArrayData = {
    val nCodes = book(0).length
    val out = new Array[Double](book.length * nCodes)
    val complete = distances(v, book) { (j, i, d) => out(j * nCodes + i) = d }
    if (complete) new GenericArrayData(out) else null
  }
}

/** array<double> vector → array<int> PQ codes (one per subspace), via
  * [[PqKernels.codes]] with the codebook as one reference object.
  */
object PqCodes {
  def apply(v: Column, book: Array[Array[Array[Double]]]): Column = {
    require(book.nonEmpty && book.forall(_.nonEmpty))
    GraftBridge.staticCall(PqKernels, "codes", ArrayType(IntegerType, containsNull = false),
      Seq(v), Seq(ArrayType(DoubleType)), refs = Seq(book), returnsNull = true)
  }
}

/** array<double> query vector → flat array<double> ADC LUT (m·nCodes), via
  * [[PqKernels.lut]] with the codebook as one reference object.
  */
object PqLut {
  def apply(v: Column, book: Array[Array[Array[Double]]]): Column = {
    require(book.nonEmpty && book.forall(_.nonEmpty))
    GraftBridge.staticCall(PqKernels, "lut", ArrayType(DoubleType, containsNull = false),
      Seq(v), Seq(ArrayType(DoubleType)), refs = Seq(book), returnsNull = true)
  }
}
