package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Product-quantization kernels at SCALE-SAFE plan size (the
  * [[NearestCentroids]] doctrine applied to PQ): the full codebook
  * — m subspaces × nCodes codewords × dsub dims — rides as ONE codegen
  * reference object, so the plan stays constant-size at the codebook
  * shapes a real corpus needs (m=8..64, nCodes=256), where a
  * literal-expression encoding would be O(m·nCodes·dsub) plan NODES.
  *
  * IEEE op order matches the literal parity path EXACTLY: L2 distance is
  * an ascending left-fold of (x-c)² over the subvector, codes break
  * distance ties toward the SMALLER codeword index (the literal path's
  * `least(struct(d, i))`), and the flat ADC LUT is laid out
  * [j·nCodes + i] in ascending (j, i). `AnnParitySpec` pins both.
  */
object PqKernels {

  /** Shared double comparison with SQL semantics (NaN greatest, ties by
    * smaller index) for the encode argmin.
    */
  private def worse(a: Double, b: Double): Boolean = {
    // true iff a is strictly worse (larger distance) than b
    val aNaN = java.lang.Double.isNaN(a)
    val bNaN = java.lang.Double.isNaN(b)
    if (aNaN) !bNaN else if (bNaN) false else a > b
  }

  /** codes(v): for each subspace j, the index of the L2-nearest codeword of
    * codebook[j] to v[j·dsub, (j+1)·dsub). Output: array<int> of length m.
    */
  def codes(v: ArrayData, book: Array[Array[Array[Double]]]): ArrayData = {
    val m = book.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cws = book(j)
      val dsub = cws(0).length
      val off = j * dsub
      if (v.numElements() < off + dsub)
        throw new IllegalArgumentException(
          s"vector dim ${v.numElements()} too short for subspace $j (needs ${off + dsub})")
      var best = Double.NaN
      var bi = -1
      var i = 0
      while (i < cws.length) {
        val cw = cws(i)
        var d = 0.0
        var p = 0
        while (p < dsub) {
          val t = v.getDouble(off + p) - cw(p)
          d += t * t
          p += 1
        }
        if (bi < 0 || worse(best, d)) { best = d; bi = i }
        i += 1
      }
      out(j) = bi
      j += 1
    }
    new GenericArrayData(out)
  }

  /** lut(q): flat ADC lookup table — entry [j·nCodes + i] is the L2
    * distance from q's subvector j to codeword i of codebook j. Output:
    * array<double> of length m·nCodes.
    */
  def lut(v: ArrayData, book: Array[Array[Array[Double]]]): ArrayData = {
    val m = book.length
    val nCodes = book(0).length
    val out = new Array[Double](m * nCodes)
    var j = 0
    while (j < m) {
      val cws = book(j)
      val dsub = cws(0).length
      val off = j * dsub
      if (v.numElements() < off + dsub)
        throw new IllegalArgumentException(
          s"vector dim ${v.numElements()} too short for subspace $j (needs ${off + dsub})")
      var i = 0
      while (i < cws.length) {
        val cw = cws(i)
        var d = 0.0
        var p = 0
        while (p < dsub) {
          val t = v.getDouble(off + p) - cw(p)
          d += t * t
          p += 1
        }
        out(j * nCodes + i) = d
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** array<double> vector → array<int> PQ codes (one per subspace), via
  * [[PqKernels.codes]] with the codebook as one reference object.
  */
object PqCodes {
  def apply(v: Column, book: Array[Array[Array[Double]]]): Column = {
    require(book.nonEmpty && book.forall(_.nonEmpty))
    GraftBridge.staticCall(PqKernels, "codes", ArrayType(IntegerType, containsNull = false),
      Seq(v), Seq(ArrayType(DoubleType)), refs = Seq(book))
  }
}

/** array<double> query vector → flat array<double> ADC LUT (m·nCodes), via
  * [[PqKernels.lut]] with the codebook as one reference object.
  */
object PqLut {
  def apply(v: Column, book: Array[Array[Array[Double]]]): Column = {
    require(book.nonEmpty && book.forall(_.nonEmpty))
    GraftBridge.staticCall(PqKernels, "lut", ArrayType(DoubleType, containsNull = false),
      Seq(v), Seq(ArrayType(DoubleType)), refs = Seq(book))
  }
}
