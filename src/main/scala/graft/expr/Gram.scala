package graft.expr

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Sufficient statistics of a linear design: G = Z'Z for Z = [X | 1 | y]
  * (or any column list), and the row count.
  */
final case class Gram(m: DenseMatrix[Double], n: Long) {
  def merge(o: Gram): Gram = Gram(m + o.m, n + o.n)
  def diff(o: Gram): Gram = Gram(m - o.m, n - o.n)
}

/** The one aggregate behind every Gram and every candidate score: `width`
  * running sums packed in one `double` buffer, fed one array column per
  * row. Each slot starts at 0.0 and adds its rows in row order; partial
  * buffers merge slot by slot. One aggregate expression at any width.
  */
private[expr] abstract class PackedSums(width: Int)
    extends Aggregator[Array[java.lang.Double], Array[Double], Array[Double]] {
  def zero: Array[Double] = new Array[Double](width)
  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    for (i <- 0 until width) a(i) += b(i)
    a
  }
  def finish(buf: Array[Double]): Array[Double] = buf
  def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  def apply(in: Seq[Column]): Column =
    udaf(this, ExpressionEncoder[Array[java.lang.Double]]())(array(in.map(_.cast("double")): _*))
}

/** The upper triangles of B Grams of p columns, one after another, from
  * rows [w_1..w_B, z_1..z_p]: slot (i, j) of Gram b adds (w_b·z_i)·z_j,
  * and nothing for a null w_b. Without weights (B = 0) one Gram adds z_i·z_j.
  */
private final class GramSums(nw: Int, p: Int)
    extends PackedSums(math.max(nw, 1) * p * (p + 1) / 2) {
  def reduce(buf: Array[Double], in: Array[java.lang.Double]): Array[Double] = {
    val z = in.drop(nw).map(_.doubleValue)
    var at = 0
    for (b <- 0 until math.max(nw, 1)) {
      val w = if (nw == 0) null else in(b)
      for (i <- 0 until p) {
        val zi = if (w == null) z(i) else w * z(i)
        for (j <- i until p) { if (nw == 0 || w != null) buf(at) += zi * z(j); at += 1 }
      }
    }
    buf
  }
}

object Gram {

  /** The one Gram builder of the search layer (correlation, fold-Gram CV,
    * coefficient fits, EGO bootstraps): every Gram of `z` from ONE packed
    * aggregate ([[PackedSums]]) beside the exact row count, in one pass
    * over `df`. Without `weights` each Gram sums z_i·z_j; with them there
    * is one Gram per weight column, summing (w·z_i)·z_j, and a null weight
    * adds nothing. With a `key` the result has one entry per key value (a
    * null key included), paired with that value; without one it has
    * exactly one entry (key value null; zero sums for an empty `df`).
    *
    * Null rule: a row with a null in any `z` column is left out of every
    * sum and of `n`, so all entries describe the same rows. NaN is a value,
    * not a null: it stays in and propagates.
    */
  private[graft] def build(
      df: DataFrame,
      z: Seq[Column],
      weights: Seq[Column] = Nil,
      key: Option[Column] = None
  ): Array[(Any, IndexedSeq[Gram])] = {
    val p = z.size
    sums(df, z, weights, key).collect().map { row =>
      val s = row.getSeq[Double](key.size + 1)
      val grams = (0 until math.max(weights.size, 1)).map { b =>
        val m = DenseMatrix.zeros[Double](p, p)
        var at = b * p * (p + 1) / 2
        for (i <- 0 until p; j <- i until p) { m(i, j) = s(at); m(j, i) = s(at); at += 1 }
        Gram(m, row.getLong(key.size))
      }
      (if (key.isEmpty) null else row.get(0), grams)
    }
  }

  /** [[build]]'s aggregation: the key (if any), the row count, the packed sums. */
  private[graft] def sums(
      df: DataFrame,
      z: Seq[Column],
      weights: Seq[Column] = Nil,
      key: Option[Column] = None
  ): DataFrame =
    df.where(z.map(_.isNotNull).reduce(_ && _))
      .groupBy(key.toSeq: _*)
      .agg(count(lit(1)).as("__n"), new GramSums(weights.size, z.size)(weights ++ z).as("__g"))

  /** The single unweighted Gram of `z` over all of `df`. */
  private[graft] def of(df: DataFrame, z: Seq[Column]): Gram =
    build(df, z).head._2.head
}
