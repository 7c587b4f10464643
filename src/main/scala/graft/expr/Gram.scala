package graft.expr

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sufficient statistics of a linear design: G = Z'Z for Z = [X | 1 | y]
  * (or any column list), and the row count.
  */
final case class Gram(m: DenseMatrix[Double], n: Long) {
  def merge(o: Gram): Gram = Gram(m + o.m, n + o.n)
  def diff(o: Gram): Gram = Gram(m - o.m, n - o.n)
}

object Gram {

  /** The one Gram builder of the search layer (correlation, fold-Gram CV,
    * coefficient fits, EGO bootstraps): every Gram of `z` in ONE
    * aggregation pass over `df`. Without `weights` each Gram sums z_i·z_j;
    * with them there is one Gram per weight column, summing w·z_i·z_j.
    * With a `key` the result has one entry per key value (a null key
    * included), paired with that value; without one it has exactly one
    * entry (key value null; zero sums for an empty `df`).
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
    val ws = if (weights.isEmpty) Seq(None) else weights.map(Some(_))
    val sums = for {
      (w, b) <- ws.zipWithIndex
      i <- 0 until p
      j <- i until p
    } yield sum(w.fold(z(i))(_ * z(i)) * z(j)).as(s"g_${b}_${i}_$j")
    val off = key.size + 1 // key, then the row count
    df.where(z.map(_.isNotNull).reduce(_ && _))
      .groupBy(key.toSeq: _*)
      .agg(count(lit(1)).as("__n"), sums: _*)
      .collect()
      .map { row =>
        val grams = ws.indices.map { b =>
          val m = DenseMatrix.zeros[Double](p, p)
          var at = off + b * p * (p + 1) / 2
          for (i <- 0 until p; j <- i until p) {
            // an empty input's sums are null: read as 0
            val v = if (row.isNullAt(at)) 0.0 else row.getDouble(at)
            m(i, j) = v; m(j, i) = v
            at += 1
          }
          Gram(m, row.getLong(off - 1))
        }
        (if (key.isEmpty) null else row.get(0), grams)
      }
  }

  /** The single unweighted Gram of `z` over all of `df`. */
  private[graft] def of(df: DataFrame, z: Seq[Column]): Gram =
    build(df, z).head._2.head
}
