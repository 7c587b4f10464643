package graft.search

import breeze.linalg.{DenseMatrix, DenseVector, MatrixSingularException, inv}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.{Gram, Scoring}

/** One-pass cross-validated linear scoring for feature-subset search.
  *
  * The insight that makes Exhaustion/BackForward/GA subset search cheap at
  * 100 TB: compute the FULL (d+1)×(d+1) Gram matrix [X y]'[X y] once per CV
  * fold in a single Spark aggregation (d is tens of features — the sums fit
  * in one row), then every candidate subset's OLS fit and CV score is pure
  * driver-side linear algebra on sub-matrices. The reference re-fits sklearn
  * models per subset per fold (selection/exhaustion.py:58-121,
  * quickmethod.py:349-381) — an O(subsets × folds) data-pass pattern that
  * cannot scale; here the data is touched exactly once.
  */
final case class FoldGrams(
    features: Seq[String],
    folds: Array[Gram]
) {
  val d: Int = features.size
  private val total: Gram = folds.reduce(_ merge _)

  /** Per-fold R² of OLS on the given feature-index subset: fold f's score
    * is the fit on every other fold (train = all−f) tested on fold f.
    * `ridge` > 0 turns the fit into ridge regression on the same Grams —
    * the "different base estimator" axis that multi-model UGS/SUM compose
    * over. A singular train Gram (collinear subset) scores
    * `Scoring.worst`; any other error propagates.
    */
  def foldR2(subset: Seq[Int], ridge: Double = 0.0): Array[Double] =
    folds.map { test =>
      try GramCV.r2(test, subset, GramCV.solve(total diff test, subset, ridge))
      catch { case _: MatrixSingularException => Scoring.worst }
    }

  /** CV R²: the mean of [[foldR2]]. Mirrors calculate_cv_score
    * (scores.py:157-277) with shuffle=False determinism; a NaN mean scores
    * `Scoring.worst`.
    */
  def cvR2(subset: Seq[Int], ridge: Double = 0.0): Double = {
    val scores = foldR2(subset, ridge)
    val s = scores.sum / scores.length
    if (s.isNaN) Scoring.worst else s
  }

  /** In-sample R² on all data (refit path, scores.py:271-275). */
  def fitR2(subset: Seq[Int]): Double =
    try GramCV.r2(total, subset, GramCV.solve(total, subset))
    catch { case _: MatrixSingularException => Scoring.worst }

  def coefficients(subset: Seq[Int]): DenseVector[Double] =
    GramCV.solve(total, subset)
}

object GramCV {

  /** One aggregation pass building every fold's Gram matrix.
    * Output row count = k (tiny); all heavy lifting is map-side partial
    * aggregation of one packed buffer per fold: the (d+2)(d+3)/2 sums of
    * each Gram's upper triangle.
    */
  def fit(
      df: DataFrame,
      features: Seq[String],
      y: String,
      k: Int,
      foldKeys: Seq[Column]
  ): FoldGrams =
    fitWithFold(df, features, y, k, Scoring.foldCol(foldKeys, k))

  /** Variant taking an explicit fold column (values 0..k-1). A fold with
    * no rows has an empty Gram; a null fold value or one outside 0..k-1 is
    * a caller bug and throws IllegalArgumentException naming the values.
    */
  def fitWithFold(
      df: DataFrame,
      features: Seq[String],
      y: String,
      k: Int,
      fold: Column
  ): FoldGrams = {
    val z = features.map(f => col(f).cast("double")) :+ lit(1.0) :+
      col(y).cast("double")
    val byFold = Gram.build(df, z, key = Some(fold.cast("int")))
      .map { case (f, g) => (f, g.head) }.toMap
    val bad = byFold.keys.filterNot(f => (0 until k).contains(f))
    require(bad.isEmpty, s"fold values outside 0 until $k: ${bad.mkString(", ")}")
    val empty = Gram(DenseMatrix.zeros[Double](z.size, z.size), 0L)
    FoldGrams(features, Array.tabulate(k)(f => byFold.getOrElse(f, empty)))
  }

  /** OLS / ridge solve on the subset (+ intercept): beta = (X'X + λI)⁻¹ X'y
    * from Gram sub-blocks (λ is not applied to the intercept slot). subset
    * holds feature indices into `features`.
    */
  def solve(g: Gram, subset: Seq[Int], ridge: Double = 0.0): DenseVector[Double] = {
    val p = g.m.rows
    val cols = (subset :+ (p - 2)).toArray // + intercept column
    val yIdx = p - 1
    val xtx = DenseMatrix.tabulate(cols.length, cols.length)((i, j) =>
      g.m(cols(i), cols(j)) +
        (if (i == j && i < subset.length) ridge else 0.0))
    val xty = DenseVector.tabulate(cols.length)(i => g.m(cols(i), yIdx))
    inv(xtx) * xty
  }

  /** R² of beta on a fold's Gram: 1 − SSE/SST, all from sufficient stats. */
  def r2(g: Gram, subset: Seq[Int], beta: DenseVector[Double]): Double = {
    val p = g.m.rows
    val cols = (subset :+ (p - 2)).toArray
    val yIdx = p - 1
    val syy = g.m(yIdx, yIdx)
    val sy = g.m(p - 2, yIdx) // 1'y
    var sse = syy
    for (i <- cols.indices) {
      sse -= 2.0 * beta(i) * g.m(cols(i), yIdx)
      for (j <- cols.indices)
        sse += beta(i) * beta(j) * g.m(cols(i), cols(j))
    }
    val sst = syy - sy * sy / g.n
    if (sst <= 0) Scoring.worst else 1.0 - sse / sst
  }
}
