package graft.expr

import breeze.linalg.{DenseMatrix, DenseVector, pinv}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Coefficient fitting for symbolic expressions — the reference's
  * `try_add_coef`/`add_coefficient` + scipy `least_squares`
  * (featurebox/symbol/calculation/coefficient.py:16-427), split by case:
  *
  *  - outer A·f(x)+B: closed-form OLS inside the batch scorer
  *    (Scoring.scoreBatch) — no driver data.
  *  - per-term weights y ≈ Σ W_i·f_i(x) + B (the reference's per-Add-term
  *    W_i): Gram-matrix normal equations, one Spark pass ([[linearTerms]]).
  *  - inner nonlinear coefficients y ≈ g(x; θ): Gauss-Newton with numeric
  *    jacobian over a bounded driver-side sample ([[nonlinear]]) —
  *    mirroring least_squares' 3-point jacobian on collected data, sample
  *    size capped so driver memory is bounded regardless of table size.
  */
object CoefFit {

  /** Fit W, B for y ≈ Σ W_i·term_i + B via normal equations from ONE
    * aggregation pass (Gram of [terms | 1 | y]).
    */
  def linearTerms(df: DataFrame, y: Column, terms: Seq[Column]): (DenseVector[Double], Double) = {
    val g = Gram.of(df, terms.map(_.cast("double")) :+ lit(1.0) :+ y.cast("double"))
    val k = terms.size + 1 // + intercept
    val xtx = g.m(0 until k, 0 until k)
    val xty = g.m(0 until k, k)
    val beta = pinv(xtx) * xty
    (beta(0 until terms.size), beta(terms.size))
  }

  /** Gauss-Newton over a deterministic sample. `f(xRow, theta)` evaluates
    * the model for one sample row; jacobian by central differences
    * (least_squares 3-point, coefficient.py:401-402).
    *
    * @param sample rows of feature values (driver-side, caller caps size)
    */
  def nonlinear(
      sample: Array[(Array[Double], Double)], // (x, y)
      f: (Array[Double], Array[Double]) => Double,
      theta0: Array[Double],
      maxIter: Int = 50,
      xtol: Double = 1e-4, // reference parity (coefficient.py:401)
      damping: Double = 1e-8
  ): Array[Double] = {
    val k = theta0.length
    var theta = theta0.clone()
    def sse(t: Array[Double]): Double =
      sample.map { case (x, y) => val e = f(x, t) - y; e * e }.sum
    var lambda = 1e-3 // Levenberg-Marquardt adaptive damping
    var err = sse(theta)
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > xtol) {
      iter += 1
      val r = sample.map { case (x, y) => f(x, theta) - y }
      val jac = Array.ofDim[Double](sample.length, k)
      for (j <- 0 until k) {
        val h = math.max(1e-6, math.abs(theta(j)) * 1e-6)
        val tp = theta.clone(); tp(j) += h
        val tm = theta.clone(); tm(j) -= h
        for (i <- sample.indices)
          jac(i)(j) = (f(sample(i)._1, tp) - f(sample(i)._1, tm)) / (2 * h)
      }
      val jtr = DenseVector.tabulate(k)(a =>
        sample.indices.map(i => jac(i)(a) * r(i)).sum)
      var accepted = false
      var tries = 0
      while (!accepted && tries < 12) {
        tries += 1
        val jtj = DenseMatrix.tabulate(k, k)((a, b) =>
          sample.indices.map(i => jac(i)(a) * jac(i)(b)).sum +
            (if (a == b) lambda + damping else 0.0))
        val step = pinv(jtj) * jtr
        val cand = theta.indices.map(i => theta(i) - step(i)).toArray
        val candErr = sse(cand)
        if (!candErr.isNaN && candErr < err) {
          theta = cand; err = candErr
          moved = breeze.linalg.norm(step)
          lambda = math.max(lambda / 10, 1e-12)
          accepted = true
        } else {
          lambda *= 10
        }
      }
      if (!accepted) moved = 0.0 // stuck: stop
    }
    theta
  }

  /** Deterministic bounded sample of (features, y) for nonlinear fitting:
    * hash-ordered take, independent of partitioning.
    */
  def sampleRows(df: DataFrame, xs: Seq[Column], y: Column, cap: Int): Array[(Array[Double], Double)] = {
    val cols = xs.map(_.cast("double")) :+ y.cast("double")
    df.select(cols: _*)
      .orderBy(xxhash64(cols: _*))
      .limit(cap)
      .collect()
      .map(r => (Array.tabulate(xs.size)(r.getDouble), r.getDouble(xs.size)))
  }
}
