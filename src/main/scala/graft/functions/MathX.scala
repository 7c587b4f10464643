package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.types.DoubleType

/** Scalar math kernels missing from Spark's builtin function set, exposed as
  * native kernel columns (no UDF, stays inside whole-stage codegen).
  */
object MathX {

  /** Error function via the Abramowitz–Stegun 7.1.26 rational approximation
    * (|ε| ≤ 1.5e-7 — within the tolerance the EGO acquisition comparisons
    * need; the JDK has no erf and the only library with one on the
    * classpath, breeze, is driver-side).
    */
  def erf(x: Double): Double = {
    val s = if (x < 0) -1.0 else 1.0
    val ax = math.abs(x)
    val t = 1.0 / (1.0 + 0.3275911 * ax)
    val poly = ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t
    s * (1.0 - poly * math.exp(-ax * ax))
  }

  /** Standard normal CDF Φ(z). */
  def normCdf(z: Double): Double = 0.5 * (1.0 + erf(z / math.sqrt(2.0)))
}

/** erf(x) as a native kernel column over [[MathX.erf]]; any numeric
  * column works (it is cast to double first). ExprSpec's egoSearch test pins
  * the acquisition values it feeds.
  */
object Erf {
  def apply(c: Column): Column =
    GraftBridge.staticCall(MathX, "erf", DoubleType, Seq(c.cast("double")), Seq(DoubleType))
}
