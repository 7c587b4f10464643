package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate scoring: the reference's `calculate_score` / `calculate_cv_score`
  * (featurebox/symbol/calculation/scores.py:84-277) re-expressed as Spark
  * aggregations, with the key batching idea from SURVEY §4: a whole GP
  * generation is evaluated as N expression columns in ONE aggregation
  * pass over the cached feature frame — N scores for the price
  * of a single scan, instead of N jobs.
  */
object Scoring {

  /** Deterministic fold assignment — pure function of the row's key columns,
    * so CV splits are identical at any parallelism (SURVEY §7.4 point 3).
    */
  def foldCol(keys: Seq[Column], k: Int): Column =
    pmod(xxhash64(keys: _*), lit(k.toLong)).cast("int")

  final case class Fit(a: Double, b: Double, r2: Double, mse: Double, n: Long)

  /** Upper bound on candidates per aggregation pass. The pass holds one
    * aggregate expression at any N ([[ScoreSums]]), but its input
    * projection compiles all N candidate columns into one generated class;
    * at the reference's production population (pop=1000, find2.py:84-90)
    * an unchunked batch would be 1000 columns. 128 candidates per pass stay
    * comfortably inside codegen limits.
    */
  val maxBatchChunk = 128

  /** Score N candidate expressions. For each candidate, fits the outer
    * linear coefficients A·f+B (the reference's add_coefficient outer pair,
    * coefficient.py:172-269) by closed-form OLS from the same aggregation,
    * then reports r2 of A·f+B vs y.
    *
    * One aggregation (one packed aggregate over the compiled chunk) per
    * [[maxBatchChunk]] candidates, map-side combined; callers should
    * persist `df` so multi-chunk batches scan the cached frame, not the
    * source. A row with a null `y` is in no candidate's sums nor the total.
    */
  def scoreBatch(
      df: DataFrame,
      y: Column,
      candidates: Seq[(String, Column)]
  ): Map[String, Fit] =
    candidates.grouped(maxBatchChunk)
      .map(chunk => scoreChunk(df, y, chunk))
      .foldLeft(Map.empty[String, Fit])(_ ++ _)

  /** [[scoreChunk]]'s aggregation: one row of packed [[ScoreSums]]. */
  private[graft] def sums(df: DataFrame, y: Column, fs: Seq[Column]): DataFrame =
    df.agg(new ScoreSums(fs.size)(y +: fs).as("__s"))

  private def scoreChunk(
      df: DataFrame,
      y: Column,
      candidates: Seq[(String, Column)]
  ): Map[String, Fit] = {
    val s = sums(df, y, candidates.map(_._2)).head().getSeq[Double](0)
    val total = s(6 * candidates.size).toLong
    candidates.zipWithIndex.map { case ((name, _), c) =>
      val Seq(nd, sf, sff, sy, syy, sfy) = s.slice(6 * c, 6 * c + 6)
      val n = nd.toLong
      if (n < total || n < 2) name -> Fit(0, 0, worst, worst, n)
      else {
        val den = n * sff - sf * sf
        val (a, b) =
          if (math.abs(den) < 1e-300) (0.0, sy / n)
          else ((n * sfy - sf * sy) / den, (sy - (n * sfy - sf * sy) / den * sf) / n)
        val sse = syy - 2 * a * sfy - 2 * b * sy + a * a * sff +
          2 * a * b * sf + n * b * b
        val sst = syy - sy * sy / n
        val r2 = if (sst <= 0) worst else 1.0 - sse / sst
        val mse = sse / n
        if (r2.isNaN || mse.isNaN) name -> Fit(a, b, worst, worst, n)
        else name -> Fit(a, b, r2, mse, n)
      }
    }.toMap
  }

  /** Worst-score substitution (uniform_score, scores.py:72-81). */
  val worst: Double = -1.0
}

/** Per candidate [n, Σf, Σf², Σy, Σy², Σfy], then the row total, from rows
  * [y, f_1..f_N]. A row with a null y adds nothing. The reference's error
  * containment (scores.py:54-56): a null, NaN or ±Inf f adds nothing to its
  * candidate, so a candidate that blows up cannot poison the batch; its
  * n < total then scores it worst (`uniform_score`, scores.py:72-81).
  */
private final class ScoreSums(nc: Int) extends PackedSums(6 * nc + 1) {
  def reduce(buf: Array[Double], in: Array[java.lang.Double]): Array[Double] = {
    if (in(0) != null) {
      val y: Double = in(0)
      buf(6 * nc) += 1
      for (c <- 0 until nc) {
        val (fb, o) = (in(c + 1), 6 * c)
        if (fb != null && !fb.isNaN && !fb.isInfinite) {
          val f = fb.doubleValue
          buf(o) += 1; buf(o + 1) += f; buf(o + 2) += f * f
          buf(o + 3) += y; buf(o + 4) += y * y; buf(o + 5) += f * y
        }
      }
    }
    buf
  }
}
