package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate scoring: the reference's `calculate_score` / `calculate_cv_score`
  * (featurebox/symbol/calculation/scores.py:84-277) re-expressed as Spark
  * aggregations, with the key batching idea from SURVEY §4: a whole GP
  * generation is evaluated as N expression columns in ONE select + ONE
  * aggregation pass over the cached feature frame — N scores for the price
  * of a single scan, instead of N jobs.
  */
object Scoring {

  /** Deterministic fold assignment — pure function of the row's key columns,
    * so CV splits are identical at any parallelism (SURVEY §7.4 point 3).
    */
  def foldCol(keys: Seq[Column], k: Int): Column =
    pmod(xxhash64(keys: _*), lit(k.toLong)).cast("int")

  /** Per-candidate sufficient statistics for r2/mse of ŷ vs y, with the
    * reference's error containment (scores.py:54-56): a candidate whose
    * column blows up (NaN/Inf/null) must not poison the batch — its bad rows
    * are neutralized per-candidate, and its score degrades to the worst
    * value (`uniform_score`, scores.py:72-81).
    */
  private def safe(c: Column): Column =
    when(isnan(c) || c.isNull || c === Double.PositiveInfinity ||
      c === Double.NegativeInfinity, lit(null)).otherwise(c)

  final case class Fit(a: Double, b: Double, r2: Double, mse: Double, n: Long)

  /** Upper bound on candidates per aggregation pass: 6·N+1 agg columns per
    * pass, and Catalyst codegen/planning degrades past a few thousand
    * expressions — at the reference's production population (pop=1000,
    * find2.py:84-90) an unchunked batch would be 6001 agg columns. 128
    * candidates = 769 aggs per pass, comfortably inside codegen limits.
    */
  val maxBatchChunk = 128

  /** Score N candidate expressions. For each candidate, fits the outer
    * linear coefficients A·f+B (the reference's add_coefficient outer pair,
    * coefficient.py:172-269) by closed-form OLS from the same aggregation,
    * then reports r2 of A·f+B vs y.
    *
    * One select (chunk of compiled columns) + one agg (6·chunk sums) per
    * [[maxBatchChunk]] candidates — whole-stage codegen'd, map-side
    * combined; callers should persist `df` so multi-chunk batches scan the
    * cached frame, not the source.
    */
  def scoreBatch(
      df: DataFrame,
      y: Column,
      candidates: Seq[(String, Column)]
  ): Map[String, Fit] =
    if (candidates.size <= maxBatchChunk) scoreChunk(df, y, candidates)
    else candidates.grouped(maxBatchChunk)
      .map(chunk => scoreChunk(df, y, chunk))
      .reduce(_ ++ _)

  private def scoreChunk(
      df: DataFrame,
      y: Column,
      candidates: Seq[(String, Column)]
  ): Map[String, Fit] = {
    val projected = df.select(
      (y.cast("double").as("__y") +:
        candidates.map { case (n, c) => safe(c.cast("double")).as(n) }): _*)
    val aggs = candidates.flatMap { case (n, _) =>
      val f = col(n); val yy = col("__y")
      val ok = f.isNotNull
      Seq(
        count(when(ok, 1)).as(s"${n}__n"),
        sum(when(ok, f)).as(s"${n}__sf"),
        sum(when(ok, f * f)).as(s"${n}__sff"),
        sum(when(ok, yy)).as(s"${n}__sy"),
        sum(when(ok, yy * yy)).as(s"${n}__syy"),
        sum(when(ok, f * yy)).as(s"${n}__sfy")
      )
    }
    val row = projected
      .agg(count(lit(1)).as("__total"), aggs: _*)
      .head()
    val total = row.getAs[Long]("__total")
    candidates.map { case (name, _) =>
      val n = row.getAs[Long](s"${name}__n")
      if (n < total || n < 2) name -> Fit(0, 0, worst, worst, n)
      else {
        val sf = row.getAs[Double](s"${name}__sf")
        val sff = row.getAs[Double](s"${name}__sff")
        val sy = row.getAs[Double](s"${name}__sy")
        val syy = row.getAs[Double](s"${name}__syy")
        val sfy = row.getAs[Double](s"${name}__sfy")
        val den = n * sff - sf * sf
        val (a, b) =
          if (math.abs(den) < 1e-300) (0.0, sy / n)
          else ((n * sfy - sf * sy) / den, (sy - (n * sfy - sf * sy) / den * sf) / n)
        val sse = syy - 2 * a * sfy - 2 * b * sy + a * a * sff +
          2 * a * b * sf + n * b * b
        val sst = syy - sy * sy / n
        val r2 = if (sst <= 0) worst else 1.0 - sse / sst
        val mse = sse / n
        val fit = Fit(a, b, r2, mse, n)
        if (r2.isNaN || mse.isNaN) name -> Fit(a, b, worst, worst, n)
        else name -> fit
      }
    }.toMap
  }

  /** Worst-score substitution (uniform_score, scores.py:72-81). */
  val worst: Double = -1.0
}
