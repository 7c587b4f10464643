package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The search layer's sufficient statistics as one scalar `sum` column per
  * statistic: the declarative twin of the packed aggregate behind
  * `Gram.sums` and `Scoring.sums`, laid out like it, for parity pins.
  */
object ScalarSums {

  /** A null sum (no row added to it) reads 0, as a packed slot starts. */
  private def at(row: Row, i: Int): Double = row.get(i) match {
    case null => 0.0
    case l: Long => l.toDouble
    case d: Double => d
  }

  /** Per key value (null without a key): the row count and every Gram's
    * upper triangle, one after another.
    */
  def gram(
      df: DataFrame,
      z: Seq[Column],
      weights: Seq[Column] = Nil,
      key: Option[Column] = None
  ): Map[Any, (Long, Seq[Double])] = {
    val p = z.size
    val ws = if (weights.isEmpty) Seq(None) else weights.map(Some(_))
    val sums = for {
      w <- ws
      i <- 0 until p
      j <- i until p
    } yield sum(w.fold(z(i))(_ * z(i)) * z(j))
    val off = key.size + 1
    df.where(z.map(_.isNotNull).reduce(_ && _))
      .groupBy(key.toSeq: _*)
      .agg(count(lit(1)), sums: _*)
      .collect()
      .map { row =>
        (if (key.isEmpty) null else row.get(0)) ->
          (row.getLong(off - 1), (off until row.length).map(at(row, _)))
      }.toMap
  }

  /** Per candidate [n, Σf, Σf², Σy, Σy², Σfy], then the row total, over
    * the rows with a non-null `y`; a null, NaN or infinite f is skipped.
    */
  def score(df: DataFrame, y: Column, fs: Seq[Column]): Seq[Double] = {
    def safe(c: Column): Column =
      when(isnan(c) || c.isNull || c === Double.PositiveInfinity ||
        c === Double.NegativeInfinity, lit(null)).otherwise(c)
    val projected = df.where(y.isNotNull).select(
      (y.cast("double").as("__y") +:
        fs.zipWithIndex.map { case (c, i) => safe(c.cast("double")).as(s"f$i") }): _*)
    val aggs = fs.indices.flatMap { i =>
      val f = col(s"f$i"); val yy = col("__y")
      val ok = f.isNotNull
      Seq(count(when(ok, 1)), sum(when(ok, f)), sum(when(ok, f * f)),
        sum(when(ok, yy)), sum(when(ok, yy * yy)), sum(when(ok, f * yy)))
    }
    val row = projected.agg(count(lit(1)), aggs: _*).head()
    (1 until row.length).map(at(row, _)) :+ at(row, 0)
  }
}
