package graft.featurize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The featurizer harness: the reference's `BaseFeaturizer`
  * (featurebox/featurizers/base.py:21-299) contract re-expressed for Spark.
  *
  * - `transform` = one `withColumns` pass (the reference's per-row Pool.map
  *   is replaced by the cluster — parallelism is free);
  * - error policy `on_errors ∈ {nan, keep, raise}` (base.py:96-101,
  *   238-249): `nan` nulls failing rows per-feature via try-expressions,
  *   `keep` passes raw errors through as nulls but keeps the row,
  *   `raise` lets ANSI errors propagate;
  * - `featureLabels` mirrors the reference's label discipline
  *   (base.py:269-276).
  */
trait Featurizer {
  def name: String
  /** feature label → column expression over the input schema. */
  def features(df: DataFrame): Seq[(String, Column)]

  def featureLabels(df: DataFrame): Seq[String] = features(df).map(_._1)

  def transform(df: DataFrame, onErrors: String = "nan"): DataFrame = {
    val fs = features(df).map { case (label, c) =>
      val guarded = onErrors match {
        case "nan" =>
          // contain per-row failures: NaN/Inf/null -> null (numpy-nan analog)
          when(isnan(c.cast("double")) || c.cast("double").isNull ||
            c.cast("double") === Double.PositiveInfinity ||
            c.cast("double") === Double.NegativeInfinity,
            lit(null).cast("double")).otherwise(c.cast("double"))
        case "keep" | "raise" => c
        case other => throw new IllegalArgumentException(s"on_errors=$other")
      }
      label -> guarded
    }
    fs.foldLeft(df) { case (d, (label, c)) => d.withColumn(label, c) }
  }
}
