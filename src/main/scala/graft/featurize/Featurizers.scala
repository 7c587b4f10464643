package graft.featurize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composition featurizers: the reference's core featurization pattern
  * (featurebox/featurizers/compositionfeaturizer.py) re-expressed as
  * explode → broadcast lookup join → weighted pooled aggregation.
  *
  * Reference semantics: an entity is a composition `map<part, count>`; a
  * static lookup table maps part → numeric attributes; each featurizer pools
  * the attribute vectors of the entity's parts with count-derived weights
  * (WeightedAverage compositionfeaturizer.py:78-85, WeightedSum :113-120,
  * GeometricMean :148-156, HarmonicMean :184-193, WeightedVariance :221-230,
  * Max/MinPooling :258-298).
  *
  * Scale shape: the lookup table is tiny → `broadcast()`; the explode output
  * is |entities| × |parts-per-entity| rows, aggregated straight back down
  * with map-side partial aggregation — one shuffle of O(entities) rows.
  */
object Composition {

  /** Long-format composition: (entity, part, n). Cheaper than materializing
    * the map when the very next step explodes it again.
    */
  def compositionLong(df: DataFrame, entity: String, part: String): DataFrame =
    df.groupBy(col(entity), col(part)).agg(count(lit(1)).cast("double").as("n"))

  /** All pooled statistics of one attribute over an exploded composition
    * joined to its lookup table. `attr` is the looked-up attribute column,
    * `n` the per-part count weight. Every pool is a single-pass algebraic
    * aggregate (whole-stage codegen, map-side combine).
    */
  def pools(attr: Column, n: Column): Seq[(String, Column)] = Seq(
    "wavg" -> sum(n * attr) / sum(n), // WeightedAverage: w=n/Σn, w·M
    "wsum" -> sum(n * attr), // WeightedSum: n·M
    "geom" -> exp(sum(n * log(attr)) / sum(n)), // GeometricMean: (Πa^n)^(1/Σn)
    "harm" -> sum(n) / sum(n / attr), // HarmonicMean
    "wvar" -> (sum(n * attr * attr) / sum(n) -
      (sum(n * attr) / sum(n)) * (sum(n * attr) / sum(n))), // WeightedVariance
    "maxp" -> max(attr), // MaxPooling
    "minp" -> min(attr) // MinPooling
  )

  /** Full composition-featurizer pipeline over long-format events-like data:
    * composition(entity, part, n) ⨝ broadcast(lookup) → pooled stats per
    * entity for each attribute column of the lookup table.
    */
  def featurize(
      long: DataFrame, // (entity, part, n)
      lookup: DataFrame, // (part, attr1, attr2, ...)
      entity: String,
      part: String,
      attrs: Seq[String]
  ): DataFrame = {
    val joined = long.join(broadcast(lookup), Seq(part))
    val aggs = attrs.flatMap { a =>
      pools(col(a), col("n")).map { case (nm, c) => c.as(s"${a}_$nm") }
    }
    joined.groupBy(col(entity)).agg(aggs.head, aggs.tail: _*)
  }
}

/** DepartElementFeaturizer analog (compositionfeaturizer.py:368-384): no
  * pooling — pivot each part into its own wide column block.
  */
object Depart {
  def pivotCounts(df: DataFrame, entity: String, part: String,
      values: Seq[String]): DataFrame =
    df.groupBy(col(entity))
      .pivot(part, values) // explicit value list: single pass, stable schema
      .agg(count(lit(1)))
      .na.fill(0L, values)
}

/** PolyFeaturizer analog (featurebox/featurizers/polyfeature.py:36-76):
  * all degree-tuples over the input columns, each feature the product of
  * per-column powers, labelled like the reference (`x0^2*x1^1`).
  */
object Poly {
  /** All tuples in degrees^cols (cartesian power). Guard mirrors the
    * reference's 1e6 cap (polyfeature.py:38).
    */
  def degreeTuples(nCols: Int, degrees: Seq[Int]): Seq[Seq[Int]] = {
    require(math.pow(degrees.size.toDouble, nCols.toDouble) <= 1e6,
      "polynomial feature explosion")
    (1 to nCols).foldLeft(Seq(Seq.empty[Int]))((acc, _) =>
      acc.flatMap(t => degrees.map(d => t :+ d)))
  }

  def features(cols: Seq[Column], degrees: Seq[Int]): Seq[(String, Column)] =
    degreeTuples(cols.size, degrees)
      .filter(_.exists(_ != 0)) // drop the all-zero constant feature
      .map { tup =>
        val name = tup.zipWithIndex.collect {
          case (d, i) if d != 0 => s"x$i^$d"
        }.mkString("*")
        val expr = tup.zipWithIndex.collect {
          case (d, i) if d != 0 =>
            if (d == 1) cols(i) else pow(cols(i), lit(d))
        }.reduce(_ * _)
        name -> expr
      }

  def transform(df: DataFrame, inputs: Seq[String], degrees: Seq[Int]): DataFrame =
    features(inputs.map(col), degrees).foldLeft(df) { case (d, (nm, c)) =>
      d.withColumn(nm, c)
    }
}

/** MagnitudeTransformer analog (featurebox/symbol/preprocess.py:25-170):
  * rescale each column by its order of magnitude 10^round(log10(mean|x|)),
  * remembering scales for the inverse transform.
  */
final case class MagnitudeModel(scales: Map[String, Double]) {
  def transform(df: DataFrame): DataFrame =
    scales.foldLeft(df) { case (d, (c, s)) =>
      d.withColumn(c, col(c) / lit(s))
    }
  def inverse(df: DataFrame): DataFrame =
    scales.foldLeft(df) { case (d, (c, s)) =>
      d.withColumn(c, col(c) * lit(s))
    }
}

object Magnitude {
  /** One aggregation pass computes every column's mean magnitude; the tiny
    * (1 × nCols) result comes to the driver to build the scale model —
    * the reference's fit() with the data-pass distributed.
    */
  def fit(df: DataFrame, cols: Seq[String], tolerance: Double = 1e-9): MagnitudeModel = {
    val row = df.select(cols.map(c => avg(abs(col(c))).as(c)): _*).head()
    val scales = cols.zipWithIndex.map { case (c, i) =>
      val m = row.getDouble(i)
      val s =
        if (m.isNaN || m <= tolerance) 1.0
        else math.pow(10.0, math.floor(math.log10(m)))
      c -> s
    }.toMap
    MagnitudeModel(scales)
  }
}

/** UnionFeaturizer analog (featurebox/featurizers/unionfeaturizer.py:29-50):
  * pool statistics ACROSS a row-local group of columns — expressed with
  * higher-order array functions, no UDF, fully codegen'd.
  */
object UnionPool {
  def rowStats(df: DataFrame, inputs: Seq[String], prefix: String = "row"): DataFrame = {
    // static fold over the (driver-known) column list instead of an array
    // HOF chain: the SAME left-fold op sequence ((0+x0)+x1)+... so values
    // are bit-identical, but everything whole-stage-codegens instead of
    // allocating an array + interpreting 4 lambda walks per row (guide §4;
    // measured on q17: the HOF form dominated an otherwise pure projection)
    val n = lit(inputs.size.toDouble)
    val mean = inputs.map(col).foldLeft(lit(0.0))(_ + _) / n
    val m2 = inputs.map(col).foldLeft(lit(0.0))((acc, x) => acc + x * x) / n
    // least/greatest over non-null doubles == array_min/array_max (both
    // skip nulls the same way only when no nulls exist; featurizer inputs
    // are non-null by contract — UnionPoolSpec pins the parity)
    df.withColumn(s"${prefix}_mean", mean)
      .withColumn(s"${prefix}_std", sqrt(m2 - mean * mean))
      .withColumn(s"${prefix}_min",
        if (inputs.size == 1) col(inputs.head)
        else least(inputs.map(col): _*))
      .withColumn(s"${prefix}_max",
        if (inputs.size == 1) col(inputs.head)
        else greatest(inputs.map(col): _*))
  }
}
