package graft.search

import breeze.linalg.DenseVector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.Gram

/** EGO (efficient global optimization) ranking — the reference's
  * `featurebox/ego/multiplyego.py` rebuilt for Spark scale.
  *
  * - search space: crossJoin of candidate axes (search_space :21-25);
  * - bootstrap model fits (Fit :89-119): B deterministic hash-weighted
  *   resamples fitted by ridge-regularized OLS — all B weighted Gram
  *   matrices accumulate in ONE Spark pass over the training data;
  * - acquisition (CalculatePi/L/Ei :166-216): per-candidate predictions of
  *   all B models evaluated as B columns over the (possibly huge) search
  *   space — probability of improvement × expected gap, fully distributed;
  * - Rank (:218-225): order by EI desc.
  */
object Ego {

  /** Cartesian search space from per-feature candidate axes. */
  def searchSpace(spark: SparkSession, axes: Seq[(String, Seq[Double])]): DataFrame =
    axes.foldLeft(spark.range(1).select()) { case (df, (name, vals)) =>
      df.crossJoin(
        spark.createDataFrame(vals.map(Tuple1(_))).toDF(name))
    }

  /** Deterministic uniform in [0,1) for (rowKey, b) from the same LCG family
    * as Ann.planeComponent — a closed form any SQL engine reproduces exactly
    * (no engine-private hashes), so bootstrap fits are oracle-verifiable.
    * The key is bounded (mod 2^31−1) BEFORE the multiply so arbitrary row
    * ids can never overflow a long under ANSI mode.
    */
  def bootUniform(rowKey: Column, b: Int): Column =
    pmod(pmod(rowKey, lit(2147483647L)) * lit(1103515245L) +
      lit(40503L * b + 12345L), lit(1L << 31))
      .cast("double") / lit((1L << 31).toDouble)

  /** Deterministic Poisson(1)-ish bootstrap weight for (rowKey, b), as a
    * long: P(0)=1/e≈.368, P(1)=.368, P(2+)≈.264 approximated by a
    * thirds-ish split on the LCG uniform — deterministic at any
    * parallelism. A null key has no uniform and gets a null weight, so its
    * row is in no draw (every weighted sum skips it).
    */
  private def bootWeight(rowKey: Column, b: Int): Column = {
    val u = bootUniform(rowKey, b)
    when(u < 0.368, lit(0L)).when(u < 0.736, lit(1L)).when(u.isNotNull, lit(2L))
  }

  final case class Model(betas: Array[DenseVector[Double]], features: Seq[String]) {

    /** Bootstrap model `bi`'s prediction Σ col(f_i)·β_i + β_d as a Column:
      * the one predictor every acquisition evaluates.
      */
    def prediction(bi: Int): Column =
      (features.zipWithIndex.map { case (f, i) => col(f) * lit(betas(bi)(i)) } :+
        lit(betas(bi)(features.size))).reduce(_ + _)
  }

  /** Fit B bootstrap linear models: all B weighted Grams in one
    * aggregation pass, each solved by [[GramCV.solve]] with a `ridge` on
    * the feature slots (not on the intercept).
    */
  def fitBootstrap(
      train: DataFrame,
      features: Seq[String],
      y: String,
      rowKey: Column,
      b: Int = 16,
      ridge: Double = 1e-8
  ): Model = {
    val z = features.map(f => col(f).cast("double")) :+ lit(1.0) :+
      col(y).cast("double")
    val grams = Gram.build(train, z,
      (0 until b).map(bootWeight(rowKey, _).cast("double"))).head._2
    Model(grams.map(GramCV.solve(_, features.indices, ridge)).toArray, features)
  }

  /** Single-feature bootstrap fit with EXACT integer sufficient statistics —
    * the fully oracle-verifiable EGO path. `x` must be integer-valued and
    * `yInt` pre-quantized to an integer scale (e.g. cents); all B weighted
    * sums are then longs (order-free, identical on any engine), and the
    * closed-form ridge 2×2 solve below runs the exact IEEE op sequence the
    * SQL oracle spells out — bit-identical betas, so downstream EI values
    * match across engines without tolerance games.
    */
  def fitBootstrapExact(
      train: DataFrame,
      featureName: String,
      x: Column,
      yInt: Column,
      rowKey: Column,
      b: Int = 8,
      ridge: Double = 1e-8
  ): Model = {
    val base = train.select(
      x.cast("long").as("__x"), yInt.cast("long").as("__y"),
      rowKey.cast("long").as("__rk"))
    val aggs = (0 until b).flatMap { bi =>
      val w = bootWeight(col("__rk"), bi)
      val (xx, yy) = (col("__x"), col("__y"))
      Seq(
        sum(w).as(s"sw_$bi"),
        sum(w * xx).as(s"sx_$bi"),
        sum(w * xx * xx).as(s"sxx_$bi"),
        sum(w * yy).as(s"sy_$bi"),
        sum(w * xx * yy).as(s"sxy_$bi"))
    }
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    val betas = (0 until b).map { bi =>
      val sw = row.getAs[Long](s"sw_$bi").toDouble
      val sx = row.getAs[Long](s"sx_$bi").toDouble
      val sxx = row.getAs[Long](s"sxx_$bi").toDouble
      val sy = row.getAs[Long](s"sy_$bi").toDouble
      val sxy = row.getAs[Long](s"sxy_$bi").toDouble
      // EXACT op sequence mirrored by the oracle SQL — do not reorder
      val det = (sxx + ridge) * (sw + ridge) - sx * sx
      val b1 = ((sw + ridge) * sxy - sx * sy) / det
      val b0 = ((sxx + ridge) * sy - sx * sxy) / det
      DenseVector(b1, b0)
    }.toArray
    Model(betas, Seq(featureName))
  }

  /** EI ranking over the search space: for each candidate row, evaluate all
    * B models as columns, then
    *   mean  = avg_b ŷ_b,  Pi = #{b: ŷ_b > y*}/B,
    *   L = max(0, mean − y*),  EI = L·Pi  (multiplyego.py:166-216).
    */
  def rank(space: DataFrame, model: Model, yStar: Double): DataFrame = {
    val preds = model.betas.indices.map(bi => model.prediction(bi).as(s"p_$bi"))
    val withPreds = space.select(space.columns.map(col) ++ preds: _*)
    val pcols = model.betas.indices.map(bi => col(s"p_$bi"))
    val arr = array(pcols: _*)
    val b = model.betas.length
    val mean = aggregate(arr, lit(0.0), _ + _) / lit(b.toDouble)
    val pi = aggregate(arr, lit(0.0),
      (acc, x) => acc + when(x > yStar, 1.0).otherwise(0.0)) / lit(b.toDouble)
    val ei = greatest(mean - lit(yStar), lit(0.0)) * pi
    withPreds
      .withColumn("pred_mean", mean)
      .withColumn("pi", pi)
      .withColumn("ei", ei)
      .drop(model.betas.indices.map(bi => s"p_$bi"): _*)
      .orderBy(col("ei").desc)
  }

  /** The simple single-objective `ego.py` facade (featurebox/ego/ego.py:
    * 37-117) — the closed-form Gaussian acquisition family over bootstrap
    * mean/std, distributed over the search space:
    *
    *  - mean/std: np.mean / np.std (population, ddof=0) across the B
    *    bootstrap predictions (ego.py:72-77);
    *  - EGO:  z = (mean − max y)/std,  EI = std·z·Φ(z) + std·φ(z);
    *  - KG:   z_kg = (mean − max(max mean, max y))/std, same EI form — the
    *    global max of predicted means joins in as a broadcast 1-row agg (no
    *    driver action, scales to any space size);
    *  - MaxP: Φ((z − mean)/std) — the reference's exact loc/scale quirk
    *    (`stats.norm.cdf(ego, loc=mean, scale=std)`, ego.py:85) is kept
    *    verbatim for parity;
    *  - ordering: ASCENDING argsort by the chosen score, exactly like the
    *    reference (ego.py:106-115) — best-last.
    *
    * Φ comes from the native [[graft.functions.Erf]] kernel, so
    * the whole acquisition stays inside whole-stage codegen.
    */
  def egoSearch(
      space: DataFrame,
      model: Model,
      yMax: Double,
      rankway: String = "ego"
  ): DataFrame = {
    require(Seq("ego", "kg", "maxp", "no").contains(rankway),
      s"rankway must be ego|kg|maxp|no, got $rankway")
    val preds = model.betas.indices.map(bi => model.prediction(bi).as(s"p_$bi"))
    val withPreds = space.select(space.columns.map(col) ++ preds: _*)
    val arr = array(model.betas.indices.map(bi => col(s"p_$bi")): _*)
    val b = model.betas.length.toDouble
    val mean = aggregate(arr, lit(0.0), _ + _) / lit(b)
    val m2 = aggregate(arr, lit(0.0), (acc, x) => acc + x * x) / lit(b)
    val base = withPreds
      .withColumn("pred_mean", mean)
      .withColumn("pred_std", sqrt(greatest(m2 - mean * mean, lit(0.0))))
      .drop(model.betas.indices.map(bi => s"p_$bi"): _*)
    val mmax = base.agg(max(col("pred_mean")).as("__mean_max"))
    def phi(z: Column): Column =
      exp(negate(z * z) / 2.0) / lit(math.sqrt(2.0 * math.Pi))
    def bigPhi(z: Column): Column =
      (graft.functions.Erf(z / lit(math.sqrt(2.0))) + lit(1.0)) * 0.5
    def eiOf(z: Column): Column =
      col("pred_std") * z * bigPhi(z) + col("pred_std") * phi(z)
    val zEgo = (col("pred_mean") - lit(yMax)) / col("pred_std")
    val zKg = (col("pred_mean") -
      greatest(col("__mean_max"), lit(yMax))) / col("pred_std")
    val scored = base.crossJoin(broadcast(mmax))
      .withColumn("ei_ego", eiOf(zEgo))
      .withColumn("ei_kg", eiOf(zKg))
      .withColumn("max_p", bigPhi((zEgo - col("pred_mean")) / col("pred_std")))
      .drop("__mean_max")
    rankway match {
      case "no"   => scored
      case "ego"  => scored.orderBy(col("ei_ego").asc)
      case "kg"   => scored.orderBy(col("ei_kg").asc)
      case "maxp" => scored.orderBy(col("max_p").asc)
    }
  }

  /** Pareto front of observed multi-objective points (maximization;
    * multiplyego.py:121-138). Driver-side: observed set is small.
    */
  def paretoFront(points: Array[Array[Double]]): Array[Int] =
    points.indices.filter { i =>
      !points.indices.exists { j =>
        j != i &&
          points(j).zip(points(i)).forall { case (a, b) => a >= b } &&
          points(j).zip(points(i)).exists { case (a, b) => a > b }
      }
    }.toArray

  /** Multi-target EGO ranking vs the observed Pareto front — the reference's
    * CalculatePi / CalculateL / CalculateEi (multiplyego.py:166-216), fully
    * distributed:
    *
    *  - Pi (Monte-Carlo non-dominance): over the B bootstrap draws, the
    *    fraction where the candidate's predicted target vector is NOT
    *    strictly dominated by any front point (dominated = below the front
    *    point in EVERY target);
    *  - L: min over front points of (min over targets |mean_t − front_t|) —
    *    the reference's nearest-front distance on bootstrap means;
    *  - EI = L · Pi, ranked descending.
    *
    * One select over the search space: B·m prediction columns + the Pi/L
    * folds, all codegen'd; `front` (the observed Pareto set) enters as
    * literals — it is tiny by construction.
    */
  def rankMulti(
      space: DataFrame,
      models: Seq[Model], // one bootstrap model per target
      front: Array[Array[Double]] // front points × targets
  ): DataFrame = {
    require(models.nonEmpty && front.forall(_.length == models.size),
      "front points must have one coordinate per target model")
    val b = models.head.betas.length
    require(models.forall(_.betas.length == b), "models must share B")
    // Pi: fraction of bootstrap draws not strictly dominated by any front pt
    val nonDominated = (0 until b).map { bi =>
      val dominatedByAny = front.map { fp =>
        (0 until models.size).map(t => models(t).prediction(bi) < lit(fp(t)))
          .reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(lit(false))
      when(dominatedByAny, lit(0.0)).otherwise(lit(1.0))
    }
    val pi = nonDominated.reduce(_ + _) / lit(b.toDouble)
    // L: nearest-front distance of the bootstrap-mean prediction vector
    val meanPred = (0 until models.size).map(t =>
      (0 until b).map(bi => models(t).prediction(bi)).reduce(_ + _) / lit(b.toDouble))
    val l = front.map { fp =>
      (0 until models.size).map(t => abs(meanPred(t) - lit(fp(t))))
        .reduce(least(_, _))
    }.reduceOption(least(_, _)).getOrElse(lit(0.0))
    val lClamped = greatest(l, lit(0.0))
    space
      .withColumn("pi", pi)
      .withColumn("l", lClamped)
      .withColumn("ei", lClamped * pi)
      .orderBy(col("ei").desc)
  }
}
