package graft.stats

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PropertyStats registry: the reference's weighted statistics
  * (featurebox/featurizers/extrastats.py) re-expressed as compositions of
  * native power-sum aggregates — every stat here stays inside whole-stage
  * codegen (no UDAFs) and combines map-side (partial aggregation), so a
  * 100 TB groupBy pays one shuffle of O(groups) partial buffers.
  *
  * Numeric conventions preserved from the reference (SURVEY.md §2.4):
  *  - std_dev: population (ddof=0) unweighted; weighted uses the unbiased
  *    beta = Σw / ((Σw)² − Σw²) form (extrastats.py:147-152).
  *  - skewness: u3/u2^1.5 with moments about the weighted mean.
  *  - kurtosis: PEARSON u4/u2² (not excess — Spark's builtin is excess).
  *  - holder_mean: power mean incl. p=0 geometric via exp∘ln.
  *  - mode: smallest value among the most frequent (min tie-break).
  */
object WeightedStats {

  private def wsum(x: Column, w: Column, p: Int): Column = {
    val xp = p match {
      case 0 => lit(1.0)
      case 1 => x
      case 2 => x * x
      case 3 => x * x * x
      case 4 => x * x * x * x
      case n => pow(x, lit(n))
    }
    sum(w * xp)
  }

  /** Weighted mean: Σwx / Σw (np.average). */
  def mean(x: Column, w: Column): Column = wsum(x, w, 1) / sum(w)

  /** Mean of reciprocals: Σ(w/x) / Σw. */
  def inverseMean(x: Column, w: Column): Column = sum(w / x) / sum(w)

  /** Weighted geometric mean: exp(Σ w·ln x / Σw). */
  def geometricMean(x: Column, w: Column): Column =
    exp(sum(w * log(x)) / sum(w))

  /** Weighted harmonic mean: Σw / Σ(w/x). */
  def harmonicMean(x: Column, w: Column): Column = sum(w) / sum(w / x)

  /** Weighted variance about the weighted mean (population form):
    * Σw(x−μ)²/Σw = Σwx²/Σw − μ². Algebraic single pass.
    */
  def variancePop(x: Column, w: Column): Column = {
    val mu = mean(x, w)
    wsum(x, w, 2) / sum(w) - mu * mu
  }

  /** Reference weighted std (extrastats.py:147-152): unbiased with
    * beta = Σw / ((Σw)² − Σw²); sqrt(beta · Σw(x−μ)²); 0 when n == 1.
    */
  def stdDevWeighted(x: Column, w: Column): Column = {
    val sw = sum(w)
    val mu = mean(x, w)
    val m2 = wsum(x, w, 2) - lit(2.0) * mu * wsum(x, w, 1) + mu * mu * sw
    val beta = sw / (sw * sw - sum(w * w))
    when(count(x) === 1, lit(0.0)).otherwise(sqrt(beta * m2))
  }

  /** Weighted skewness u3 / u2^1.5 with central moments about the weighted
    * mean (extrastats.py:154-181); 0 when n == 1.
    */
  def skewness(x: Column, w: Column): Column = {
    val sw = sum(w)
    val mu = mean(x, w)
    val u2 = wsum(x, w, 2) / sw - mu * mu
    val u3 = wsum(x, w, 3) / sw - lit(3.0) * mu * (wsum(x, w, 2) / sw) +
      lit(2.0) * mu * mu * mu
    when(count(x) === 1, lit(0.0))
      .otherwise(when(abs(u3) < 1e-13, lit(0.0)).otherwise(u3 / pow(u2, 1.5)))
  }

  /** Weighted Pearson kurtosis u4/u2² (NOT excess; Spark's builtin − ours = 3). */
  def kurtosisPearson(x: Column, w: Column): Column = {
    val sw = sum(w)
    val mu = mean(x, w)
    val m1 = wsum(x, w, 1) / sw
    val m2 = wsum(x, w, 2) / sw
    val m3 = wsum(x, w, 3) / sw
    val m4 = wsum(x, w, 4) / sw
    val u2 = m2 - mu * mu
    val u4 = m4 - lit(4.0) * mu * m3 + lit(6.0) * mu * mu * m2 -
      lit(3.0) * mu * mu * mu * m1
    when(count(x) === 1, lit(0.0)).otherwise(u4 / (u2 * u2))
  }

  /** Holder (power) mean: p = 0 → weighted geometric; p = −1 → harmonic;
    * otherwise (Σ w x^p / Σw)^(1/p). (extrastats.py:257-297)
    */
  def holderMean(x: Column, w: Column, p: Double): Column =
    if (p == 0.0) geometricMean(x, w)
    else pow(sum(w * pow(x, lit(p))) / sum(w), lit(1.0 / p))

  /** Geometric std dev: sqrt(exp(beta · Σ w ln²(x/gmean))). */
  def geomStdDev(x: Column, w: Column): Column = {
    val sw = sum(w)
    val lx = sum(w * log(x)) / sw // ln gmean
    val m2 = sum(w * log(x) * log(x)) - lit(2.0) * lx * sum(w * log(x)) +
      lx * lx * sw
    val beta = sw / (sw * sw - sum(w * w))
    sqrt(exp(beta * m2))
  }

  /** NaN-poisoned min/max (numpy propagates NaN; Spark orders it largest). */
  def minNaN(x: Column): Column =
    when(max(isnan(x).cast("int")) === 1, lit(Double.NaN)).otherwise(min(x))
  def maxNaN(x: Column): Column =
    when(max(isnan(x).cast("int")) === 1, lit(Double.NaN)).otherwise(max(x))
  def rangeNaN(x: Column): Column = maxNaN(x) - minNaN(x)

  /** Mode with min tie-break: smallest value among the most frequent
    * (extrastats.py:234-255). Two-stage aggregation — both stages combine
    * map-side, so it scales: groupBy(keys :+ value).count, then per keys
    * `max_by(value, struct(count, -value))` picks the highest count and,
    * on ties, the smallest value.
    */
  def modeMinTie(
      df: org.apache.spark.sql.DataFrame,
      keys: Seq[String],
      value: String
  ): org.apache.spark.sql.DataFrame = {
    val counted = df
      .groupBy((keys :+ value).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    counted
      .groupBy(keys.map(col): _*)
      .agg(max_by(col(value), struct(col("__cnt"), negate(col(value))))
        .as(s"${value}_mode"))
  }

  /** Exact quantile with linear interpolation — numpy/np.quantile parity.
    * Spark's `percentile` implements exactly this. NOTE: the reference's
    * PropertyStats.quantile (extrastats.py:330-349) receives weights from
    * the dispatch but explicitly DISCARDS them (`_ = weights`) — this
    * unweighted form IS the reference behavior.
    */
  def quantile(x: Column, q: Double): Column = percentile(x, lit(q))

  /** Several exact quantiles from ONE aggregation buffer (array form of
    * `percentile`) — three separate `quantile` calls would each collect
    * and sort their own per-group state.
    */
  def quantiles(x: Column, qs: Seq[Double]): Column =
    percentile(x, array(qs.map(lit): _*))

  /** Exact WEIGHTED quantile (frequency-weight semantics): equivalent to
    * np.quantile over the list with each x repeated `w` times, so unit
    * weights reduce to [[quantile]] exactly. Linear interpolation on the
    * virtual index h = q·(W−1) over the weighted CDF.
    *
    * One custom aggregate per SURVEY §4: sort_array of (x,w) structs +
    * two sequential folds — no UDAF, stays codegen-friendly. The per-group
    * state is the collected (x,w) list, so use on groups that fit an
    * executor (same contract as any exact quantile; at 100 TB cardinality
    * use approx_percentile for the sketch path).
    */
  def weightedQuantile(x: Column, w: Column, q: Double): Column = {
    val arr = sort_array(collect_list(struct(
      x.cast("double").as("v"), w.cast("double").as("w"))))
    // total weight via the SAME sequential fold order as the CDF walk (and
    // as the oracle's cumulative window) — order-stable cross-engine
    val total = aggregate(arr, lit(0.0), (acc, e) => acc + e.getField("w"))
    val h = lit(q) * (total - lit(1.0))
    // CRITICAL: lo/hi ride in the fold's INITIAL state. Spark evaluates
    // expressions referenced inside a higher-order-function lambda on EVERY
    // element — an O(n) fold like `total` in the lambda body turns the walk
    // into O(n²) (observed: q53 hung the bench at 200k-row groups). The
    // zero/initial expression is evaluated once per group.
    val st0 = struct(lit(0.0).as("cum"),
      floor(h).as("lo"), ceil(h).as("hi"),
      lit(null).cast("double").as("vlo"), lit(null).cast("double").as("vhi"))
    val walked = aggregate(arr, st0, (st, e) => {
      val cum = st.getField("cum") + e.getField("w")
      struct(cum.as("cum"), st.getField("lo").as("lo"), st.getField("hi").as("hi"),
        when(st.getField("vlo").isNull && cum > st.getField("lo"), e.getField("v"))
          .otherwise(st.getField("vlo")).as("vlo"),
        when(st.getField("vhi").isNull && cum > st.getField("hi"), e.getField("v"))
          .otherwise(st.getField("vhi")).as("vhi"))
    })
    val vlo = walked.getField("vlo")
    val vhi = walked.getField("vhi")
    vlo + (h - floor(h)) * (vhi - vlo)
  }

  /** [[weightedQuantile]] via WINDOW cumsums instead of a per-group
    * collect_list buffer — identical exact semantics (same (v,w) sort
    * order, same virtual-index interpolation; spec-pinned equal), but
    * O(1) window state per row: sort-within-group + running weight cumsum
    * + conditional min. This removes the aggregate form's one documented
    * ceiling — groups must fit an executor's buffer — so it is the path
    * for mega-groups (a 10⁶-row single group runs comfortably; the
    * buffered walk would hold and doubly traverse the whole list).
    *
    * The aggregate form stays for composability (it is one expression
    * usable inside any agg). Returns one row per group: groupCols ++ one
    * double column per (name, q).
    */
  def weightedQuantilesGrouped(
      df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String],
      x: Column,
      w: Column,
      qs: Seq[(String, Double)]
  ): org.apache.spark.sql.DataFrame = {
    require(qs.nonEmpty, "need at least one (name, q)")
    val gs = groupCols.map(col)
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(gs: _*)
      .orderBy(col("__v"), col("__w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // running cum over the (v,w) order, then the group total rides the
    // SAME partitioning (max of a nondecreasing cumsum = total) — one
    // exchange + one sort for both windows
    val c = df.select(gs :+ x.cast("double").as("__v") :+
        w.cast("double").as("__w"): _*)
      .withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__tw", max(col("__cum")).over(Window.partitionBy(gs: _*)))
    // __tw is constant per group, so grouping by it (the oracle's trick)
    // makes h available to the conditional-min aggregates
    val aggs = qs.map { case (nm, q) =>
      val h = lit(q) * (col("__tw") - lit(1.0))
      val vlo = min(when(col("__cum") > floor(h), col("__v")))
      val vhi = min(when(col("__cum") > ceil(h), col("__v")))
      (vlo + (h - floor(h)) * (vhi - vlo)).as(nm)
    }
    c.groupBy(gs :+ col("__tw"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .drop("__tw")
  }
}
