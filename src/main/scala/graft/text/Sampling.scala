package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / data-mixing operators for training-set assembly.
  *
  * Everything keys off the cross-engine polynomial hash of the row's OWN
  * identity ([[TextHash.saltedHash]]) — never an RNG and never a partition
  * index — so a sample is (a) bit-identical at any parallelism / cluster
  * size, (b) stable under re-runs and resumes, and (c) verifiable in any
  * ANSI SQL engine (the DuckDB oracle reproduces the exact row set).
  */
object Sampling {

  /** The identity's 1/1000th band, `saltedHash(identity, salt) mod 1000`:
    * the one draw behind [[keepAtRate]], [[gumbelKey]] and [[assignSplit]].
    */
  private def band(identity: Column, salt: String): Column =
    pmod(TextHash.saltedHash(identity, salt), lit(1000L))

  /** THE keep-decision — the single quantization code path every sampling
    * operator routes through (rate quantized to 1/1000ths, HALF_UP):
    * band(identity, salt) < round(rate·1000).
    */
  private def keepCol(identity: Column, rate: Column, salt: String): Column =
    band(identity, salt) < round(rate * 1000.0)

  /** Uniform deterministic keep-decision at `rate` for the given identity
    * expression; `salt` decorrelates independent samples of the same table.
    */
  def keepAtRate(identity: Column, rate: Double, salt: String): Column =
    keepCol(identity, lit(rate), salt)

  /** Stratified sample: per-stratum keep rates (e.g. language-balanced data
    * mixing). Strata missing from `rates` fall back to `defaultRate`.
    * One narrow scan, no shuffle — the filter composes with pushdown.
    * Same quantization as [[keepAtRate]] by construction (shared keepCol).
    */
  def stratified(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      salt: String = "s1"
  ): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, r)) => when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    df.where(keepCol(col(idCol), rate, salt))
  }

  /** Per-stratum keep rates realizing a target TOKEN mixture — the
    * production data-mixing shape (domain weights are specified over
    * tokens, not document counts): rate_d = min(1, budget·w_d / tokens_d).
    * One aggregation pass; the strata map is domain-sized (languages,
    * sources), so it collects to the driver by design. A stratum whose
    * corpus is smaller than its token allocation saturates at rate 1
    * (upsampling/epochs are the caller's policy, not a sampler's).
    *
    * The rate arithmetic runs the exact op sequence `(budget·w) / tokens`
    * on exact integer token sums, so any SQL engine reproduces the rates —
    * and therefore the kept row set — bit-for-bit.
    */
  def ratesForTokenBudget(
      df: DataFrame,
      strataCol: String,
      tokensCol: String,
      weights: Map[String, Double],
      budget: Long
  ): Map[String, Double] = {
    val totals = stratumTokenTotals(df, strataCol, tokensCol)
    weights.map { case (k, w) =>
      val t = totals.getOrElse(k, 0L)
      k -> (if (t <= 0L) 0.0 else math.min(1.0, budget * w / t.toDouble))
    }
  }

  /** Per-stratum exact token totals — ONE aggregation, strata-sized map
    * (languages/sources/domains: driver-held by design).
    */
  def stratumTokenTotals(
      df: DataFrame, strataCol: String, tokensCol: String): Map[String, Long] =
    df.groupBy(col(strataCol))
      .agg(sum(col(tokensCol).cast("long")).as("t"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("t")).toMap

  /** Temperature-scaled mixture weights — the multilingual/domain
    * rebalancing rule (XLM-R/mT5 style): w_d ∝ t_d^α over per-stratum
    * token totals, α<1 upsampling the tail (α=1 natural proportions,
    * α=0 uniform; α≈0.3 is the published multilingual default).
    *
    * Determinism: t^α is [[TextHash.quantize]]d BEFORE normalizing, so
    * the normalizer is an order-free integer sum and w_d = pwq_d/Z is
    * bit-reproducible in any engine running the same op sequence.
    */
  def temperatureWeights(
      df: DataFrame,
      strataCol: String,
      tokensCol: String,
      alpha: Double
  ): Map[String, Double] = {
    val (_, pwq, z) = temperatureMass(df, strataCol, tokensCol, alpha)
    pwq.map { case (k, q) => k -> q.toDouble / z.toDouble }
  }

  /** Per-stratum token totals, their quantized masses t^α (strata with
    * tokens only) and the exact integer normalizer Z = Σ masses.
    */
  private def temperatureMass(
      df: DataFrame, strataCol: String, tokensCol: String, alpha: Double
  ): (Map[String, Long], Map[String, Long], Long) = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val totals = stratumTokenTotals(df, strataCol, tokensCol)
    val pwq = totals.collect { case (k, t) if t > 0L =>
      k -> TextHash.quantize(math.pow(t.toDouble, alpha))
    }
    (totals, pwq, pwq.values.sum)
  }

  /** Temperature-based data mixing in one call: keep rates realize the
    * t^α mixture under `budget` total tokens. Rate op sequence (mirrored
    * by the oracle, left-to-right): budget·pwq / Z / t, capped at 1.
    * ONE totals aggregation feeds both the weights and the rates.
    */
  def mixByTemperature(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      tokensCol: String,
      alpha: Double,
      budget: Long,
      salt: String = "temp1"
  ): DataFrame = {
    val (totals, pwq, z) = temperatureMass(df, strataCol, tokensCol, alpha)
    val rates = pwq.map { case (k, q) =>
      k -> math.min(1.0,
        budget.toDouble * q.toDouble / z.toDouble / totals(k).toDouble)
    }
    stratified(df, idCol, strataCol, rates, defaultRate = 0.0, salt = salt)
  }

  /** Token-budget data mixing: keep a deterministic sample whose expected
    * per-stratum token mass matches `weights` under `budget` total tokens.
    * Strata not in `weights` are dropped (weight 0) — a mixture definition
    * is exhaustive by nature.
    */
  def mixByTokenBudget(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      tokensCol: String,
      weights: Map[String, Double],
      budget: Long,
      salt: String = "mix1"
  ): DataFrame =
    stratified(df, idCol, strataCol,
      ratesForTokenBudget(df, strataCol, tokensCol, weights, budget),
      defaultRate = 0.0, salt = salt)

  /** DSIR-style importance weights ("Data Selection for Language Models
    * via Importance Resampling", Xie et al. 2023) with hashed-unigram
    * features: score every document by how much more likely its tokens are
    * under the TARGET distribution (rows where `isTarget`) than under the
    * RAW distribution (all rows).
    *
    *   weight(d) = Σ_tokens λ[b(tok)],  λ[b] = ln p_t[b] − ln p_r[b],
    *   b(tok) = polyHash(tok) mod buckets,  p[b] = (c[b]+1)/(T+buckets)
    *   (add-one smoothing).
    *
    * Scale shape: ONE explode to (id, bucket) rows; BOTH distributions come
    * from the same aggregation (count + count-where-target per bucket —
    * one shuffle of O(buckets) partial buffers); the λ table is
    * buckets-sized → broadcast-joined back; per-doc sums are integer sums
    * of [[TextHash.quantize]]d λ, so results are bit-identical at any
    * parallelism and verifiable in ANSI SQL.
    *
    * Returns df's columns plus (n_tokens, logratio, logratio_avg); docs
    * with no tokens get n_tokens=0 and null scores. Resampling is
    * [[gumbelKey]] over `logratio_avg` + top-k.
    */
  def importanceWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      buckets: Int = 1024
  ): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"hash buckets must be in [2, 2^20] (the table collects to the driver " +
        s"and broadcasts back), got $buckets")
    val toks = df.select(col(idCol).as("__id"), isTarget.as("__tgt"),
      explode(TextHash.lowerTokens(col(textCol))).as("__tok"))
      .select(col("__id"), col("__tgt"),
        pmod(TextHash.polyHash(col("__tok")), lit(buckets.toLong)).as("__b"))
    // ONE corpus aggregation builds both distributions; the result is
    // buckets-sized, so totals and λ are driver arithmetic on it — no
    // second corpus scan for the normalizers
    val dist = toks.groupBy(col("__b")).agg(
      count(lit(1)).as("__cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"))
      .collect().map(r =>
        (r.getAs[Long]("__b"), r.getAs[Long]("__cr"), r.getAs[Long]("__ct")))
    val denomR = (dist.map(_._2).sum + buckets).toDouble
    val denomT = (dist.map(_._3).sum + buckets).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    val lam = dist.toSeq.map { case (b, cr, ct) =>
      (b, TextHash.quantize(math.log((ct + 1L).toDouble / denomT) -
        math.log((cr + 1L).toDouble / denomR)))
    }.toDF("__b", "__lq")
    val scored = toks
      .join(broadcast(lam), Seq("__b"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lq")).as("__sq"))
      .withColumn("logratio", round(TextHash.dequantize(col("__sq")), 6))
      .withColumn("logratio_avg", round(
        TextHash.dequantize(col("__sq")) / col("n_tokens").cast("double"), 6))
      .drop("__sq")
    df.join(scored.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
  }

  /** Deterministic Gumbel-top-k key for importance RESAMPLING: ordering by
    * `weight + Gumbel(u)` desc and keeping the top k samples without
    * replacement with probability ∝ exp(weight) (the Gumbel-max trick).
    * The uniform comes from the identity hash — (h+1)/(1000+1) over the
    * same 1/1000th band as [[keepAtRate]] — so u ∈ (0,1) strictly, the
    * sample is reproducible anywhere, and the exact op order
    * (−ln(−ln u)) is plain SQL.
    */
  def gumbelKey(weight: Column, identity: Column, salt: String = "g1"): Column = {
    val u = (band(identity, salt).cast("double") + 1.0) / 1001.0
    weight + -log(-log(u))
  }

  /** Deterministic train/val/test (or any named-fraction) split assignment:
    * the identity hash band (1/1000ths, same quantization as [[keepAtRate]])
    * walks the cumulative fraction thresholds in the given order. Pure
    * per-row expression — no shuffle, stable under re-runs/resharding, and
    * a row can never land in two splits (the failure mode of per-split
    * independent sampling). Rounding drift in the last band falls into the
    * final split.
    */
  def assignSplit(
      identity: Column,
      fractions: Seq[(String, Double)],
      salt: String = "split1"
  ): Column = {
    require(fractions.nonEmpty &&
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got $fractions")
    val b = band(identity, salt)
    val cums = fractions.scanLeft(0L) {
      case (acc, (_, f)) => acc + math.round(f * 1000.0)
    }.tail
    fractions.init.map(_._1).zip(cums.init)
      .foldLeft(None: Option[Column]) { case (acc, (name, cum)) =>
        Some(acc.fold(when(b < cum, name))(_.when(b < cum, name)))
      }
      .fold(lit(fractions.head._1))(_.otherwise(fractions.last._1))
  }

  /** Deterministic negative sampling for contrastive training: per anchor
    * row, `k` pseudo-random other corpus members — hash-derived, so the
    * pairing is reproducible across engines and runs, with NO global index.
    *
    * The naive shape (dense-rank the corpus, hash into [0, N)) needs a
    * GLOBAL row numbering — a single-partition sort at 100 TB. Instead the
    * corpus hashes into `buckets` groups; dense local indices come from a
    * per-bucket window (parallel), bucket sizes broadcast (B rows), and
    * each (anchor, slot) draws bucket-then-member by hash. Every join is
    * an equi join on (bucket, local index).
    *
    * Self-collision: the draw shifts one position (mod bucket size) when
    * it lands on the anchor itself; a size-1 bucket containing only the
    * anchor — or a target bucket with no members at all (more buckets
    * than rows) — yields a null negative for that slot (the sizes join is
    * LEFT so the row survives; counted by the caller, never silent).
    *
    * @return (anchor id, slot 0..k-1, neg id nullable)
    */
  def negativeSamples(
      df: DataFrame,
      idCol: String,
      k: Int,
      buckets: Int = 64,
      salt: String = "neg1"): DataFrame = {
    require(k >= 1 && buckets >= 1, "k and buckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val idS = col(idCol).cast("string")
    // every draw hash goes through mix32: raw poly31's LOW bits are
    // structured for short suffix-varying strings, and a mod-8 member draw
    // on the raw hash measurably skipped half the indices (the HLL
    // high-bit lesson, low-bit edition)
    def h(parts: Column*): Column =
      graft.text.TextHash.mix32(graft.text.TextHash.polyHash(concat(parts: _*)))
    val b = pmod(h(idS, lit(":b:" + salt)), lit(buckets.toLong))
    val members = df.select(col(idCol).as("__mid"), b.as("__mb"))
      .withColumn("__mi",
        row_number().over(
          Window.partitionBy(col("__mb")).orderBy(col("__mid"))) - 1)
    val sizes = broadcast(members.groupBy(col("__mb"))
      .agg(count(lit(1)).as("__bsz")))
    val anchors = df.select(col(idCol))
      .select(col(idCol), explode(sequence(lit(0), lit(k - 1))).as("slot"))
      .withColumn("__tb", pmod(
        h(idS, lit(":t:" + salt), col("slot").cast("string")),
        lit(buckets.toLong)))
      .join(sizes.withColumnRenamed("__mb", "__tb"), Seq("__tb"), "left")
      .withColumn("__ti", pmod(
        h(idS, lit(":m:" + salt), col("slot").cast("string")),
        col("__bsz")))
    anchors
      .join(members,
        anchors("__tb") === members("__mb") &&
          anchors("__ti") === members("__mi"), "left")
      .withColumn("__hit", col("__mid"))
      // self-collision: shift one position (wraps), then re-fetch
      .withColumn("__ti2",
        when(col("__hit") === col(idCol),
          pmod(col("__ti") + 1, col("__bsz"))).otherwise(col("__ti")))
      .drop("__mid", "__mb", "__mi")
      .join(members,
        col("__tb") === members("__mb") && col("__ti2") === members("__mi"),
        "left")
      .withColumn("neg_id",
        when(col("__mid") === col(idCol), lit(null)).otherwise(col("__mid")))
      .select(col(idCol), col("slot"), col("neg_id"))
  }
}
