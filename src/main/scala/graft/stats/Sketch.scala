package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextHash

/** Count–min sketch: fixed-size approximate frequency counting for skew
  * diagnostics (Cormode & Muthukrishnan 2005).
  *
  * The engine's own salting/skew helpers ([[graft.temporal.Skew]], the
  * AQE-skew as-of variants) need to KNOW which keys are heavy before they
  * can act; at 10^12 turns an exact `groupBy(key).count` materializes a
  * group per conversation — the CMS answers "is this key over threshold?"
  * from a `depth × width` table of counters that is CONSTANT-size in the
  * data: the shuffle carries at most `depth·width` partial counters per map
  * task regardless of row count or key cardinality.
  *
  * Estimates are deterministic and cross-engine reproducible: row `d`'s
  * counter index is `saltedHash(key, "cms" || d) mod width` — the same
  * mod-2^32 polynomial fold the dedup suite verifies in DuckDB — so the
  * sketch, the point estimates, and the heavy-hitter verdicts are all
  * oracle-checkable cell-exactly. Classic CMS guarantee: estimates never
  * undercount (`est >= exact`, SketchSpec pins it), and overcount by more
  * than `2n/width` with probability at most `2^-depth` under pairwise-
  * independent hashing.
  */
object Sketch {

  /** Counter index of `key` in sketch row `d` (0-based), `width` columns. */
  def cell(key: Column, d: Int, width: Int): Column =
    pmod(TextHash.saltedHash(key, s"cms$d"), lit(width.toLong))

  /** Build the sketch: one row per non-empty counter, `(d, cell, cnt)`.
    *
    * One explode (× depth) + one aggregation; map-side combine bounds the
    * shuffle at `depth·width` partials per task, so sketching 100 TB
    * shuffles kilobytes.
    */
  def countMin(df: DataFrame, key: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.select(posexplode(
        array((0 until depth).map(d => cell(key, d, width)): _*))
        .as(Seq("d", "cell")))
      .groupBy(col("d"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate the frequency of each row of `keys`: the minimum of its
    * `depth` counters (absent counter = 0). The sketch is broadcast — at
    * most `depth·width` rows — so estimation is a map-side join however
    * large the key set.
    *
    * @param hashKey the string expression that was sketched (must reference
    *                `keys` columns and match the `countMin` key expression)
    */
  def estimate(
      sketch: DataFrame,
      keys: DataFrame,
      hashKey: Column,
      depth: Int,
      width: Int): DataFrame = {
    val sk = sketch.select(
      col("d").as("__d"), col("cell").as("__cell"), col("cnt").as("__cnt"))
    keys
      .select(col("*"), posexplode(
        array((0 until depth).map(d => cell(hashKey, d, width)): _*))
        .as(Seq("__d", "__cell")))
      .join(broadcast(sk), Seq("__d", "__cell"), "left")
      .groupBy(keys.columns.map(col): _*)
      .agg(min(coalesce(col("__cnt"), lit(0L))).as("est"))
  }

  /** HyperLogLog distinct-count estimate per group (Flajolet et al. 2007),
    * built from the same oracle-checkable polyHash the CMS uses — every
    * intermediate (register index, rank, register maxima, the power-of-two
    * harmonic sum) is integer- or exactly-representable-double arithmetic,
    * so the estimate is bit-reproducible across engines. (Sums of `2^-M_j`
    * with `M_j <= 33` are EXACT in binary64 whatever the aggregation order —
    * each term is a single mantissa bit and the spread fits in 53 bits — so
    * unordered parallel aggregation cannot perturb the result.)
    *
    * Why next to [[countMin]]: the two sketches answer the two sides of the
    * skew question — CMS "how hot is this key?", HLL "how many keys are
    * there?" — and both shuffle a CONSTANT number of partials per map task
    * (here `m = 2^b` registers per group) however large the input. Spark's
    * own `approx_count_distinct` is the production default; this exists for
    * pipelines that need a deterministic, engine-portable estimate (e.g.
    * comparing corpus snapshots produced by different engines).
    *
    * Standard HLL with the small-range correction: `E = α·m²/Σ2^-M_j`,
    * switched to linear counting `m·ln(m/V)` when `E <= 2.5m` and some
    * registers are empty. The 32-bit-hash large-range correction is omitted:
    * polyHash is mod 2^32 and estimates near 2^32/30 need the 64-bit variant
    * anyway.
    *
    * @param groupCols group keys (estimate per group)
    * @param key       expression whose distinct count is estimated
    * @param b         register-index bits; m = 2^b registers (4 <= b <= 16)
    */
  def hllDistinct(
      df: DataFrame,
      groupCols: Seq[String],
      key: Column,
      b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val m = 1 << b
    val w = 32 - b // bits left for the rank pattern
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    // mix32 is REQUIRED, not defensive: the rank reads the LEADING zeros of
    // the hash, and poly31 (like any mod-2^32 LCG composition) is linear in
    // the input — sequential keys produce structured high bits and the raw
    // estimate lands 2-4x off (measured: 1700 distinct -> 437). The xorshift
    // steps are what make the high bits rank-worthy; with them the estimate
    // sits inside the 1.04/sqrt(m) band across 17..60k cardinalities.
    val h = TextHash.mix32(TextHash.saltedHash(key, "hll"))
    val v = floor(h / m).cast("long") // upper w bits
    // rank = leading-zero count of the w-bit pattern + 1; bin() strips
    // leading zeros in BOTH engines, so rank = (w+1) - bitlen(v)
    val rank = when(v === 0, lit(w + 1))
      .otherwise(lit(w + 1) - length(bin(v)))
    // count(DISTINCT key) semantics: nulls are not a value. Without the
    // filter, concat(null)'s null would coalesce into polyHash's zero and
    // occupy a register like a real key. Groups with zero non-null keys
    // drop out entirely — same as SQL GROUP BY over the filtered rows.
    df.where(key.isNotNull)
      .select(groupCols.map(col) :+ pmod(h, lit(m.toLong)).as("__idx")
        :+ rank.as("__rank"): _*)
      .groupBy((groupCols :+ "__idx").map(col): _*)
      .agg(max(col("__rank")).as("__mj"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__present"),
        sum(pow(lit(2.0), -col("__mj"))).as("__sp"))
      .select(groupCols.map(col) :+ {
        val zeros = lit(m.toDouble) - col("__present")
        val eRaw = lit(alpha * m * m) / (zeros + col("__sp"))
        round(when(eRaw <= 2.5 * m && zeros > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / zeros))
          .otherwise(eRaw), 4).as("hll_est")
      }: _*)
  }

  /** Sketch + estimate + threshold in one call: the skew-diagnostic shape.
    * `keys` defaults to the distinct keys of `df` itself (fine when a later
    * exact pass is the alternative being avoided is per-ROW, not per-key;
    * pass an explicit candidate frame to stay sublinear in key cardinality).
    */
  def heavyHitters(
      df: DataFrame,
      key: Column,
      depth: Int,
      width: Int,
      threshold: Long): DataFrame = {
    val sk = countMin(df, key.cast("string"), depth, width)
    val keys = df.select(key.as("key")).distinct()
    estimate(sk, keys, col("key").cast("string"), depth, width)
      .withColumn("heavy", col("est") >= threshold)
  }
}
