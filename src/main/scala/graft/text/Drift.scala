package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus distribution drift — the monitoring table a large-scale curation
  * pipeline keeps per ingest slice (source, crawl snapshot, date bucket):
  * how far each slice's unigram token distribution sits from the corpus
  * mixture. Large KL against the pool flags a source gone off-distribution
  * (spam floods, template collapse, encoding regressions) BEFORE it
  * poisons training mixes; the chi-square statistic is the classical
  * significance twin on the same contingency table.
  *
  * Scale shape: ONE corpus pass (explode tokens → groupBy (stratum, token)
  * with partial aggregation); every other input — global token counts,
  * per-stratum totals, the grand total — is a REaggregation of that
  * O(strata·vocab) count table, never a second scan. Per-stratum totals
  * join back broadcast-sized; the grand total rides as a literal.
  *
  * Determinism: each per-token term is computed through a FIXED double op
  * sequence from exact integer counts, then [[TextHash.quantize]]d and
  * integer-summed. KL terms are bounded (≤ p·|ln p| ≤ 1), so they take
  * the finer scale 10⁹; chi-square terms can reach O(N_s), so they stay
  * at micro-units and their long sums stay in range.
  *
  * No smoothing is needed: a slice's support is a subset of the pool's
  * support (c_global ≥ c_slice > 0), so KL(slice ‖ pool) is always finite.
  */
object Drift {

  /** Per-stratum drift vs the corpus: returns
    * (stratum, n_tokens, n_terms, kl, chi2) where
    *   kl   = Σ_t p_s(t) · ln(p_s(t)/p_g(t))          (nats, ≥ 0)
    *   chi2 = Σ_t (c_st − e_st)²/e_st,  e_st = N_s·c_gt/N_g
    * both rounded to 6. Documents with a null stratum form the null
    * stratum's row, as in [[Retrieval.zipfFit]].
    */
  def tokenDrift(df: DataFrame, textCol: String, stratumCol: String): DataFrame = {
    // the count table feeds FOUR consumers (per-token join, global counts,
    // stratum totals, the grand total) — persist it once via the dedup
    // suite's tracked cache so the corpus is scanned and exploded exactly
    // once; callers release with Dedup.releaseCache()/withCache like every
    // other prep frame (Verify/Bench already do)
    val counts = Dedup.materialize(Retrieval.stratumTokenCounts(df, textCol, stratumCol))
    val globals = counts.groupBy(col("__tok")).agg(sum(col("__c")).as("__cg"))
    val strata = counts.groupBy(col("stratum").as("__st")).agg(sum(col("__c")).as("__ns"))
    val ng = counts.agg(sum(col("__c"))).head().getLong(0)
    require(ng > 0, "corpus has zero tokens — drift undefined")
    val ngD = ng.toDouble
    val c = col("__c").cast("double")
    val ns = col("__ns").cast("double")
    val cg = col("__cg").cast("double")
    val klTerm = (c / ns) * log((c * lit(ngD)) / (ns * cg))
    val e = ns * cg / lit(ngD)
    val chiTerm = (c - e) * (c - e) / e
    counts
      .join(globals, Seq("__tok"))
      .join(broadcast(strata), col("stratum") <=> col("__st"))
      .select(col("stratum"), col("__ns"),
        TextHash.quantize(klTerm, 1e9).as("__klq"),
        TextHash.quantize(chiTerm).as("__chiq"))
      .groupBy(col("stratum"))
      .agg(max(col("__ns")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        round(TextHash.dequantize(sum(col("__klq")), 1e9), 6).as("kl"),
        round(TextHash.dequantize(sum(col("__chiq"))), 6).as("chi2"))
  }
}
