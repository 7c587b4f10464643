package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical retrieval scoring for corpus curation: rank documents against a
  * fixed query (seed-document selection, targeted filtering, dataset
  * search) without an external index.
  *
  * Scale shape: corpus statistics (N, total tokens, per-term document
  * frequencies) are ONE aggregation pass — the query has a handful of
  * terms, so the df aggregation is a fixed number of columns, not an
  * explode. Scoring is then a pure per-row projection (no join, no
  * shuffle): term frequencies come from `filter` over the row's own token
  * array. Driver-side collect is a single row of longs — the same pattern
  * as [[Sampling.ratesForTokenBudget]].
  *
  * Determinism: idf/avgdl derive from exact integer counts through a fixed
  * double op sequence, and the per-document score sums query terms in
  * query order — any SQL engine reproduces the scores to the ulp of its
  * `ln`.
  */
object Retrieval {

  /** Okapi BM25 scores for every document against `query` (lowercased
    * whitespace terms). Returns the input plus `bm25` (rounded to 6) and
    * `n_tokens`. Single-query form of [[bm25Batch]].
    */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      query: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = bm25Batch(df, idCol, textCol, Seq("bm25" -> query), k1, b)

  /** BM25 for a BATCH of queries — the realistic curation shape (many seed
    * queries scored over the corpus at once): ONE stats pass computes the
    * document frequencies of the UNION of all query terms, then every
    * query's score is a column of the SAME projection — one corpus scan
    * total, not one per query. Adds `n_tokens` plus one rounded score
    * column per (name, terms) pair.
    */
  def bm25Batch(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(String, Seq[String])],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty), "empty query")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate query names")
    // a score column landing on an existing column would silently replace
    // it mid-fold (and later queries would then score against a double)
    val reserved = df.columns.toSet + "n_tokens"
    queries.map(_._1).find(reserved.contains).foreach { nm =>
      throw new IllegalArgumentException(
        s"query name '$nm' collides with an input/output column")
    }
    val lowered = queries.map { case (nm, q) => nm -> q.map(_.toLowerCase) }
    // tokens are single lowercased whitespace-free words; a term with
    // interior whitespace can never match a token and would silently score
    // 0 everywhere — reject the misuse loudly
    lowered.foreach { case (nm, q) =>
      require(q.forall(w => w.nonEmpty && !w.exists(_.isWhitespace)),
        s"query '$nm': terms must be single non-empty words, got $q")
    }
    val allTerms = lowered.flatMap(_._2).distinct
    val termIdx = allTerms.zipWithIndex.toMap
    // tokenize ONCE into a projected column shared by the stats pass and
    // every score column (the round-5 form rebuilt the token array once
    // per consumer expression; CollapseProject keeps non-cheap aliases)
    val tokCol = "__bm25_tk"
    require(!df.columns.contains(tokCol), s"input column '$tokCol' reserved")
    val withTok = df.withColumn(tokCol, TextHash.lowerTokens(col(textCol)))
    val t = col(tokCol)
    // one stats pass: corpus size, total tokens, per-term doc frequencies
    val dfAggs = allTerms.zipWithIndex.map { case (w, i) =>
      sum(when(array_contains(t, w), 1L).otherwise(0L)).as(s"df_$i")
    }
    val aggs = Seq(sum(size(t).cast("long")).as("tot")) ++ dfAggs
    val statsRow = withTok.agg(count(lit(1)).as("n"), aggs: _*).head()
    val n = statsRow.getAs[Long]("n")
    val tot = statsRow.getAs[Long]("tot")
    require(tot > 0, "corpus has zero tokens — avgdl undefined (NaN scores)")
    val avgdl = tot.toDouble / n
    val idf = allTerms.indices.map { i =>
      val dfi = statsRow.getAs[Long](s"df_$i")
      math.log((n - dfi + 0.5) / (dfi + 0.5) + 1.0)
    }
    val dl = size(t).cast("double")
    def termScore(w: String): org.apache.spark.sql.Column = {
      val tf = size(filter(t, x => x === w)).cast("double")
      lit(idf(termIdx(w))) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl)))
    }
    lowered.foldLeft(withTok.withColumn("n_tokens", size(t).cast("long"))) {
      case (acc, (nm, q)) =>
        acc.withColumn(nm, round(q.map(termScore).reduce(_ + _), 6))
    }.drop(tokCol)
  }

  /** Corpus n-gram vocabulary statistics: the top-k most frequent word
    * n-grams per stratum (language/source) — the table a curation pipeline
    * builds for tokenizer training, stop-gram lists and corpus drift
    * monitoring.
    *
    * Scale shape: one explode of per-doc n-grams (built once per row via
    * the hoisted-attribute zip_with form — no HOF re-evaluation), ONE
    * partial-aggregated groupBy on (stratum, gram), then the rank window
    * runs over the already-aggregated (stratum, gram, count) rows — tiny
    * relative to the corpus. Ties break on the gram text so top-k is
    * deterministic. Returns (stratum, gram, n_occurrences, rank) with the
    * U+0001 joiner rendered back to a space.
    */
  def topNgrams(
      df: DataFrame,
      textCol: String,
      stratumCol: String,
      n: Int,
      k: Int
  ): DataFrame = {
    val grams = df
      .select(col(stratumCol).as("stratum"), cleanTokens(col(textCol)).as("__tk"))
      .select(col("stratum"),
        explode(graft.text.TextQuality.wordNgrams(col("__tk"), n)).as("__g"))
    val counts = grams.groupBy(col("stratum"), col("__g"))
      .agg(count(lit(1)).as("n_occurrences"))
    topPerStratum(counts, "n_occurrences", "__g", k, "rank", _.cast("long"))
      .select(col("stratum"),
        regexp_replace(col("__g"), "\u0001", " ").as("gram"),
        col("n_occurrences"), col("rank"))
  }

  /** The top `k` rows per stratum by count desc, key asc; the `row_number`,
    * passed through `as`, is column `rankCol`. */
  private def topPerStratum(
      counts: DataFrame, countCol: String, keyCol: String, k: Int,
      rankCol: String, as: Column => Column = identity): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"))
      .orderBy(col(countCol).desc, col(keyCol).asc)
    counts.withColumn(rankCol, as(row_number().over(w))).where(col(rankCol) <= k)
  }

  /** Lowercased tokens ([[TextHash.lowerTokens]]) with the U+0001
    * gram-joiner excluded: a token CONTAINING the joiner would alias gram
    * boundaries in the count table and break the context extraction
    * (`substring_index` on the joiner) — such "words" are control-char
    * noise, so the n-gram operators drop them up front (the oracle SQL
    * applies the same filter).
    */
  private def cleanTokens(text: Column): Column =
    filter(TextHash.lowerTokens(text), x => !x.contains("\u0001"))

  /** `(stratum, __tok, __c)` token counts for [[zipfFit]] and [[Drift]]. */
  private[text] def stratumTokenCounts(
      df: DataFrame, textCol: String, stratumCol: String): DataFrame =
    df.select(col(stratumCol).as("stratum"),
        explode(TextHash.lowerTokens(col(textCol))).as("__tok"))
      .groupBy(col("stratum"), col("__tok"))
      .agg(count(lit(1)).as("__c"))

  /** Per `__id` of `rows`: count `nName` and `avgName` = round(Σ q(logp) /
    * 10⁶ / n, 6); left-joined back to `df`'s ids (no rows: null). */
  private def avgLogProb(
      df: DataFrame, idCol: String, rows: DataFrame, logp: Column,
      nName: String, avgName: String): DataFrame = {
    val scored = rows
      .withColumn("__lpq", TextHash.quantize(logp))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as(nName), sum(col("__lpq")).as("__sumq"))
      .withColumn(avgName, round(
        TextHash.dequantize(col("__sumq")) / col(nName).cast("double"), 6))
      .drop("__sumq")
    df.select(col(idCol)).join(scored.withColumnRenamed("__id", idCol),
      Seq(idCol), "left")
  }

  /** Bigram-LM document scoring — the stronger perplexity proxy
    * (word-order aware, unlike [[unigramLogProb]]): with the corpus as its
    * own LM, avg over transitions of ln p(w_i | w_{i−1}),
    * p(w|v) = (c(v,w)+1)/(c(v)+V) (add-one smoothing over the bigram
    * table, V = unigram vocab size). Repetitive word-salad that fools
    * unigram frequency scores low here.
    *
    * Same scale/determinism shape as [[unigramLogProb]]: one bigram
    * groupBy + one unigram groupBy build the model; transitions join back
    * on the bigram key; the per-document sum is over [[TextHash.quantize]]d
    * log-probs. Documents with < 2 tokens score null.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val prepped = df.select(col(idCol).as("__id"), cleanTokens(col(textCol)).as("__tk"))
    val bi = prepped.select(col("__id"),
      explode(graft.text.TextQuality.wordNgrams(col("__tk"), 2)).as("__bg"))
    val biCounts = bi.groupBy(col("__bg")).agg(count(lit(1)).as("__cb"))
    val uni = prepped.select(explode(col("__tk")).as("__tok"))
    // the unigram table is VOCAB-sized, and it has two consumers (the V
    // count action below + the context join) — uncached, each consumer
    // re-ran the full corpus tokenize/explode/agg pass. Caching the
    // aggregate is the freq-table doctrine (never the exploded rows).
    val uniCounts = Dedup.materialize(
      uni.groupBy(col("__tok")).agg(count(lit(1)).as("__cu")))
    val vocab = uniCounts.count().toDouble
    // context count = unigram count of the LEFT word; last-position tokens
    // also count as context occurrences in c(v) — standard corpus counts
    val transitions = bi
      .withColumn("__ctx", substring_index(col("__bg"), "\u0001", 1))
      .join(biCounts, Seq("__bg"))
      .join(uniCounts.withColumnRenamed("__tok", "__ctx"), Seq("__ctx"))
    avgLogProb(df, idCol, transitions,
      log((col("__cb") + lit(1L)).cast("double") /
        (col("__cu").cast("double") + lit(vocab))),
      "n_transitions", "avg_logp2")
  }

  /** Unigram-LM document scoring — the CCNet-style perplexity-proxy
    * quality filter, with the corpus itself as the language model:
    * avg_logp(d) = (1/|d|) Σ_i ln p(w_i),  p(w) = (c(w)+1)/(T+V)
    * (add-one smoothing over the corpus unigram counts; lower = more
    * surprising/noisier document).
    *
    * Scale shape: ONE groupBy over exploded tokens builds the count table
    * (O(vocab) rows); tokens then join back on the token key (AQE handles
    * stopword skew), and each per-document sum is over
    * [[TextHash.quantize]]d log-probs, with NO per-document buffering.
    * avg_logp = round(Σ q(ln p) / 10⁶ / n, 6) is exact to ~10⁻⁶, well
    * inside the filter's discrimination band. Documents with no tokens
    * score null.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toksDf = df.select(col(idCol).as("__id"),
      explode(TextHash.lowerTokens(col(textCol))).as("__tok"))
    // vocab-sized aggregate with two consumers (T+V totals action, score
    // join) — cached so the corpus token pass runs once, not twice
    val counts = Dedup.materialize(
      toksDf.groupBy(col("__tok")).agg(count(lit(1)).as("__c")))
    val tv = counts.agg(sum(col("__c")).as("__t"), count(lit(1)).as("__v")).head()
    val denom = (tv.getAs[Long]("__t") + tv.getAs[Long]("__v")).toDouble
    avgLogProb(df, idCol, toksDf.join(counts, Seq("__tok")),
      log((col("__c") + lit(1L)).cast("double") / denom), "n_tokens", "avg_logp")
  }

  /** Vocabulary coverage / OOV rate — the tokenizer-fit diagnostic: with
    * the vocab = the corpus's own top-`vocabSize` words (count desc, word
    * asc tie-break — a total, cross-engine order), per document report
    * `n_tokens`, `n_oov` (tokens outside the vocab) and
    * `oov_rate = round(n_oov/n_tokens, 6)`. High OOV flags documents a
    * fixed-vocab tokenizer will shred into bytes (fertility blow-up).
    *
    * Scale shape: the vocab is ONE token aggregation (O(vocab) rows)
    * TakeOrdered-limited to `vocabSize` and BROADCAST back; scoring is one
    * more token pass with a broadcast left join + per-doc integer sums —
    * no shuffle of exploded tokens, no driver collection beyond the
    * bounded vocab. The corpus is deliberately scanned twice rather than
    * caching the exploded token frame (corpus-sized, larger than its
    * source — at 100 TB a recompute beats a spill).
    * Empty documents score null.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val toksDf = df.select(col(idCol).as("__id"),
      explode(TextHash.lowerTokens(col(textCol))).as("__tok"))
    val vocab = toksDf.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__tok").asc)
      .limit(vocabSize)
      .select(col("__tok"), lit(1).as("__in"))
    val scored = toksDf.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
    df.select(col(idCol)).join(scored.withColumnRenamed("__id", idCol),
      Seq(idCol), "left")
  }

  /** PMI collocation mining — surface the token pairs that co-occur far
    * beyond chance: `pmi(a,b) = ln(p(ab) / (p(a)·p(b)))` with bigram and
    * unigram probabilities from the corpus itself. High-PMI pairs are the
    * multiword expressions / entities / boilerplate markers a tokenizer or
    * blocklist should know about; `minCount` cuts the classic low-frequency
    * PMI explosion (a pair seen twice can have a sky-high ratio).
    *
    * Determinism: pmi decomposes as `q(c_ab) − q(N_b) − q(c_a) − q(c_b) +
    * 2·q(N_u)` with every `q(x)` = [[TextHash.quantize]]`(ln x)` an integer
    * — pure integer arithmetic after the counts, ranked on the integer,
    * rounded for display only.
    *
    * Shape (the 100 TB story): unigram + bigram counts are partial-agg
    * groupBys; the pair table joins its two word counts as ordinary equi
    * joins (vocab-sized, shuffle-safe); the two corpus totals ride in as a
    * broadcast single row; top-K is TakeOrderedAndProject, never a global
    * sort.
    */
  def pmiCollocations(
      df: DataFrame,
      textCol: String,
      minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be positive")
    def q(x: Column): Column = TextHash.quantize(log(x.cast("double")))
    val prepped = df.select(cleanTokens(col(textCol)).as("__tk"))
    val uni = prepped.select(explode(col("__tk")).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__cu"))
    val bi = prepped
      .select(explode(graft.text.TextQuality.wordNgrams(col("__tk"), 2))
        .as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__cb"))
    val totals = broadcast(
      uni.agg(sum(col("__cu")).as("__nu"))
        .crossJoin(bi.agg(sum(col("__cb")).as("__nb"))))
    val u1 = uni.select(col("__tok").as("__w1"), col("__cu").as("__c1"))
    val u2 = uni.select(col("__tok").as("__w2"), col("__cu").as("__c2"))
    bi.where(col("__cb") >= minCount)
      .withColumn("__w1", split(col("__g"), "\u0001").getItem(0))
      .withColumn("__w2", split(col("__g"), "\u0001").getItem(1))
      .join(u1, Seq("__w1")).join(u2, Seq("__w2"))
      .crossJoin(totals)
      .withColumn("__pmi_u", q(col("__cb")) - q(col("__nb")) -
        q(col("__c1")) - q(col("__c2")) + lit(2L) * q(col("__nu")))
      .orderBy(col("__pmi_u").desc, col("__g").asc)
      .limit(topK)
      .select(
        regexp_replace(col("__g"), "\u0001", " ").as("gram"),
        col("__cb").as("n_pair"),
        round(TextHash.dequantize(col("__pmi_u")), 6).as("pmi"))
  }

  /** Zipf power-law fit per stratum — the corpus-health diagnostic: least-
    * squares slope of `ln(freq) ~ ln(rank)` over the top-`topK` tokens.
    * Natural text sits near `alpha ≈ 1` with high `r2`; template/boilerplate
    * floods flatten the curve (small alpha) and break the linearity (low
    * r2), so drift in either is an early warning on an ingest slice before
    * any per-document gate fires.
    *
    * Determinism: each `ln` is [[TextHash.quantize]]d at the row level, so
    * every SUM is exact integer arithmetic; the final slope/r2 are computed
    * in binary64 FROM the exact integer sums with the same operation order
    * in the oracle SQL, then rounded — no float aggregation order anywhere.
    *
    * Shape (the 100 TB story): one explode + one partial-agg groupBy build
    * the counts; the rank window runs over the AGGREGATED per-stratum vocab
    * (the q69 `topNgrams` shape), is cut to `topK` rows per stratum, and the
    * regression is one more partial-agg groupBy over ≤ `topK` rows per
    * stratum. Token magnitudes: micro-quantized `ln` sums of products stay
    * under 2^63 for `topK ≤ 1000` and corpus counts to ~e^300.
    */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      stratumCol: String,
      topK: Int = 100): DataFrame = {
    require(topK >= 3 && topK <= 1000, s"topK must be in [3,1000], got $topK")
    val top = topPerStratum(
        stratumTokenCounts(df, textCol, stratumCol), "__c", "__tok", topK, "__rank")
      .select(col("stratum"),
        TextHash.quantize(log(col("__rank").cast("double"))).as("__x"),
        TextHash.quantize(log(col("__c").cast("double"))).as("__y"))
    // binary64 arithmetic over EXACT integer sums, identical op order in
    // the oracle; 1e-12 of slope scale vs 5e-7 round boundary
    val Seq(n, sx, sy, sxx, sxy, syy) =
      Seq("n_top", "__sx", "__sy", "__sxx", "__sxy", "__syy").map(col(_).cast("double"))
    val cov = n * sxy - sx * sy
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    top.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_top"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__y") * col("__y")).as("__syy"))
      .select(col("stratum"), col("n_top"),
        // degenerate strata (constant rank impossible, but guard anyway)
        when(varx =!= 0.0, round(-cov / varx, 6)).as("zipf_alpha"),
        // a constant-frequency stratum (vary = 0, exact integer zero) has
        // no meaningful fit quality: r2 is null, not 0/0
        when(varx =!= 0.0 && vary =!= 0.0,
          round(cov * cov / (varx * vary), 6)).as("r2"))
  }
}
