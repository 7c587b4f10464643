package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Tables, Transcripts}
import graft.temporal.{AsOf, Backfill, ContextAssembly, Descriptors, Sessionize}
import graft.stats.WeightedStats
import graft.featurize.{Composition, Depart, FormulaParser, Magnitude, Poly, UnionPool}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has (where SQL-expressible) a DuckDB oracle in
  * [[oracleSql]] with IDENTICAL output column names; double-valued outputs are
  * rounded the same way on both sides so cross-engine float summation order
  * cannot flip the driver's hash compare.
  */
object SparkEntry {

  private def ev(s: SparkSession, dir: String) = Tables.load(s, dir, "events")
  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")

  /** Flagship: the SURVEY §7.2 minimum slice on synthesized transcripts —
    * backward as-of join of feature snapshots + lag + rolling tool-count +
    * sessionize + backfill. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val t = Transcripts.synthesize(spark, nConvs = 200, megaEvery = 64, megaLen = 512)
    val snaps = Transcripts.snapshots(t)
    val joined = AsOf.asofJoin(
      t, snaps,
      key = "conv_id", leftTs = "ts", rightTs = "snapshot_ts",
      tiebreak = "snap_turn_idx", payload = Seq("f_vec"))
    val sessioned = Sessionize.byGap(joined, "conv_id", "ts", Seq("ts", "turn_idx"), 1800L)
    val filled = Backfill.lastNonNull(sessioned, "conv_id", Seq("ts", "turn_idx"), Seq("tool"))
    Descriptors.pack(
      filled, "conv_id", Seq("ts", "turn_idx"),
      length(col("text")).cast("double"), lags = Seq(1, 2),
      rollingRows = 10, rollingPred = col("role") === "tool")
  }

  // ----- shared derived views (must stay in lockstep with the oracle SQL) --

  /** q24's synthesized search input (see the q24 entry for the rationale). */
  private[graft] def q24Frame(s: SparkSession): DataFrame =
    s.range(0, 2000, 1, 1).select(
      col("id"),
      (pmod(col("id") * 1103515245L + 12345L, lit(1048576L)).cast("double")
        / 1048576.0).as("x0"),
      (pmod(col("id") * 69069L + 1L, lit(1048576L)).cast("double")
        / 1048576.0).as("x1"))
      .withColumn("y", col("x0") * col("x0") + lit(5.0) * col("x1"))

  /** Snapshot side for the as-of query: purchase events deduped to one row
    * per (user_id, ts), keeping the value of the highest event_id.
    */
  private def purchaseSnapshots(e: DataFrame): DataFrame =
    e.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("snap_ts"))
      .agg(max(col("event_id")).as("snap_event_id"),
        max_by(col("value"), col("event_id")).as("snap_value"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core -------------------------------------------------
    "q01_pricing_summary" -> ((s, dir) => {
      li(s, dir)
        .where(col("l_shipdate") <= lit("1997-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    "q02_revenue_by_nation" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 4).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q03_topk_orders" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // ---- temporal engine -------------------------------------------------
    "q04_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir).select(
        col("event_id"), col("user_id"),
        lag(col("value"), 1).over(w).as("lag1"),
        lag(col("value"), 2).over(w).as("lag2"),
        lead(col("value"), 1).over(w).as("lead1"))
    }),

    "q05_rolling" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // windowed sums of DOUBLE are summation-order-dependent (DuckDB's
      // segment tree vs Spark's sequential frame scan), so round-then-sum an
      // EXACT integer quantity: TextHash.quantize at 10⁴ is the identical
      // IEEE op on both engines and long sums are order-free
      val vq = graft.text.TextHash.quantize(col("value"), 1e4)
      ev(s, dir).select(
        col("event_id"), col("user_id"),
        sum(when(col("event_type") === "click", 1).otherwise(0))
          .over(w.rowsBetween(-9, 0)).as("clicks_10"),
        graft.text.TextHash.dequantize(sum(vq).over(w.rowsBetween(-4, 0)), 1e4).as("val_5"))
    }),

    "q06_sessionize" -> ((s, dir) => {
      // same exact-integer-sum discipline as q05 (cross-engine FP parity)
      val vq = graft.text.TextHash.quantize(col("value"), 1e4)
      Sessionize.byGap(ev(s, dir), "user_id", "ts", Seq("ts", "event_id"), 1800L)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          graft.text.TextHash.dequantize(sum(vq), 1e4).as("session_value"))
    }),

    "q07_backfill" -> ((s, dir) => {
      val t = Transcripts.fromEvents(ev(s, dir))
      Backfill.lastNonNull(t, "conv_id", Seq("ts", "event_id"), Seq("tool"))
        .select(col("event_id"), col("conv_id"), col("tool_filled"))
    }),

    "q08_asof_join" -> ((s, dir) => {
      val e = ev(s, dir)
      AsOf.asofJoin(
        e.select(col("event_id"), col("user_id"), col("ts")),
        purchaseSnapshots(e),
        key = "user_id", leftTs = "ts", rightTs = "snap_ts",
        tiebreak = "snap_event_id", payload = Seq("snap_value"))
    }),

    // ---- featurebox statistics layer --------------------------------------
    "q09_weighted_stats" -> ((s, dir) => {
      val x = col("l_extendedprice"); val w = col("l_quantity")
      li(s, dir).groupBy(col("l_returnflag")).agg(
        round(WeightedStats.mean(x, w), 4).as("wmean"),
        round(WeightedStats.stdDevWeighted(x, w), 4).as("wstd"),
        round(WeightedStats.skewness(x, w), 6).as("wskew"),
        round(WeightedStats.kurtosisPearson(x, w), 6).as("wkurt"))
    }),

    "q10_holder_means" -> ((s, dir) => {
      val x = col("l_extendedprice"); val w = col("l_quantity")
      li(s, dir).groupBy(col("l_linestatus")).agg(
        round(WeightedStats.holderMean(x, w, 2.0), 4).as("holder2"),
        round(WeightedStats.holderMean(x, w, 3.0), 4).as("holder3"),
        round(WeightedStats.geometricMean(x, w), 4).as("geom"),
        round(WeightedStats.harmonicMean(x, w), 4).as("harm"))
    }),

    "q11_mode_mintie" -> ((s, dir) => {
      WeightedStats.modeMinTie(li(s, dir), Seq("l_returnflag"), "l_quantity")
    }),

    "q12_quantile" -> ((s, dir) => {
      // all three quantiles from ONE aggregation buffer (array percentile)
      val x = col("l_extendedprice")
      li(s, dir).groupBy(col("l_returnflag")).agg(
        WeightedStats.quantiles(x, Seq(0.25, 0.5, 0.75)).as("__q"))
        .select(col("l_returnflag"),
          round(element_at(col("__q"), 1), 6).as("q25"),
          round(element_at(col("__q"), 2), 6).as("q50"),
          round(element_at(col("__q"), 3), 6).as("q75"))
    }),

    // ---- composition featurizers ------------------------------------------
    "q13_composition_featurize" -> ((s, dir) => {
      val e = ev(s, dir)
      val comp = Composition.compositionLong(e, "user_id", "event_type")
      val lookup = e.groupBy(col("event_type")).agg(avg(col("value")).as("a"))
      val f = Composition.featurize(comp, lookup, "user_id", "event_type", Seq("a"))
      f.select(col("user_id"),
        round(col("a_wavg"), 6).as("wavg"), round(col("a_wsum"), 4).as("wsum"),
        round(col("a_geom"), 6).as("geom"), round(col("a_harm"), 6).as("harm"),
        round(col("a_wvar"), 6).as("wvar"),
        round(col("a_maxp"), 6).as("maxp"), round(col("a_minp"), 6).as("minp"))
    }),

    "q14_depart_pivot" -> ((s, dir) => {
      Depart.pivotCounts(ev(s, dir), "user_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view"))
    }),

    "q15_poly_features" -> ((s, dir) => {
      val out = Poly.transform(
        li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("x0"), col("l_discount").as("x1")),
        Seq("x0", "x1"), Seq(0, 1, 2))
      out.select(col("l_orderkey") +: col("l_linenumber") +:
        out.columns.filter(_.contains("^")).map(c =>
          round(col(s"`$c`"), 6).as(c)): _*)
    }),

    "q16_magnitude" -> ((s, dir) => {
      val d = li(s, dir)
      val model = Magnitude.fit(d, Seq("l_extendedprice", "l_quantity"))
      model.transform(d)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 6).as("price_scaled"),
          round(col("l_quantity"), 6).as("qty_scaled"))
    }),

    "q17_union_rowstats" -> ((s, dir) => {
      UnionPool.rowStats(
        li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("row_mean"), 6).as("row_mean"),
          round(col("row_std"), 6).as("row_std"),
          round(col("row_min"), 6).as("row_min"),
          round(col("row_max"), 6).as("row_max"))
    }),

    "q18_formula_featurize" -> ((s, dir) => {
      // formula strings synthesized from part attributes, parsed from
      // scratch, pooled against a 2-row lookup table (element-table analog)
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey"), format_string("H%dO%d",
          pmod(col("p_size"), lit(5)) + 1, pmod(col("p_size"), lit(3)) + 1)
          .as("formula"))
      val parsed = p.withColumn("comp", FormulaParser.parseCol(col("formula")))
      val exploded = parsed.select(col("p_partkey"),
        explode(col("comp")).as(Seq("sym", "n")))
      val lookup = s.createDataFrame(Seq(("H", 1.008), ("O", 15.999)))
        .toDF("sym", "mass")
      exploded.join(broadcast(lookup), Seq("sym"))
        .groupBy(col("p_partkey"))
        .agg(round(sum(col("n") * col("mass")), 6).as("molar_mass"),
          round(sum(col("n") * col("mass")) / sum(col("n")), 6).as("mean_mass"))
    }),

    "q19_token_stats" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val toks = filter(split(trim(col("text")), " "), t => t =!= "")
      d.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
    }),

    // ---- expression engine + selection ------------------------------------
    "q20_corr_matrix" -> ((s, dir) => {
      // single-pass d×d Pearson matrix (graft.search.Corr), long format
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val m = graft.search.Corr.matrix(li(s, dir), cols)
      val rows = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j), BigDecimal(m(i)(j))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      s.createDataFrame(rows).toDF("xi", "xj", "r")
    }),

    "q21_cv_ols" -> ((s, dir) => {
      // one-pass fold-Gram CV of OLS l_extendedprice ~ l_quantity
      val grams = graft.search.GramCV.fitWithFold(
        li(s, dir), Seq("l_quantity"), "l_extendedprice",
        3, pmod(col("l_orderkey"), lit(3)))
      val rows = grams.foldR2(Seq(0)).zipWithIndex.map { case (r2, f) =>
        (f.toLong, BigDecimal(r2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      s.createDataFrame(rows.toSeq).toDF("fold", "r2")
    }),

    "q22_symbolic_eval" -> ((s, dir) => {
      import graft.expr._
      val reg = Registry(terminals = Map(
        "x0" -> (col("l_quantity"), Dim.dless),
        "x1" -> (col("l_discount"), Dim.dless),
        "x2" -> (col("l_extendedprice"), Dim.dless),
        "x3" -> (col("l_tax"), Dim.dless)))
      val e = Binary("*", Binary("+", Terminal("x0"), Terminal("x1")),
        Binary("-", Terminal("x2"), Terminal("x3")))
      li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        round(Compiler.compile(e, reg), 6).as("feat"))
    }),

    "q23_group_ops" -> ((s, dir) => {
      // group (array) ops over the embedding column via higher-order fns
      val emb = transform(col("embedding"), x => x.cast("double"))
      val head8 = slice(emb, 1, 8)
      Tables.load(s, dir, "embeddings").select(
        col("vec_id"),
        round(aggregate(emb, lit(0.0), _ + _), 4).as("madd"),
        round(aggregate(head8, lit(0.0), _ + _), 6).as("madd8"),
        round(sqrt(aggregate(emb, lit(0.0), (a, x) => a + x * x)), 6).as("l2"),
        round(array_max(emb), 6).as("gmax"),
        round(array_min(emb), 6).as("gmin"))
    }),

    "q36_avg_dev" -> ((s, dir) => {
      graft.stats.StatRegistry
        .avgDev(li(s, dir), Seq("l_returnflag"), "l_extendedprice", "l_quantity")
        .select(col("l_returnflag"),
          round(col("l_extendedprice_avg_dev"), 6).as("avg_dev"))
    }),

    "q37_geom_std" -> ((s, dir) => {
      li(s, dir).groupBy(col("l_linestatus")).agg(
        round(WeightedStats.geomStdDev(col("l_extendedprice"), col("l_quantity")), 6)
          .as("geom_std"))
    }),

    "q38_rollup" -> ((s, dir) => {
      li(s, dir).rollup(col("l_returnflag"), col("l_linestatus")).agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n"))
    }),

    "q39_setops" -> ((s, dir) => {
      val e = ev(s, dir)
      def users(t: String) =
        e.where(col("event_type") === t).select(col("user_id")).distinct()
      val both = users("click").intersect(users("purchase"))
        .withColumn("tag", lit("both"))
      val clickOnly = users("click").except(users("purchase"))
        .withColumn("tag", lit("click_only"))
      both.unionByName(clickOnly)
    }),

    "q40_lsh_topk" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
      graft.ann.Ann.lshTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("vec")),
        e.select(col("vec_id").as("cid"), col("vec")), k = 3, planes = 6)
    }),

    "q41_time_rolling" -> ((s, dir) => {
      // time-RANGE window (Neighborizer analog): events in the trailing 10
      // minutes per user — rangeBetween over integer epoch-µs
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts").cast("timestamp")))
        .rangeBetween(-600000000L, 0L)
      ev(s, dir).select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_10min"),
        round(sum(col("value")).over(w), 4).as("val_10min"))
    }),

    "q42_asof_skewcapped" -> ((s, dir) => {
      // same semantics as q08 but through the skew-capped two-phase as-of:
      // the DuckDB ASOF oracle proves the bucket-split + carry-in rewrite
      val e = ev(s, dir)
      AsOf.asofJoinSkewCapped(
        e.select(col("event_id"), col("user_id"), col("ts")),
        purchaseSnapshots(e),
        key = "user_id", leftTs = "ts", rightTs = "snap_ts",
        tiebreak = "snap_event_id", payload = Seq("snap_value"),
        bucketSeconds = 86400L)
    }),

    // no SQL oracle (driver records rows-only checks) ------------------------
    "q24_symbolic_search" -> ((s, dir) => {
      import graft.expr._
      // Deterministic, SF-INDEPENDENT search input so the seeded GP run has
      // one reproducible winner the DuckDB oracle can hard-code: LCG
      // features on a 2^20 grid (exact integer arithmetic → bit-identical
      // cross-engine), y = x0² + 5·x1, ONE partition so every aggregation
      // accumulates in row order exactly like the oracle's sequential scan.
      // Output = the hall winner's per-row prediction A·f+B (the same
      // closed-form OLS the oracle re-derives from the same sums), which
      // oracles the full search loop end-to-end: a different winner or a
      // different fit would change every row.
      val d = q24Frame(s)
      val reg = Registry(terminals = Map(
        "x0" -> (col("x0"), Dim.dless), "x1" -> (col("x1"), Dim.dless)))
      val res = graft.search.SymbolicSearch.fit(d, reg, col("y"),
        graft.search.SymbolicSearch.Config(popSize = 30, nGen = 4, maxHeight = 3,
          reTree = 2)) // elite-subtree re-add live in the driver run
      d.select(col("id"), col("y"),
        round(graft.search.SymbolicSearch.predictCol(res.best, res.registry), 6)
          .as("pred"))
    }),

    "q43_score_batch" -> ((s, dir) => {
      // the GP scoring path (Scoring.scoreBatch: one packed aggregation per
      // chunk, closed-form A·f+B OLS, error containment) on a FIXED
      // candidate set — fully oracle-checkable, unlike the driver-RNG search
      import graft.expr._
      val reg = Registry(terminals = Map(
        "x0" -> (col("l_quantity"), Dim.dless),
        "x1" -> (col("l_tax"), Dim.dless),
        "x2" -> (col("l_discount"), Dim.dless)))
      val cands = Seq(
        "cadd" -> Binary("+", Terminal("x0"), Terminal("x1")),
        "cmul" -> Binary("*", Terminal("x0"), Terminal("x2")),
        "cdiv" -> Binary("/", Terminal("x0"), Terminal("x2")), // /0 → contained
        "csq" -> Unary("pow2", Terminal("x0")))
      val fits = Scoring.scoreBatch(li(s, dir), col("l_extendedprice"),
        cands.map { case (n, e) => n -> Compiler.compile(e, reg) })
      val rows = cands.map { case (n, _) =>
        val f = fits(n)
        (n, BigDecimal(f.r2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, f.n)
      }
      s.createDataFrame(rows).toDF("cand", "r2", "n_ok")
    }),

    "q44_dedup_clusters" -> ((s, dir) => {
      // near-dup pairs (q34 config) resolved to connected components:
      // cluster_id = smallest member id = the canonical keeper
      val pairs = graft.text.Dedup.embeddingPairs(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        planes = 4, threshold = 0.3, blockCap = 100000)
      graft.text.Dedup.resolveClusters(pairs)
        .select(col("id"), col("cluster_id"))
    }),

    "q45_mic" -> ((s, dir) => {
      // binned-MI (MIC-variant) matrix, long format like q20
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val m = graft.search.Corr.binnedMI(li(s, dir), cols, bins = 4)
      val rows = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j), BigDecimal(m(i)(j) / math.log(4.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      s.createDataFrame(rows).toDF("xi", "xj", "mic")
    }),

    "q46_lsh_multiprobe" -> ((s, dir) => {
      // q40 with 1-bit-flip multi-probe: recovers neighbors lost across a
      // single hyperplane at fixed planes
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
      graft.ann.Ann.lshTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("vec")),
        e.select(col("vec_id").as("cid"), col("vec")),
        k = 3, planes = 6, probes = 6)
    }),

    // ---- training-data pipeline ops ---------------------------------------
    "q26_exact_dedup" -> ((s, dir) => {
      graft.text.Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", "text")
    }),

    "q27_ngram_jaccard" -> ((s, dir) => {
      graft.text.Dedup.ngramJaccardPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        blockKey = col("lang"), shingleN = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "q28_simhash" -> ((s, dir) => {
      // production-width 64-bit SimHash as two 32-bit parts (sign-safe on
      // both engines), computed in one native-codegen pass per row
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextHash.simhashParts(col("text"), 2).as("__sig"))
        .select(col("doc_id"),
          element_at(col("__sig"), 1).as("sig_lo"),
          element_at(col("__sig"), 2).as("sig_hi"))
    }),

    "q29_minhash_pairs" -> ((s, dir) => {
      graft.text.Dedup.minhashPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4, threshold = 0.7, blockCap = 64)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "q30_brute_topk" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
      graft.ann.Ann.bruteTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("vec")),
        e.select(col("vec_id").as("cid"), col("vec")), k = 3)
    }),

    "q31_langid" -> ((s, dir) => {
      Tables.load(s, dir, "documents").select(col("doc_id"),
        graft.text.TextQuality.langId(col("text")).as("lang_pred"))
    }),

    "q32_quality" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val qc = graft.text.TextQuality.qualityColumns(col("text")).toMap
      d.select(col("doc_id"),
        qc("q_chars").as("q_chars"), qc("q_tokens").as("q_tokens"),
        round(qc("q_mean_tok_len"), 6).as("q_mean_tok_len"),
        round(qc("q_stopword_ratio"), 6).as("q_stopword_ratio"),
        round(qc("q_alpha_ratio"), 6).as("q_alpha_ratio"),
        round(qc("q_repetition"), 6).as("q_repetition"),
        graft.text.TextQuality.qualityScore(col("text")).as("q_score"),
        graft.text.TextQuality.subwordCount(col("text")).as("q_subwords"))
    }),

    "q33_fingerprint" -> ((s, dir) => {
      Tables.load(s, dir, "documents").select(col("doc_id"),
        graft.text.TextHash.fingerprint(col("text")).as("fp"))
    }),

    "q34_embed_neardup" -> ((s, dir) => {
      graft.text.Dedup.embeddingPairs(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        planes = 4, threshold = 0.3, blockCap = 100000)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    "q35_multimodal" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      import s.implicits._
      val assets = Multimodal
        .assetsFromText(Tables.load(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.Asset]
      Multimodal.extractFeatures(assets).toDF().select(
        col("asset_id"), col("media_type"), col("n_bytes"), col("checksum"),
        round(element_at(col("feature"), 1), 6).as("f0"),
        round(element_at(col("feature"), 4), 6).as("f3"))
    }),

    "q50_simhash_pairs" -> ((s, dir) => {
      // 64-bit signatures, 4×16-bit bands; maxHamming=3 < 4 bands means
      // banding recall is EXACT (pigeonhole). Order-scrambled twins (same
      // token multiset, different bytes — the canonical SimHash catch that
      // md5 dedup misses) are injected for every 10th doc so the query
      // demonstrably finds them at the production width.
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val sib = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat_ws(" ", reverse(graft.text.TextHash.tokens(col("text"))))
            .as("text"))
      graft.text.Dedup.simhashPairs(docs.unionByName(sib), "doc_id", "text",
        maxHamming = 3, blockCap = 256)
    }),

    "q51_contamination" -> ((s, dir) => {
      // decontamination check: which "benchmark" docs (a deterministic
      // sample) leak into the training corpus — exact + near matches
      val docs = Tables.load(s, dir, "documents")
      val bench = graft.text.Sampling.stratified(docs, "doc_id", "lang",
        Map("en" -> 0.2), defaultRate = 0.1, salt = "bench")
      graft.text.Dedup.contaminationPairs(
        docs, "doc_id", bench, "doc_id", "text",
        blockKey = col("lang"), shingleN = 3, threshold = 0.8)
        .select(col("train_id"), col("bench_id"),
          round(col("jaccard"), 6).as("jaccard"))
    }),

    "q47_dedup_docs" -> ((s, dir) => {
      // end-to-end keep-list: exact dups + near-dups clustered, min id kept
      graft.text.Dedup.dedupDocs(Tables.load(s, dir, "documents"),
        "doc_id", "text", blockKey = col("lang"), shingleN = 3, threshold = 0.7)
    }),

    "q48_stratified_sample" -> ((s, dir) => {
      // deterministic language-balanced data mixing: keep-decision is a pure
      // hash of the row's own id — bit-identical at any parallelism
      graft.text.Sampling.stratified(Tables.load(s, dir, "documents"),
        "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.3, "de" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
    }),

    "q49_frame_offsets" -> ((s, dir) => {
      // multimodal frame sampling: every stride-th byte offset of the
      // payload, capped at maxFrames — the partition/limit shape of real
      // video frame extraction (payload here = UTF-8 text bytes, as in q35)
      import graft.multimodal.Multimodal
      val assets = Multimodal.assetsFromText(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val offs = Multimodal.sampleFrameOffsets(
        length(col("payload")).cast("long"), stride = 7, maxFrames = 5)
      assets.select(col("asset_id"),
        size(offs).cast("long").as("n_frames"),
        element_at(offs, 1).as("first_off"),
        element_at(offs, -1).as("last_off"))
    }),

    "q25_ego_rank" -> ((s, dir) => {
      // fully oracle-verified EGO: LCG bootstrap weights + exact integer
      // sufficient statistics (quantity is integer-valued, price quantized
      // to cents) → bit-identical betas/EI across engines
      val model = graft.search.Ego.fitBootstrapExact(
        li(s, dir), "x",
        x = col("l_quantity"),
        yInt = graft.text.TextHash.quantize(col("l_extendedprice"), 100.0),
        rowKey = col("l_orderkey") * 8 + col("l_linenumber"), b = 8)
      val space = graft.search.Ego.searchSpace(s,
        Seq("x" -> (1 to 60).map(_.toDouble)))
      graft.search.Ego.rank(space, model, yStar = 6000000.0) // y* = $60k in cents
        .orderBy(col("ei").desc, col("x").asc).limit(10)
        .select(col("x"), round(col("ei") / 100.0, 2).as("ei"))
    }),

    "q53_weighted_quantile" -> ((s, dir) => {
      // frequency-weight exact quantile via the WINDOW path (O(1) state
      // per row — the mega-group-safe route; the buffered aggregate form
      // is spec-pinned identical): same weighted-CDF walk as the oracle —
      // exact cross-engine because l_quantity weights are integral, so
      // every cumulative sum is an exact integer in double arithmetic
      WeightedStats.weightedQuantilesGrouped(
          li(s, dir), Seq("l_returnflag"),
          col("l_extendedprice"), col("l_quantity"),
          Seq("wq50" -> 0.5, "wq25" -> 0.25))
        .select(col("l_returnflag"),
          round(col("wq50"), 6).as("wq50"), round(col("wq25"), 6).as("wq25"))
    }),

    "q52_ivf_topk" -> ((s, dir) => {
      // IVF ANN with the deterministic sampling quantizer (iterations = 0:
      // centroids are the nCentroids corpus vectors with the smallest LCG
      // draw — exact integer arithmetic, so the oracle reproduces them
      // bit-for-bit; Lloyd refinement is float-sum-order dependent and is
      // verified by Round2Spec's nProbe=nList exactness instead)
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
      val corpus = e.select(col("vec_id").as("cid"), col("vec"))
      val model = graft.ann.Ann.ivfTrain(corpus, nCentroids = 8, iterations = 0)
      graft.ann.Ann.ivfTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("vec")),
        corpus, model, k = 3, nProbe = 2)
    }),

    "q54_ego_acq" -> ((s, dir) => {
      // single-objective EGO/KG Gaussian acquisitions (ego.py facade) on the
      // same exact-integer bootstrap as q25 — betas are bit-identical across
      // engines, and the oracle spells the SAME erf polynomial (A&S 7.1.26)
      // so Φ matches to the double ulp; outputs rounded to absorb the one
      // op whose last bit may differ cross-engine (libm vs JVM exp)
      val model = graft.search.Ego.fitBootstrapExact(
        li(s, dir), "x",
        x = col("l_quantity"),
        yInt = graft.text.TextHash.quantize(col("l_extendedprice"), 100.0),
        rowKey = col("l_orderkey") * 8 + col("l_linenumber"), b = 8)
      val space = graft.search.Ego.searchSpace(s,
        Seq("x" -> (1 to 60).map(_.toDouble)))
      graft.search.Ego.egoSearch(space, model, yMax = 5290000.0, rankway = "no")
        .select(col("x"),
          round(col("pred_mean") / 100.0, 4).as("mean_usd"),
          round(col("pred_std") / 100.0, 4).as("std_usd"),
          round(col("ei_ego") / 100.0, 4).as("ei_ego"),
          round(col("ei_kg") / 100.0, 4).as("ei_kg"))
        .orderBy(col("x").asc)
    }),

    "q55_seq_packing" -> ((s, dir) => {
      // LLM pretraining sequence packing (concat-then-chunk): deterministic
      // shuffle order + bucket-parallel token cumsum; the oracle replays the
      // identical polynomial-hash order and integer cumsums
      val docs = Tables.load(s, dir, "documents")
        .withColumn("n_tokens",
          size(graft.text.TextHash.tokens(col("text"))).cast("long"))
      graft.text.Packing.packChunked(
        docs, "doc_id", "n_tokens", budget = 256L, buckets = 8)
        .select(col("doc_id"), col("bucket"), col("seq_id"),
          col("seq_off"), col("crosses"))
        .orderBy(col("doc_id"))
    }),

    "q56_token_mixing" -> ((s, dir) => {
      // token-budget data mixing: per-language keep rates realize the
      // target TOKEN mixture (production domain weights are over tokens,
      // not docs); rates come from exact integer token sums through one
      // fixed double op sequence, so the oracle reproduces the row set
      val docs = Tables.load(s, dir, "documents")
        .withColumn("ntok",
          size(graft.text.TextHash.tokens(col("text"))).cast("long"))
      graft.text.Sampling.mixByTokenBudget(docs, "doc_id", "lang", "ntok",
        Map("en" -> 0.6, "zh" -> 0.3, "de" -> 0.1), budget = 20000L)
        .select(col("doc_id"), col("lang"))
    }),

    "q57_pii_redaction" -> ((s, dir) => {
      import graft.text.Redact
      // the synthetic corpus has no PII, so shapes are injected
      // deterministically into every 7th doc — the oracle injects the same
      // and must byte-match counts AND the redacted text
      val t2 = when(pmod(col("doc_id"), lit(7L)) === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com ip 10.0.0.1 acct 12345678901")))
        .otherwise(col("text"))
      Tables.load(s, dir, "documents").select(col("doc_id"),
        Redact.emailCount(t2).as("n_email"),
        Redact.ipv4Count(t2).as("n_ip"),
        Redact.digitRunCount(t2).as("n_num"),
        Redact.redact(t2).as("clean"))
    }),

    "q58_repetition" -> ((s, dir) => {
      // Gopher/C4-family repetition quality rules: duplicate word-n-gram
      // fraction for n=2 and n=5. Tokenize ONCE and share the array across
      // both n's (CollapseProject keeps the non-cheap alias; the round-5
      // form lowered+split+filtered the text twice per row — guide §1.2)
      import graft.text.TextQuality
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextHash.lowerTokens(col("text")).as("__tk"))
        .select(col("doc_id"),
          round(TextQuality.dupNgramFractionFromToks(col("__tk"), 2), 6)
            .as("dup2"),
          round(TextQuality.dupNgramFractionFromToks(col("__tk"), 5), 6)
            .as("dup5"))
    }),

    "q59_bm25" -> ((s, dir) => {
      // BM25 lexical retrieval over the corpus: one stats pass (N, total
      // tokens, per-term df) + a pure projection score; idf/avgdl derive
      // from exact integer counts so the oracle reproduces the scores
      graft.text.Retrieval.bm25(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        query = Seq("window", "join", "merge"))
        .select(col("doc_id"), col("n_tokens"), col("bm25"))
    }),

    "q60_unigram_lm" -> ((s, dir) => {
      // CCNet-style perplexity-proxy filter: avg token log-prob under the
      // corpus's own add-one-smoothed unigram LM; per-doc double sums fold
      // in token-position order so the oracle reproduces them exactly
      graft.text.Retrieval.unigramLogProb(
        Tables.load(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("avg_logp"))
    }),

    "q61_split_assign" -> ((s, dir) => {
      // deterministic train/val/test assignment: identity hash band walks
      // cumulative fraction thresholds — no shuffle, re-run stable, and a
      // row can never land in two splits
      Tables.load(s, dir, "documents").select(col("doc_id"),
        graft.text.Sampling.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    }),

    "q62_incremental_dedup" -> ((s, dir) => {
      // daily-ingest dedup: every 5th doc plays the NEW batch, the rest the
      // existing corpus; admit batch docs that duplicate neither the corpus
      // (exact digest or near jaccard) nor a batch sibling
      val docs = Tables.load(s, dir, "documents")
      graft.text.Dedup.dedupIncremental(
        batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0),
        corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0),
        "doc_id", "text", blockKey = col("lang"), threshold = 0.7)
    }),

    "q63_bm25_batch" -> ((s, dir) => {
      // multi-query BM25 — the realistic curation shape (many seed queries
      // at once): ONE stats pass over the union of all terms, one scan,
      // one score column per query
      graft.text.Retrieval.bm25Batch(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("bm25_q1" -> Seq("window", "join", "merge"),
          "bm25_q2" -> Seq("data", "the"),
          "bm25_q3" -> Seq("stream", "shuffle", "partition", "sort")))
        .select(col("doc_id"), col("n_tokens"),
          col("bm25_q1"), col("bm25_q2"), col("bm25_q3"))
    }),

    "q64_bmp_decode" -> ((s, dir) => {
      // REAL image decode end-to-end: text bytes → genuine 8×8 24-bpp BMP
      // binaries (headers, stride, bottom-up rows) → from-scratch decoder →
      // per-channel pixel means; the oracle recomputes the stats from the
      // generative pixel formula, so any header/stride/offset bug in the
      // decoder breaks the hash
      import graft.multimodal.Multimodal
      val assets = Multimodal.bmpAssetsFromText(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      Multimodal.decodeBmpStats(assets).toDF().select(
        col("asset_id"), col("width"), col("height"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_r"), 6).as("mean_r"))
    }),

    "q65_line_dedup" -> ((s, dir) => {
      // C4/RefinedWeb line-level boilerplate rule. The synthetic docs are
      // single-line, so multi-line structure is built deterministically:
      // token stream chunked into 8-token lines, classic boilerplate
      // injected (header on every 3rd doc, footer on every 4th); the rule
      // then strips every line appearing in >= 5 distinct docs
      val p = Tables.load(s, dir, "documents")
        .select(col("doc_id"), graft.text.TextHash.tokens(col("text")).as("tk"))
        .withColumn("nl",
          ceil(size(col("tk")).cast("double") / 8.0).cast("long"))
      val bodyLines = transform(
        sequence(lit(0L), greatest(col("nl") - 1, lit(0L))),
        i => array_join(slice(col("tk"), (i * 8 + 1).cast("int"), lit(8)), " "))
      val header = when(pmod(col("doc_id"), lit(3L)) === 0,
        array(lit("subscribe to our newsletter for updates")))
        .otherwise(array().cast("array<string>"))
      val footer = when(pmod(col("doc_id"), lit(4L)) === 0,
        array(lit("copyright footer all rights reserved")))
        .otherwise(array().cast("array<string>"))
      val docs2 = p.select(col("doc_id"),
        concat_ws("\n", concat(header, bodyLines, footer)).as("text2"))
      graft.text.Dedup.lineDedup(docs2, "doc_id", "text2", minDocFreq = 5L)
    }),

    "q66_char_entropy" -> ((s, dir) => {
      // bits/char Shannon entropy quality gate — pure per-row expression
      Tables.load(s, dir, "documents").select(col("doc_id"),
        round(graft.text.TextQuality.charEntropy(col("text")), 6).as("entropy"))
    }),

    "q67_semantic_dedup" -> ((s, dir) => {
      // SemDeDup-style embedding dedup: IVF-bucketed cosine pairs →
      // clusters → min-id keep-list. Near-dup siblings are planted for
      // every 10th vector (1.01× scaled copy — cos ≈ 1) since the
      // synthetic embeddings have no natural near-dups (max cos 0.48)
      val e = Tables.load(s, dir, "embeddings")
      val orig = e.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      val sib = e.where(pmod(col("vec_id"), lit(10L)) === 0)
        .select((col("vec_id") + 1000000000L).as("vec_id"),
          transform(col("embedding"), x => x.cast("double") * 1.01).as("emb"))
      graft.text.Dedup.semanticDedup(orig.unionByName(sib), "vec_id", "emb",
        nClusters = 32, threshold = 0.999)
    }),

    "q68_curation" -> ((s, dir) => {
      // the pipeline-level facade: all content gates in one projection +
      // one digest window, per-gate audit booleans, split for survivors.
      // Thresholds chosen so each gate discriminates on the synthetic
      // corpus (entropy p10 = 4.0, token p20 = 29, lang mix 5 ways)
      import graft.text.Curation
      Curation.curate(Tables.load(s, dir, "documents"),
        "doc_id", "text", "lang",
        Curation.Gates(minTokens = 25, maxTokens = 5000,
          dupN = 2, maxDupFraction = 0.05, minEntropy = 4.0,
          langs = Set("en", "zh", "de")))
        .select(col("doc_id"), col("g_len"), col("g_rep"), col("g_ent"),
          col("g_lang"), col("g_uniq"), col("keep"), col("split"))
    }),

    "q69_top_ngrams" -> ((s, dir) => {
      // corpus vocabulary stats: top-10 bigrams per language — one explode,
      // one partial-agg groupBy, rank window over the aggregate only
      graft.text.Retrieval.topNgrams(Tables.load(s, dir, "documents"),
        "text", "lang", n = 2, k = 10)
    }),

    "q70_bigram_lm" -> ((s, dir) => {
      // order-aware perplexity proxy: add-one bigram LM with the corpus as
      // its own model; integer micro-unit sums (order-free, exact)
      graft.text.Retrieval.bigramLogProb(
        Tables.load(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_transitions"), col("avg_logp2"))
    }),

    "q71_hashed_bow" -> ((s, dir) => {
      // feature-hashing embedding: text → signed bag-of-words vector with
      // no vocabulary/model — the zero-dependency featurizer feeding
      // semanticDedup/ANN for corpora without embeddings. Values are exact
      // ±1 sums → strict cross-engine compare with no rounding. dim=256 is
      // the production width the native one-pass kernel exists for.
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.text.TextHash.hashedBow(col("text"), 256))
            .as(Seq("dim", "v")))
        .select(col("doc_id"), col("dim").cast("int").as("dim"), col("v"))
    }),

    "q72_dup_spans" -> ((s, dir) => {
      // ExactSubstr-family duplicate-passage detection: maximal spans of
      // 8-token windows whose window hash repeats anywhere in the corpus
      // (Lee et al. 2022 at window granularity). The synthetic docs repeat
      // naturally (~1k duplicated 8-grams at sf0.01)
      graft.text.Spans.duplicateSpans(
        Tables.load(s, dir, "documents"), "doc_id", "text", k = 8)
    }),

    "q73_bpe_pairs" -> ((s, dir) => {
      // tokenizer training, iteration-1 stats: adjacent char-pair counts
      // weighted by corpus word frequency — the first BPE merge candidates.
      // The corpus-wide pass is the word-freq table; pairs explode the
      // WORD TABLE, not the corpus
      import org.apache.spark.sql.expressions.Window
      val wf = graft.text.Bpe.wordFreqs(Tables.load(s, dir, "documents"), "text")
      graft.text.Bpe.pairCounts(wf)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
        .where(col("rank") <= 20)
    }),

    "q74_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights: target = English docs, raw = whole corpus,
      // 256 hashed-unigram buckets, integer micro-unit log-ratio sums
      graft.text.Sampling.importanceWeights(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 256)
        .select(col("doc_id"), col("n_tokens"),
          col("logratio"), col("logratio_avg"))
    }),

    "q75_chunk_overlap" -> ((s, dir) => {
      // RAG-style overlapping chunking: 24-token chunks, 6-token overlap —
      // pure per-row projection, zero shuffle
      graft.text.Spans.chunkOverlap(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 24, overlap = 6)
    }),

    "q76_passage_dedup" -> ((s, dir) => {
      // end-to-end passage cleaning: q72's duplicated spans stripped from
      // every doc, surviving tokens reassembled in place (no reassembly
      // aggregation — the doc never leaves its row)
      graft.text.Spans.dedupPassages(
        Tables.load(s, dir, "documents"), "doc_id", "text", k = 8)
    }),

    "q88_temperature_mix" -> ((s, dir) => {
      // temperature-rebalanced mixture (w_d ∝ tokens_d^0.3, the published
      // multilingual default): one totals aggregation drives quantized
      // weights AND keep rates; keep-decision = q48's hash rule
      val docs = Tables.load(s, dir, "documents")
        .withColumn("ntok",
          size(graft.text.TextHash.tokens(col("text"))).cast("long"))
      graft.text.Sampling.mixByTemperature(docs, "doc_id", "lang", "ntok",
          alpha = 0.3, budget = 15000L)
        .select(col("doc_id"), col("lang"))
    }),

    "q89_context_assembly" -> ((s, dir) => {
      // SFT-example assembly: per turn, the trailing context that fits a
      // token budget (value quantized as the token count, clicks carry
      // loss). One partition+sort serves both window passes.
      ContextAssembly.assemble(
        ev(s, dir), convCol = "user_id", orderCols = Seq("ts", "event_id"),
        idCol = "event_id",
        tokCol = floor(col("value") + 0.5),
        maskCol = (col("event_type") === "click").cast("int"),
        tokenBudget = 200L, maxTurns = 8)
    }),

    "q95_interval_join" -> ((s, dir) => {
      // SCD-2 validity-interval dimension join: purchase snapshots become
      // [eff_start, eff_end) versions; each click joins the version whose
      // window contains it. Equi-join on key + range residual — no theta
      // join, row-preserving by disjointness.
      val e = ev(s, dir)
      val dim = graft.temporal.Intervals.validityIntervals(
        purchaseSnapshots(e), key = "user_id", tsCol = "snap_ts")
      graft.temporal.Intervals.intervalJoin(
          e.where(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          dim, key = "user_id", factTs = "ts",
          startCol = "eff_start", endCol = "eff_end",
          payload = Seq("snap_value"))
        .select(col("event_id"), col("user_id"),
          col("eff_start"), col("eff_end"), col("snap_value"))
    }),

    "q96_cms_heavy" -> ((s, dir) => {
      // count-min-sketch heavy-hitter detection (skew diagnostics): a
      // 4×256 counter table replaces the exact per-key groupBy; estimates
      // never undercount (SketchSpec pins est >= exact).
      graft.stats.Sketch.heavyHitters(
          ev(s, dir), col("user_id"), depth = 4, width = 256,
          threshold = 150L)
        .select(col("key").as("user_id"), col("est"), col("heavy"))
    }),

    "q97_winnowing" -> ((s, dir) =>
      // MOSS winnowing fingerprints (k=8 char grams, w=4 window): the
      // position-robust partial-overlap index. Pure projection + explode.
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.text.TextHash.winnow(col("text"), k = 8, w = 4))
            .as("fp"))),

    "q98_tool_args" -> ((s, dir) => {
      // tool-call payload audit: typed extraction from the JSON props blob
      // + per-conversation parse-health aggregation. A deterministic 1-in-7
      // slice of payloads is corrupted in-query so the malformed path is
      // actually exercised on both engines.
      val dirty = when(pmod(col("event_id"), lit(7L)) === 0,
        concat(lit("{"), col("props"))).otherwise(col("props"))
      graft.temporal.ToolCalls.auditArgs(
        ev(s, dir), groupCol = "user_id", payload = dirty, field = "k")
    }),

    "q99_hll_distinct" -> ((s, dir) =>
      // HyperLogLog distinct-users-per-event-type: 64 registers per group,
      // every intermediate exactly reproducible cross-engine (power-of-two
      // harmonic sums are exact in binary64 whatever the merge order).
      graft.stats.Sketch.hllDistinct(
        ev(s, dir), groupCols = Seq("event_type"), key = col("user_id"),
        b = 6)),

    "q100_turn_repair" -> ((s, dir) =>
      // transcript repair: merge consecutive same-role runs, drop the
      // pre-anchor prefix, reindex densely. One shuffle feeds the segment
      // window, the merge groupBy and both follow-up windows.
      graft.temporal.TranscriptRepair.repair(
        ev(s, dir), convCol = "user_id", orderCols = Seq("ts", "event_id"),
        roleCol = "event_type", textCol = col("props"),
        anchorRole = "click")),

    "q101_blocklist" -> ((s, dir) =>
      // banned-term gate: whole-token word matches + sentinel-padded
      // canonical phrase matches. Pure projection, list baked as literals.
      graft.text.Blocklist.score(
          Tables.load(s, dir, "documents"), col("text"),
          terms = Seq("dup", "slow", "sort merge", "batch batch batch",
            "Table  Scan")) // canonicalization folds case + inner whitespace
        .select(col("doc_id"), col("n_word_hits"), col("n_phrase_hits"),
          col("blocked"))),

    "q102_zipf" -> ((s, dir) =>
      // per-language Zipf fit over the top-100 token rank-frequency curve:
      // integer micro-unit ln sums, binary64 finish from exact sums.
      graft.text.Retrieval.zipfFit(
        Tables.load(s, dir, "documents"), "text", "lang", topK = 100)),

    "q103_card_luhn" -> ((s, dir) => {
      // Luhn-verified card detection: candidates by shape, validity by
      // checksum. Valid PAN injected into every 3rd doc, shape-only digit
      // run into every 5th — the checksum separates them on both engines.
      import graft.text.Redact
      val t2 = concat(col("text"),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          lit(" pay 4539 1488 0343 6467 now")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5L)) === 0,
          lit(" ref 1234-5678-9012-3456 end")).otherwise(lit("")))
      val (nCand, nValid) = Redact.cardCounts(t2)
      Tables.load(s, dir, "documents").select(col("doc_id"),
        nCand.as("n_card_shaped"), nValid.as("n_luhn_valid"))
    }),

    "q104_pmi" -> ((s, dir) =>
      // PMI collocations: token pairs co-occurring beyond chance. Integer
      // micro-unit pmi, totals broadcast, top-k as TakeOrdered.
      graft.text.Retrieval.pmiCollocations(
        Tables.load(s, dir, "documents"), "text", minCount = 30L,
        topK = 20)),

    "q105_snapshot_diff" -> ((s, dir) => {
      // CDC between two synthetic table versions: the %17 slice is absent
      // from old (=> added), the %19 slice absent from new (=> removed),
      // the %13 slice value-bumped (=> changed). One full-outer join over
      // narrow (key, digest) rows. Digests compare within-engine only, so
      // double->string format differences across engines are harmless.
      val e = ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
      val oldV = e.where(pmod(col("event_id"), lit(17L)) =!= 0)
      val newV = e.where(pmod(col("event_id"), lit(19L)) =!= 0)
        .withColumn("value",
          when(pmod(col("event_id"), lit(13L)) === 0, col("value") + 1.0)
            .otherwise(col("value")))
      graft.lake.Cdc.diff(oldV, newV, keyCols = Seq("event_id"),
        compareCols = Seq("user_id", "value"))
    }),

    "q106_rate_anomaly" -> ((s, dir) => {
      // ingest-rate spike detection: daily per-type counts z-scored
      // against their own trailing week; a deterministic burst is injected
      // by doubling one day's rows so the spike path actually fires.
      val e = ev(s, dir)
      val burst = e.where(dayofmonth(col("ts")) === 15)
      graft.stats.Anomaly.rateSpikes(
          e.unionByName(burst), tsCol = "ts", groupCol = "event_type",
          bucket = "day", window = 7, minHist = 3, zThreshold = 3.0)
        // date_trunc promotes NTZ to LTZ, which parquet-writes as INT96/ns;
        // cast back so the driver's dtype compare sees µs on both sides
        .withColumn("bucket_ts", col("bucket_ts").cast("timestamp_ntz"))
    }),

    "q107_neg_samples" -> ((s, dir) =>
      // contrastive negative sampling: 3 hash-derived negatives per doc,
      // bucket-local dense ranks (no global index), equi joins only.
      graft.text.Sampling.negativeSamples(
        Tables.load(s, dir, "documents"), "doc_id", k = 3, buckets = 64)),

    "q108_role_transitions" -> ((s, dir) =>
      // dialogue-structure fingerprint: P(next role | prev role) over the
      // events-as-transcript corpus. One conv window + one tiny groupBy.
      graft.temporal.TranscriptStats.roleTransitions(
        ev(s, dir), convCol = "user_id", orderCols = Seq("ts", "event_id"),
        roleCol = "event_type")),

    "q109_blocklist_join" -> ((s, dir) => {
      // banned-term gate with the list as DATA (the 10⁵-10⁶-entry
      // compliance-list shape): token hits via explode + broadcast join,
      // phrase hits via first-token banding + padded-contains verify.
      // "sort merge"/"sort scan" share a band key on purpose.
      import s.implicits._
      val terms = Seq("dup", "slow", "sort merge", "sort scan",
        "Table  Scan").toDF("term")
      graft.text.Blocklist.scoreJoin(
          Tables.load(s, dir, "documents"), "doc_id", col("text"), terms)
        .select(col("doc_id"), col("n_word_hits"), col("n_phrase_hits"),
          col("blocked"))
    }),

    "q94_fim" -> ((s, dir) =>
      // fill-in-the-middle pretraining prep: hash-selected half of the
      // corpus rewritten PSM, hash-derived pivots; pure projection.
      graft.text.Fim.transform(
        Tables.load(s, dir, "documents"), idCol = "doc_id",
        textCol = col("text"), fimRate = 0.5)),

    "q93_chat_render" -> ((s, dir) =>
      // last-mile SFT rendering: one groupBy, order restored in-group via
      // array_sort on (ts, event_id)-led structs, no window/sort pass.
      graft.temporal.ChatRender.render(
        ev(s, dir), convCol = "user_id", orderCols = Seq("ts", "event_id"),
        roleCol = "event_type", textCol = col("props"))),

    "q92_curriculum_shards" -> ((s, dir) =>
      // range-partitioned curriculum: deterministic-sample quantile
      // boundaries + pure-projection assignment (no global sort/ntile).
      graft.text.Packing.curriculumShards(
        ev(s, dir).select(col("event_id"), col("value").as("score")),
        idCol = "event_id", scoreCol = col("score"),
        shards = 4, sampleRate = 0.2)),

    "q91_transcript_audit" -> ((s, dir) =>
      // structure gate over the events-derived transcript: role repeats,
      // empty turns, ts ties, span. One shuffle feeds window AND groupBy.
      graft.temporal.TranscriptAudit.audit(
        ev(s, dir), convCol = "user_id", orderCols = Seq("ts", "event_id"),
        roleCol = "event_type", tsCol = "ts", textCol = col("props"))),

    "q90_preference_pairs" -> ((s, dir) =>
      // DPO-pair mining: per user, champion event vs margin-separated
      // lower-scored events, hardest negatives first, capped at 3. One
      // shuffle, one sort, no join, no pair explosion.
      graft.text.Preference.minePairs(
        ev(s, dir), groupCol = "user_id", idCol = "event_id",
        scoreCol = col("value"), margin = 30.0, maxPairsPerGroup = 3)),

    "q87_oov_rate" -> ((s, dir) =>
      // vocabulary-coverage diagnostic: per-doc OOV rate against the
      // corpus's own top-500 words (one bounded-vocab aggregation,
      // broadcast back — no token shuffle)
      graft.text.Retrieval.oovRate(
        Tables.load(s, dir, "documents"), "doc_id", "text", vocabSize = 500)),

    "q86_url_curation" -> ((s, dir) => {
      // URL canonicalization + per-domain quota: the source-diversity gate.
      // The corpus has no URL column, so a messy URL is derived
      // deterministically per row (case noise, default port, tracking
      // params, fragment — both engines build the identical string)
      val id = col("doc_id")
      val url0 = concat(
        when(pmod(id, lit(3L)) === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(pmod(id, lit(2L)) === 0, lit("WWW.")).otherwise(lit("www.")),
        col("source"), pmod(id, lit(8L)).cast("string"), lit(".COM"),
        when(pmod(id, lit(5L)) === 0, lit(":443")).otherwise(lit("")),
        lit("/"), col("source"), lit("/"), pmod(id, lit(7L)).cast("string"),
        when(pmod(id, lit(6L)) === 0,
          concat(lit("?utm_medium=email&id="), id.cast("string")))
          .otherwise(concat(lit("?id="), id.cast("string"),
            when(pmod(id, lit(2L)) === 0,
              lit("&utm_source=feed&utm_campaign=x")).otherwise(lit("")))),
        when(pmod(id, lit(4L)) === 0, lit("#frag")).otherwise(lit("")))
      val withUrl = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          graft.text.Web.canonicalize(url0).as("url"))
      graft.text.Web.perDomainCap(withUrl, "url", cap = 8,
          order = Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("url"), col("domain"),
          col("domain_rank").cast("long").as("domain_rank"))
    }),

    "q85_strip_markup" -> ((s, dir) => {
      // markup-strip gate: the corpus is plain text, so HTML dirt is
      // injected in-query (q80's pattern — both engines build the same
      // dirty string; the script body's bare `<` proves block semantics)
      val dirty = concat(
        when(pmod(col("doc_id"), lit(2L)) === 0,
          lit("<!DOCTYPE html><html><head><STYLE>body{color:red}</STYLE>" +
            "<script src=\"a.js\">var i=1; if(i<2){i=3;}</script></head>" +
            "<body><p class=\"intro\">")).otherwise(lit("")),
        col("text"),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          lit(" &amp;amp; x &lt;tag&gt;&nbsp;&quot;q&#39;</p>" +
            "<!-- hidden --> tail</body></html>")).otherwise(lit("")))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          graft.text.TextQuality.stripMarkup(col("dirty")).as("clean_text"))
        .withColumn("n_after", length(col("clean_text")).cast("long"))
    }),

    "q84_bloom_incremental" -> ((s, dir) => {
      // bloom-prefiltered daily-ingest dedup: corpus digests + shingles
      // summarized by two Bloom sketches; batch rows only reach the exact
      // joins when a sketch says "maybe" — identical admitted set to q62's
      // machinery (bloom negatives are guaranteed novel), different split
      val docs = Tables.load(s, dir, "documents")
      graft.text.Dedup.dedupIncrementalBloom(
        batch = docs.where(pmod(col("doc_id"), lit(7L)) === 0),
        corpus = docs.where(pmod(col("doc_id"), lit(7L)) =!= 0),
        "doc_id", "text", blockKey = col("lang"), threshold = 0.7)
    }),

    "q83_shard_balanced" -> ((s, dir) => {
      // token-balanced output sharding: serpentine deal within hash-bucket
      // balancing domains — near-equal shard token totals with no global
      // sort; the writer-side layout op for training shards
      val docs = Tables.load(s, dir, "documents")
        .withColumn("n_tokens",
          size(graft.text.TextHash.tokens(col("text"))).cast("long"))
      graft.text.Packing.shardBalanced(docs, "doc_id", "n_tokens",
          shards = 4, buckets = 8)
        .select(col("doc_id"), col("n_tokens"), col("bucket"), col("shard"))
    }),

    "q82_token_drift" -> ((s, dir) => {
      // per-source distribution drift vs the corpus pool: KL divergence +
      // chi-square over the (source × token) contingency table — the slice
      // monitoring op that flags an off-distribution ingest source. One
      // corpus pass; integer micro-unit sums (the q60 doctrine)
      graft.text.Drift.tokenDrift(
        Tables.load(s, dir, "documents"), "text", "source")
    }),

    "q81_ivfpq_topk" -> ((s, dir) => {
      // IVF-PQ ANN (the FAISS billion-vector shape, by_residual=false):
      // coarse quantizer buckets the corpus, PQ compresses each corpus
      // vector to m=4 codes, queries probe 2 lists and score candidates by
      // ADC table lookup — the probe join carries codes, never vectors.
      // iterations=0 sampling quantizers (exact integer LCG draws) keep
      // every arithmetic step replayable in the oracle, as in q52.
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
      val corpus = e.select(col("vec_id").as("cid"), col("vec"))
      val coarse = graft.ann.Ann.ivfTrain(corpus, nCentroids = 8, iterations = 0)
      val pq = graft.ann.Ann.pqTrain(corpus, m = 4, nCodes = 8, iterations = 0)
      graft.ann.Ann.ivfPqTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("vec")),
        corpus, coarse, pq, k = 3, nProbe = 2)
    }),

    "q80_normalize" -> ((s, dir) => {
      // text normalization gate: NFC (native expression) + control/zero-
      // width strip + whitespace collapse + trim. The corpus is ASCII, so
      // deterministic unicode dirt is injected in-query (both engines
      // build the identical dirty string)
      val dirty = concat(col("text"),
        when(pmod(col("doc_id"), lit(2L)) === 0, lit(" café"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          lit("​  spaced\tout ")).otherwise(lit("")))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          length(col("dirty")).cast("long").as("n_before"),
          graft.text.TextQuality.normalize(col("dirty")).as("clean_text"))
        .withColumn("n_after", length(col("clean_text")).cast("long"))
    }),

    "q79_decontaminate" -> ((s, dir) => {
      // GPT-3-style benchmark decontamination at the PUBLISHED k=13: strip
      // every train span sharing a 13-gram with the benchmark split
      // (doc_id % 5 = 0 plays the benchmark, as in q62)
      val docs = Tables.load(s, dir, "documents")
      graft.text.Spans.decontaminate(
        docs.where(pmod(col("doc_id"), lit(5L)) =!= 0), "doc_id", "text",
        docs.where(pmod(col("doc_id"), lit(5L)) === 0), "text", k = 13)
    }),

    "q78_bpe_encode" -> ((s, dir) => {
      // the ENCODE half of BPE as a pure projection: a fixed merge list
      // (the q13/q18 literal-lookup pattern — rank-ordered, as training
      // emits) applied via plain substring replacement, rank by rank
      graft.text.Bpe.encode(Tables.load(s, dir, "documents"),
        "doc_id", "text", SparkEntry.bpeMerges)
    }),

    "q77_quality_gram" -> ((s, dir) => {
      // in-engine quality-classifier training: the augmented Gram
      // [X|1|y]^T[X|1|y] over 16-dim hashed-BOW features + English label —
      // ONE aggregation (171 exact integer sums), the driver solves ridge
      graft.text.Classifier.qualityGram(
        Tables.load(s, dir, "documents"), "text",
        label = col("lang") === "en", dims = 16)
    })
  )

  /** Fixed rank-ordered BPE merge list for q78 — the literal-lookup-table
    * pattern; chains demonstrate multi-level merges ("table" → 1 subword).
    */
  val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
    "r" -> "o", "ro" -> "w", "s" -> "c", "sc" -> "a", "sca" -> "n",
    "e" -> "r", "o" -> "r", "i" -> "n", "s" -> "t")

  /** Brute-force twin of the incremental-dedup operators (q62/q84, oracle
    * scale): batch keep-list via the q47 recursive-CTE cluster pattern,
    * then anti-join corpus exact digests and corpus near matches. The
    * batch is `doc_id % mod = 0`; the bloom variant admits the IDENTICAL
    * set (bloom negatives are guaranteed novel, positives exactly
    * verified), so both operators share this SQL.
    */
  private def incrementalDedupOracleSql(mod: Long): String = {
    val sh = OracleSqlGen.shingleHashes("text", 3)
    s"""WITH RECURSIVE
       |b AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % $mod = 0),
       |c AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % $mod <> 0),
       |bs AS (SELECT doc_id, lang, $sh AS sh FROM b),
       |cs AS (SELECT doc_id, lang, $sh AS sh FROM c),
       |near AS (
       |  SELECT a.doc_id AS id_a, x.doc_id AS id_b
       |  FROM bs a JOIN bs x ON a.lang = x.lang AND a.doc_id < x.doc_id
       |  WHERE len(a.sh) > 0 AND len(x.sh) > 0
       |    AND ${OracleSqlGen.jaccard("a.sh", "x.sh")} >= 0.7
       |), ex AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |  FROM b
       |), allp AS (
       |  SELECT * FROM near
       |  UNION
       |  SELECT keeper AS id_a, doc_id AS id_b FROM ex WHERE doc_id <> keeper
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM allp
       |  UNION SELECT id_b, id_a FROM allp
       |), reach AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e2.a AS id, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id
       |), cl AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
       |kept AS (
       |  SELECT doc_id FROM b
       |  WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> c)
       |), exhit AS (
       |  SELECT b.doc_id FROM b
       |  JOIN (SELECT DISTINCT md5(text) AS m FROM c) cm ON md5(b.text) = cm.m
       |), nearhit AS (
       |  SELECT DISTINCT bs.doc_id
       |  FROM bs JOIN cs ON bs.lang = cs.lang
       |  WHERE len(bs.sh) > 0 AND len(cs.sh) > 0
       |    AND ${OracleSqlGen.jaccard("bs.sh", "cs.sh")} >= 0.7
       |)
       |SELECT doc_id FROM kept
       |WHERE doc_id NOT IN (SELECT doc_id FROM exhit)
       |  AND doc_id NOT IN (SELECT doc_id FROM nearhit)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1997-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_revenue_by_nation" ->
      """SELECT n_name, c_mktsegment,
        |  round(sum(o_totalprice), 4) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment""".stripMargin,

    "q03_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q04_lag_lead" ->
      """SELECT event_id, user_id,
        |  lag(value, 1) OVER w AS lag1,
        |  lag(value, 2) OVER w AS lag2,
        |  lead(value, 1) OVER w AS lead1
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q05_rolling" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS clicks_10,
        |  sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 10000.0 AS val_5
        |FROM events""".stripMargin,

    "q06_sessionize" ->
      """WITH gapped AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM gapped
        |)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS session_value
        |FROM sess GROUP BY user_id, session_idx""".stripMargin,

    "q07_backfill" ->
      """WITH t AS (
        |  SELECT event_id, CAST(user_id AS VARCHAR) AS conv_id, ts,
        |    CASE WHEN value > 50.0 THEN event_type END AS tool
        |  FROM events
        |)
        |SELECT event_id, conv_id,
        |  last_value(tool IGNORE NULLS) OVER (
        |    PARTITION BY conv_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_filled
        |FROM t""".stripMargin,

    "q08_asof_join" ->
      """WITH snaps AS (
        |  SELECT user_id, ts AS snap_ts,
        |    max_by(value, event_id) AS snap_value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts
        |)
        |SELECT e.event_id, e.user_id, e.ts, s.snap_value
        |FROM events e
        |ASOF LEFT JOIN snaps s
        |  ON e.user_id = s.user_id AND e.ts >= s.snap_ts""".stripMargin,

    "q09_weighted_stats" ->
      """WITH ps AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(l_quantity) AS sw,
        |    sum(l_quantity*l_quantity) AS sww,
        |    sum(l_quantity*l_extendedprice) AS s1,
        |    sum(l_quantity*l_extendedprice*l_extendedprice) AS s2,
        |    sum(l_quantity*l_extendedprice*l_extendedprice*l_extendedprice) AS s3,
        |    sum(l_quantity*l_extendedprice*l_extendedprice*l_extendedprice*l_extendedprice) AS s4
        |  FROM lineitem GROUP BY 1
        |), st AS (SELECT *, s1/sw AS mu FROM ps)
        |SELECT l_returnflag,
        |  round(mu, 4) AS wmean,
        |  round(CASE WHEN n = 1 THEN 0.0
        |    ELSE sqrt((sw/(sw*sw - sww)) * (s2 - 2*mu*s1 + mu*mu*sw)) END, 4) AS wstd,
        |  round(CASE WHEN n = 1 THEN 0.0
        |    WHEN abs(s3/sw - 3*mu*(s2/sw) + 2*mu*mu*mu) < 1e-13 THEN 0.0
        |    ELSE (s3/sw - 3*mu*(s2/sw) + 2*mu*mu*mu)
        |         / power(s2/sw - mu*mu, 1.5) END, 6) AS wskew,
        |  round(CASE WHEN n = 1 THEN 0.0
        |    ELSE (s4/sw - 4*mu*(s3/sw) + 6*mu*mu*(s2/sw) - 3*mu*mu*mu*mu)
        |         / ((s2/sw - mu*mu) * (s2/sw - mu*mu)) END, 6) AS wkurt
        |FROM st""".stripMargin,

    "q10_holder_means" ->
      """SELECT l_linestatus,
        |  round(power(sum(l_quantity*power(l_extendedprice, 2.0))/sum(l_quantity), 0.5), 4) AS holder2,
        |  round(power(sum(l_quantity*power(l_extendedprice, 3.0))/sum(l_quantity), 1.0/3.0), 4) AS holder3,
        |  round(exp(sum(l_quantity*ln(l_extendedprice))/sum(l_quantity)), 4) AS geom,
        |  round(sum(l_quantity)/sum(l_quantity/l_extendedprice), 4) AS harm
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "q11_mode_mintie" ->
      """WITH counted AS (
        |  SELECT l_returnflag, l_quantity AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), ranked AS (
        |  SELECT l_returnflag, v, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY c DESC, v ASC) AS rn
        |  FROM counted
        |)
        |SELECT l_returnflag, v AS l_quantity_mode FROM ranked WHERE rn = 1""".stripMargin,

    "q12_quantile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS q50,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS q75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q13_composition_featurize" ->
      """WITH attr AS (
        |  SELECT event_type, avg(value) AS a FROM events GROUP BY 1
        |), comp AS (
        |  SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id,
        |  round(sum(n*a)/sum(n), 6) AS wavg,
        |  round(sum(n*a), 4) AS wsum,
        |  round(exp(sum(n*ln(a))/sum(n)), 6) AS geom,
        |  round(sum(n)/sum(n/a), 6) AS harm,
        |  round(sum(n*a*a)/sum(n) - (sum(n*a)/sum(n))*(sum(n*a)/sum(n)), 6) AS wvar,
        |  round(max(a), 6) AS maxp,
        |  round(min(a), 6) AS minp
        |FROM comp JOIN attr USING (event_type)
        |GROUP BY user_id""".stripMargin,

    "q14_depart_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,

    "q15_poly_features" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_quantity, 6) AS "x0^1",
        |  round(power(l_quantity, 2), 6) AS "x0^2",
        |  round(l_discount, 6) AS "x1^1",
        |  round(power(l_discount, 2), 6) AS "x1^2",
        |  round(l_quantity * l_discount, 6) AS "x0^1*x1^1",
        |  round(l_quantity * power(l_discount, 2), 6) AS "x0^1*x1^2",
        |  round(power(l_quantity, 2) * l_discount, 6) AS "x0^2*x1^1",
        |  round(power(l_quantity, 2) * power(l_discount, 2), 6) AS "x0^2*x1^2"
        |FROM lineitem""".stripMargin,

    "q16_magnitude" ->
      """WITH s AS (
        |  SELECT power(10, floor(log10(avg(abs(l_extendedprice))))) AS se,
        |         power(10, floor(log10(avg(abs(l_quantity))))) AS sq
        |  FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice/se, 6) AS price_scaled,
        |  round(l_quantity/sq, 6) AS qty_scaled
        |FROM lineitem, s""".stripMargin,

    "q17_union_rowstats" ->
      """SELECT l_orderkey, l_linenumber,
        |  round((l_quantity + l_extendedprice + l_discount)/3, 6) AS row_mean,
        |  round(sqrt(
        |    (l_quantity*l_quantity + l_extendedprice*l_extendedprice + l_discount*l_discount)/3
        |    - ((l_quantity + l_extendedprice + l_discount)/3)
        |      * ((l_quantity + l_extendedprice + l_discount)/3)), 6) AS row_std,
        |  round(least(l_quantity, l_extendedprice, l_discount), 6) AS row_min,
        |  round(greatest(l_quantity, l_extendedprice, l_discount), 6) AS row_max
        |FROM lineitem""".stripMargin,

    "q18_formula_featurize" ->
      """WITH f AS (
        |  SELECT p_partkey,
        |    CAST(p_size % 5 + 1 AS DOUBLE) AS nh,
        |    CAST(p_size % 3 + 1 AS DOUBLE) AS no
        |  FROM part
        |)
        |SELECT p_partkey,
        |  round(nh*1.008 + no*15.999, 6) AS molar_mass,
        |  round((nh*1.008 + no*15.999)/(nh + no), 6) AS mean_mass
        |FROM f""".stripMargin,

    "q19_token_stats" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS n_tokens,
        |  len(list_distinct(list_filter(string_split(trim(text), ' '), x -> x <> ''))) AS n_distinct
        |FROM documents""".stripMargin,

    "q20_corr_matrix" ->
      """WITH s AS (SELECT count(*) AS n,
        |  sum(l_quantity) AS s0, sum(l_extendedprice) AS s1,
        |  sum(l_discount) AS s2, sum(l_tax) AS s3,
        |  sum(l_quantity*l_quantity) AS p00, sum(l_quantity*l_extendedprice) AS p01,
        |  sum(l_quantity*l_discount) AS p02, sum(l_quantity*l_tax) AS p03,
        |  sum(l_extendedprice*l_extendedprice) AS p11,
        |  sum(l_extendedprice*l_discount) AS p12, sum(l_extendedprice*l_tax) AS p13,
        |  sum(l_discount*l_discount) AS p22, sum(l_discount*l_tax) AS p23,
        |  sum(l_tax*l_tax) AS p33
        |FROM lineitem)
        |SELECT 'l_quantity' AS xi, 'l_extendedprice' AS xj,
        |  round((p01/n - s0/n*s1/n)/sqrt((p00/n - s0/n*s0/n)*(p11/n - s1/n*s1/n)), 6) AS r FROM s
        |UNION ALL SELECT 'l_quantity', 'l_discount',
        |  round((p02/n - s0/n*s2/n)/sqrt((p00/n - s0/n*s0/n)*(p22/n - s2/n*s2/n)), 6) FROM s
        |UNION ALL SELECT 'l_quantity', 'l_tax',
        |  round((p03/n - s0/n*s3/n)/sqrt((p00/n - s0/n*s0/n)*(p33/n - s3/n*s3/n)), 6) FROM s
        |UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |  round((p12/n - s1/n*s2/n)/sqrt((p11/n - s1/n*s1/n)*(p22/n - s2/n*s2/n)), 6) FROM s
        |UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |  round((p13/n - s1/n*s3/n)/sqrt((p11/n - s1/n*s1/n)*(p33/n - s3/n*s3/n)), 6) FROM s
        |UNION ALL SELECT 'l_discount', 'l_tax',
        |  round((p23/n - s2/n*s3/n)/sqrt((p22/n - s2/n*s2/n)*(p33/n - s3/n*s3/n)), 6) FROM s""".stripMargin,

    "q21_cv_ols" ->
      """WITH f AS (
        |  SELECT l_orderkey % 3 AS fold, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem
        |), s AS (
        |  SELECT fold, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(x*x) AS sxx, sum(y) AS sy, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM f GROUP BY fold
        |), t AS (
        |  SELECT sum(n) AS n, sum(sx) AS sx, sum(sxx) AS sxx, sum(sy) AS sy,
        |    sum(syy) AS syy, sum(sxy) AS sxy FROM s
        |), tr AS (
        |  SELECT s.fold, t.n - s.n AS n, t.sx - s.sx AS sx, t.sxx - s.sxx AS sxx,
        |    t.sy - s.sy AS sy, t.syy - s.syy AS syy, t.sxy - s.sxy AS sxy
        |  FROM s, t
        |), beta AS (
        |  SELECT fold,
        |    (n*sxy - sx*sy)/(n*sxx - sx*sx) AS b1,
        |    (sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n AS b0
        |  FROM tr
        |)
        |SELECT s.fold,
        |  round(1 - (s.syy - 2*b.b1*s.sxy - 2*b.b0*s.sy + b.b1*b.b1*s.sxx
        |             + 2*b.b0*b.b1*s.sx + s.n*b.b0*b.b0)
        |          / (s.syy - s.sy*s.sy/s.n), 6) AS r2
        |FROM s JOIN beta b USING (fold)""".stripMargin,

    "q22_symbolic_eval" ->
      """SELECT l_orderkey, l_linenumber,
        |  round((l_quantity + l_discount) * (l_extendedprice - l_tax), 6) AS feat
        |FROM lineitem""".stripMargin,

    "q23_group_ops" ->
      """SELECT vec_id,
        |  round(list_reduce(list_prepend(0.0, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE))), (a, x) -> a + x), 4) AS madd,
        |  round(list_reduce(list_prepend(0.0, list_transform(embedding[1:8],
        |    x -> CAST(x AS DOUBLE))), (a, x) -> a + x), 6) AS madd8,
        |  round(sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE))), (a, x) -> a + x*x)), 6) AS l2,
        |  round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS gmax,
        |  round(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS gmin
        |FROM embeddings""".stripMargin,

    "q24_symbolic_search" ->
      // The GP search itself is driver-side (seeded RNG, deterministic); its
      // INPUT is SF-independent (LCG grid, q24Frame) and single-partition,
      // so the winning expression `(x1 + (x1 + x1))` and its closed-form
      // A·f+B fit are frozen by the seed. The oracle re-derives A and B from
      // the same sufficient sums with the same IEEE op tree (q43 pattern) —
      // any change to the search's outcome changes every output row.
      """WITH d AS (
        |  SELECT i AS id,
        |    CAST((i*1103515245 + 12345) % 1048576 AS DOUBLE)/1048576.0 AS x0,
        |    CAST((i*69069 + 1) % 1048576 AS DOUBLE)/1048576.0 AS x1
        |  FROM range(2000) t(i)
        |), f AS (
        |  SELECT id, x0*x0 + 5.0*x1 AS y, (x1 + (x1 + x1)) AS f FROM d
        |), s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(f) AS sf, sum(f*f) AS sff,
        |    sum(y) AS sy, sum(f*y) AS sfy
        |  FROM f
        |), p AS (
        |  SELECT CASE WHEN abs(n*sff - sf*sf) < 1e-300 THEN 0.0
        |              ELSE (n*sfy - sf*sy)/(n*sff - sf*sf) END AS a,
        |         CASE WHEN abs(n*sff - sf*sf) < 1e-300 THEN sy/n
        |              ELSE (sy - (n*sfy - sf*sy)/(n*sff - sf*sf)*sf)/n END AS b
        |  FROM s
        |)
        |SELECT id, y, round(f*a + b, 6) AS pred FROM f, p""".stripMargin,

    "q43_score_batch" -> {
      // mirrors Scoring.scoreChunk exactly: ok-mask (null/NaN/Inf → row
      // dropped), n<total or n<2 → worst (-1), closed-form A·f+B OLS, r2
      def block(name: String, fExpr: String) =
        s"""SELECT '$name' AS cand,
           |  round(CASE WHEN n < total OR n < 2 THEN -1.0
           |    WHEN sst <= 0 THEN -1.0
           |    WHEN isnan(r2v) THEN -1.0
           |    ELSE r2v END, 6) AS r2,
           |  CAST(n AS BIGINT) AS n_ok
           |FROM (
           |  SELECT n, total, sst,
           |    1.0 - (syy - 2*a*sfy - 2*b*sy + a*a*sff + 2*a*b*sf + n*b*b) / sst AS r2v
           |  FROM (
           |    SELECT n, total, sf, sff, sy, syy, sfy,
           |      syy - sy*sy/n AS sst,
           |      CASE WHEN abs(n*sff - sf*sf) < 1e-300 THEN 0.0
           |           ELSE (n*sfy - sf*sy)/(n*sff - sf*sf) END AS a,
           |      CASE WHEN abs(n*sff - sf*sf) < 1e-300 THEN sy/n
           |           ELSE (sy - (n*sfy - sf*sy)/(n*sff - sf*sf)*sf)/n END AS b
           |    FROM (
           |      SELECT CAST(count(f) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS total,
           |        sum(f) AS sf, sum(f*f) AS sff,
           |        sum(CASE WHEN f IS NOT NULL THEN y END) AS sy,
           |        sum(CASE WHEN f IS NOT NULL THEN y*y END) AS syy,
           |        sum(f*y) AS sfy
           |      FROM (SELECT $fExpr AS f, l_extendedprice AS y FROM lineitem)
           |    )
           |  )
           |)""".stripMargin
      Seq(
        block("cadd", "l_quantity + l_tax"),
        block("cmul", "l_quantity * l_discount"),
        block("cdiv",
          "CASE WHEN l_discount = 0 THEN NULL ELSE l_quantity / l_discount END"),
        block("csq", "l_quantity * l_quantity")
      ).mkString("\n", "\nUNION ALL\n", "")
    },

    "q44_dedup_clusters" -> {
      val cos = OracleSqlGen.cosine("a.v", "b.v")
      s"""WITH RECURSIVE e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, ${OracleSqlGen.signBucket("v", 4)} AS bkey FROM e),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bkt a JOIN bkt b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
         |  WHERE $cos >= 0.3
         |),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e2.a AS id, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id
         |)
         |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin
    },

    "q45_mic" -> {
      val micCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val rangeSel = micCols.zipWithIndex.map { case (c, i) =>
        s"min($c) AS lo_$i, max($c) AS hi_$i"
      }.mkString(", ")
      def bucket(c: String, i: Int) =
        s"CAST(CASE WHEN hi_$i <= lo_$i THEN 0.0 " +
          s"ELSE least(floor(($c - lo_$i) / (hi_$i - lo_$i) * 4), 3.0) END AS INT)"
      val bucketSel = micCols.zipWithIndex.map { case (c, i) =>
        s"${bucket(c, i)} AS b_$i"
      }.mkString(", ")
      def pairBlock(i: Int, j: Int) =
        s"""SELECT '${micCols(i)}' AS xi, '${micCols(j)}' AS xj,
           |  round(sum(term) / ln(4.0), 6) AS mic
           |FROM (
           |  SELECT (CAST(c AS DOUBLE)/nn) *
           |    ln(CAST(c AS DOUBLE)*nn/(CAST(r AS DOUBLE)*CAST(s AS DOUBLE))) AS term
           |  FROM (
           |    SELECT c,
           |      sum(c) OVER (PARTITION BY bi) AS r,
           |      sum(c) OVER (PARTITION BY bj) AS s
           |    FROM (SELECT b_$i AS bi, b_$j AS bj, count(*) AS c
           |          FROM bkt GROUP BY 1, 2)
           |  ), nt
           |)""".stripMargin
      val blocks = (for {
        i <- micCols.indices; j <- micCols.indices if i < j
      } yield pairBlock(i, j)).mkString("\nUNION ALL\n")
      s"""WITH rng AS (SELECT $rangeSel FROM lineitem),
         |bkt AS (SELECT $bucketSel FROM lineitem, rng),
         |nt AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM lineitem)
         |$blocks""".stripMargin
    },

    "q46_lsh_multiprobe" -> {
      val cos = OracleSqlGen.cosine("q.v", "c.v")
      val probeKeys = ("bkey" +: (0 until 6).map(p => s"xor(bkey, ${1L << p})"))
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, ${OracleSqlGen.signBucket("v", 6)} AS bkey FROM e),
         |qk AS (SELECT vec_id, v, unnest($probeKeys) AS bkey
         |       FROM bkt WHERE vec_id < 20),
         |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, round($cos, 6) AS cos
         |      FROM qk q JOIN bkt c ON q.bkey = c.bkey
         |      WHERE q.vec_id <> c.vec_id)
         |SELECT qid, cid, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank FROM p)
         |WHERE rank <= 3""".stripMargin
    },

    "q50_simhash_pairs" -> {
      val th = s"list_transform(${OracleSqlGen.toks("text")}, tk -> ${OracleSqlGen.poly("tk")})"
      val parts = OracleSqlGen.simhashPartExprs("th", 2)
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |sib AS (
         |  SELECT doc_id + 1000000000 AS doc_id,
         |    array_to_string(list_reverse(${OracleSqlGen.toks("text")}), ' ') AS text
         |  FROM base WHERE doc_id % 10 = 0
         |), alld AS (
         |  SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM sib
         |), t AS (SELECT doc_id, $th AS th FROM alld),
         |sg AS (SELECT doc_id, ${parts(0)} AS p0, ${parts(1)} AS p1 FROM t),
         |banded AS (
         |  SELECT doc_id, p0, p1, unnest([
         |    '0:' || CAST(p0 % 65536 AS VARCHAR),
         |    '1:' || CAST(p0 // 65536 AS VARCHAR),
         |    '2:' || CAST(p1 % 65536 AS VARCHAR),
         |    '3:' || CAST(p1 // 65536 AS VARCHAR)]) AS bkey
         |  FROM sg
         |), capped AS (
         |  SELECT * FROM banded QUALIFY count(*) OVER (PARTITION BY bkey) <= 256
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.p0, b.p0)) + bit_count(xor(a.p1, b.p1)) AS BIGINT)
         |      AS hamming
         |  FROM capped a JOIN capped b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin
    },

    "q53_weighted_quantile" -> {
      // same virtual-index interpolation as WeightedStats.weightedQuantile:
      // h = q·(W−1) over the (v,w)-sorted weighted CDF; vlo/vhi = first v
      // whose cumulative weight exceeds floor(h)/ceil(h). v ascends with
      // cum, so min(v | cum > h) is that first value.
      def one(q: String, nm: String) =
        s"""round(min(CASE WHEN cum > floor($q*(tw-1.0)) THEN v END)
           |  + ($q*(tw-1.0) - floor($q*(tw-1.0)))
           |    * (min(CASE WHEN cum > ceil($q*(tw-1.0)) THEN v END)
           |       - min(CASE WHEN cum > floor($q*(tw-1.0)) THEN v END)), 6)
           |  AS $nm""".stripMargin
      s"""WITH s AS (
         |  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
         |    CAST(l_quantity AS DOUBLE) AS w
         |  FROM lineitem
         |), c AS (
         |  SELECT l_returnflag, v, w,
         |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v, w
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM s
         |), t AS (
         |  SELECT *, max(cum) OVER (PARTITION BY l_returnflag) AS tw FROM c
         |)
         |SELECT l_returnflag,
         |  ${one("0.5", "wq50")},
         |  ${one("0.25", "wq25")}
         |FROM t GROUP BY l_returnflag, tw""".stripMargin
    },

    "q52_ivf_topk" -> {
      // mirrors Ann.ivfTrain(iterations=0) + ivfTopK exactly: centroids =
      // the 8 corpus vectors with the smallest LCG draw (exact integers);
      // corpus rows assign to argmax-cosine centroid (tie → smaller list
      // id, Spark's greatest(struct(s, -i))); queries probe their top-2
      // centroids (tie → LARGER list id, Spark's reverse(array_sort));
      // exact rerank inside the probed lists
      val cosEC = OracleSqlGen.cosine("e.v", "c.v")
      val cosQC = OracleSqlGen.cosine("q.v", "c.v")
      val draw = "((vec_id % 2147483647) * 1103515245 + 12345) % 2147483648"
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |ctr AS (
         |  SELECT row_number() OVER (ORDER BY $draw, vec_id) - 1 AS li, v
         |  FROM e QUALIFY li <= 7
         |),
         |assign AS (
         |  SELECT cid, li, v FROM (
         |    SELECT e.vec_id AS cid, c.li, e.v,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY $cosEC DESC, c.li ASC) AS rn
         |    FROM e, ctr c) WHERE rn = 1
         |),
         |probes AS (
         |  SELECT qid, li, v FROM (
         |    SELECT q.vec_id AS qid, c.li, q.v,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $cosQC DESC, c.li DESC) AS rn
         |    FROM e q, ctr c WHERE q.vec_id < 20) WHERE rn <= 2
         |),
         |p AS (
         |  SELECT q.qid, x.cid, round(${OracleSqlGen.cosine("q.v", "x.v")}, 6) AS cos
         |  FROM probes q JOIN assign x ON q.li = x.li
         |  WHERE q.qid <> x.cid
         |)
         |SELECT qid, cid, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank FROM p)
         |WHERE rank <= 3""".stripMargin
    },

    "q51_contamination" -> {
      val sh = OracleSqlGen.shingleHashes("text", 3)
      val h = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':bench')")
      s"""WITH s AS (SELECT doc_id, lang, $sh AS sh FROM documents),
         |bench AS (
         |  SELECT doc_id FROM documents
         |  WHERE $h % 1000 < round(
         |    (CASE WHEN lang = 'en' THEN 0.2 ELSE 0.1 END) * 1000.0)
         |), b AS (SELECT s.* FROM s JOIN bench USING (doc_id))
         |SELECT a.doc_id AS train_id, b2.doc_id AS bench_id,
         |  round(${OracleSqlGen.jaccard("a.sh", "b2.sh")}, 6) AS jaccard
         |FROM s a JOIN b b2 ON a.lang = b2.lang
         |WHERE ${OracleSqlGen.jaccard("a.sh", "b2.sh")} >= 0.8""".stripMargin
    },

    "q47_dedup_docs" -> {
      val sh = OracleSqlGen.shingleHashes("text", 3)
      s"""WITH RECURSIVE s AS (SELECT doc_id, lang, $sh AS sh FROM documents),
         |near AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  WHERE ${OracleSqlGen.jaccard("a.sh", "b.sh")} >= 0.7
         |), ex AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |  FROM documents
         |), allp AS (
         |  SELECT * FROM near
         |  UNION
         |  SELECT keeper AS id_a, doc_id AS id_b FROM ex WHERE doc_id <> keeper
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM allp
         |  UNION SELECT id_b, id_a FROM allp
         |), reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e2.a AS id, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id
         |), cl AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> c)""".stripMargin
    },

    "q48_stratified_sample" -> {
      val h = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':s1')")
      s"""SELECT doc_id, lang FROM documents
         |WHERE $h % 1000 < round(
         |  (CASE WHEN lang = 'zh' THEN 0.3
         |        WHEN lang = 'en' THEN 0.5
         |        WHEN lang = 'de' THEN 0.25
         |        ELSE 0.1 END) * 1000.0)""".stripMargin
    },

    "q49_frame_offsets" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |    (CASE WHEN octet_length(encode(text)) = 0 THEN [CAST(0 AS BIGINT)]
        |          ELSE range(0, octet_length(encode(text)), 7) END)[1:5] AS offs
        |  FROM documents
        |)
        |SELECT asset_id, CAST(len(offs) AS BIGINT) AS n_frames,
        |  offs[1] AS first_off, offs[-1] AS last_off
        |FROM a""".stripMargin,

    "q26_exact_dedup" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q27_ngram_jaccard" -> {
      val sh = OracleSqlGen.shingleHashes("text", 3)
      s"""WITH s AS (SELECT doc_id, lang, $sh AS sh FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(${OracleSqlGen.jaccard("a.sh", "b.sh")}, 6) AS jaccard
         |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE ${OracleSqlGen.jaccard("a.sh", "b.sh")} >= 0.7""".stripMargin
    },

    "q28_simhash" -> {
      val th = s"list_transform(${OracleSqlGen.toks("text")}, tk -> ${OracleSqlGen.poly("tk")})"
      val parts = OracleSqlGen.simhashPartExprs("th", 2)
      s"""WITH t AS (SELECT doc_id, $th AS th FROM documents)
         |SELECT doc_id, ${parts(0)} AS sig_lo, ${parts(1)} AS sig_hi
         |FROM t""".stripMargin
    },

    "q29_minhash_pairs" -> {
      val sh = OracleSqlGen.shingleHashes("text", 3)
      val slots = (0 until 8).map(i => s"${OracleSqlGen.minhashSlot("sh", i)} AS s$i")
      val bkeys = (0 until 4).map(b =>
        OracleSqlGen.bandKey(Seq(s"s${2 * b}", s"s${2 * b + 1}"), b))
      s"""WITH sh0 AS (SELECT doc_id, $sh AS sh FROM documents),
         |sh1 AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
         |sig AS (SELECT doc_id, sh, ${slots.mkString(", ")} FROM sh1),
         |bk AS (SELECT doc_id, sh, unnest([${bkeys.mkString(", ")}]) AS bkey FROM sig),
         |capped AS (SELECT * FROM bk QUALIFY count(*) OVER (PARTITION BY bkey) <= 64),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${OracleSqlGen.jaccard("a.sh", "b.sh")} AS jaccard
         |  FROM capped a JOIN capped b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         |FROM pairs WHERE jaccard >= 0.7""".stripMargin
    },

    "q30_brute_topk" -> {
      val cos = OracleSqlGen.cosine("q.v", "c.v")
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, round($cos, 6) AS cos
         |      FROM e q, e c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |SELECT qid, cid, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank FROM p)
         |WHERE rank <= 3""".stripMargin
    },

    "q31_langid" -> {
      val packs = graft.text.TextQuality.stopwords.keys.toSeq.sorted.map { l =>
        val r = OracleSqlGen.stopwordRatio("text", graft.text.TextQuality.stopwords(l))
        s"struct_pack(s := $r, l := '$l')"
      }
      s"""WITH g AS (SELECT doc_id,
         |  list_sort([${packs.mkString(", ")}])[${packs.size}] AS b FROM documents)
         |SELECT doc_id,
         |  CASE WHEN b.s <= 0.0 THEN 'und' ELSE b.l END AS lang_pred FROM g""".stripMargin
    },

    "q32_quality" -> {
      val t = OracleSqlGen.toks("text")
      val n = s"CAST(greatest(len($t), 1) AS DOUBLE)"
      val sumLen = s"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform($t, x -> CAST(len(x) AS BIGINT))), (a, x) -> a + x) AS DOUBLE)"
      val sw = OracleSqlGen.stopwordRatio("text",
        graft.text.TextQuality.stopwords("en"))
      val alpha = s"(CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / " +
        s"CAST(greatest(len(text), 1) AS DOUBLE))"
      val rep = s"(1.0 - CAST(len(list_distinct($t)) AS DOUBLE) / $n)"
      val subw = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform($t, x -> CAST(ceil(CAST(len(x) AS DOUBLE) / 4.0) AS BIGINT))), (a, x) -> a + x)"
      val score = s"round(least(CAST(len($t) AS DOUBLE) / 100.0, 1.0) * 0.4 + " +
        s"least($sw * 4.0, 1.0) * 0.3 + greatest(1.0 - $rep * 2.0, 0.0) * 0.3, 6)"
      s"""SELECT doc_id,
         |  CAST(len(text) AS BIGINT) AS q_chars,
         |  CAST(len($t) AS BIGINT) AS q_tokens,
         |  round($sumLen / $n, 6) AS q_mean_tok_len,
         |  round($sw, 6) AS q_stopword_ratio,
         |  round($alpha, 6) AS q_alpha_ratio,
         |  round($rep, 6) AS q_repetition,
         |  $score AS q_score,
         |  $subw AS q_subwords
         |FROM documents""".stripMargin
    },

    "q33_fingerprint" -> {
      val th = s"list_sort(list_distinct(list_transform(${OracleSqlGen.toks("text")}, tk -> ${OracleSqlGen.poly("tk")})))"
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), $th),
         |    (a, h) -> (a*131 + h) % ${OracleSqlGen.M}) AS fp
         |FROM documents""".stripMargin
    },

    "q34_embed_neardup" -> {
      val cos = OracleSqlGen.cosine("a.v", "b.v")
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, ${OracleSqlGen.signBucket("v", 4)} AS bkey FROM e),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, $cos AS cosine
         |  FROM bkt a JOIN bkt b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, round(cosine, 6) AS cosine
         |FROM pairs WHERE cosine >= 0.3""".stripMargin
    },

    "q42_asof_skewcapped" ->
      """WITH snaps AS (
        |  SELECT user_id, ts AS snap_ts,
        |    max_by(value, event_id) AS snap_value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts
        |)
        |SELECT e.event_id, e.user_id, e.ts, s.snap_value
        |FROM events e
        |ASOF LEFT JOIN snaps s
        |  ON e.user_id = s.user_id AND e.ts >= s.snap_ts""".stripMargin,

    "q36_avg_dev" ->
      """WITH m AS (
        |  SELECT l_returnflag, l_quantity AS w, l_extendedprice AS x,
        |    sum(l_quantity*l_extendedprice) OVER (PARTITION BY l_returnflag)
        |      / sum(l_quantity) OVER (PARTITION BY l_returnflag) AS mu
        |  FROM lineitem
        |)
        |SELECT l_returnflag, round(sum(w*abs(x - mu))/sum(w), 6) AS avg_dev
        |FROM m GROUP BY l_returnflag""".stripMargin,

    "q37_geom_std" ->
      """WITH ps AS (
        |  SELECT l_linestatus,
        |    sum(l_quantity) AS sw, sum(l_quantity*l_quantity) AS sww,
        |    sum(l_quantity*ln(l_extendedprice)) AS sl,
        |    sum(l_quantity*ln(l_extendedprice)*ln(l_extendedprice)) AS sll
        |  FROM lineitem GROUP BY 1
        |), st AS (SELECT *, sl/sw AS lx FROM ps)
        |SELECT l_linestatus,
        |  round(sqrt(exp((sw/(sw*sw - sww)) * (sll - 2*lx*sl + lx*lx*sw))), 6) AS geom_std
        |FROM st""".stripMargin,

    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q39_setops" ->
      """SELECT user_id, 'both' AS tag FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'click_only' AS tag FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')""".stripMargin,

    "q40_lsh_topk" -> {
      val cos = OracleSqlGen.cosine("q.v", "c.v")
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, ${OracleSqlGen.signBucket("v", 6)} AS bkey FROM e),
         |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, round($cos, 6) AS cos
         |      FROM bkt q JOIN bkt c ON q.bkey = c.bkey
         |      WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |SELECT qid, cid, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank FROM p)
         |WHERE rank <= 3""".stripMargin
    },

    "q25_ego_rank" ->
      """WITH bi AS (SELECT unnest(range(8)) AS b),
        |src AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y,
        |    l_orderkey * 8 + l_linenumber AS rk
        |  FROM lineitem
        |), w AS (
        |  SELECT b, x, y,
        |    CASE WHEN u < 0.368 THEN 0 WHEN u < 0.736 THEN 1 ELSE 2 END AS w
        |  FROM (SELECT b, x, y,
        |          CAST(((rk % 2147483647) * 1103515245 + 40503 * b + 12345)
        |            % 2147483648 AS DOUBLE) / 2147483648.0 AS u
        |        FROM src, bi)
        |), s AS (
        |  SELECT b,
        |    CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS sw,
        |    CAST(CAST(sum(w*x) AS BIGINT) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(w*x*x) AS BIGINT) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(w*y) AS BIGINT) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(w*x*y) AS BIGINT) AS DOUBLE) AS sxy
        |  FROM w GROUP BY b
        |), beta AS (
        |  SELECT b,
        |    ((sw + 1e-8) * sxy - sx * sy)
        |      / ((sxx + 1e-8) * (sw + 1e-8) - sx * sx) AS b1,
        |    ((sxx + 1e-8) * sy - sx * sxy)
        |      / ((sxx + 1e-8) * (sw + 1e-8) - sx * sx) AS b0
        |  FROM s
        |), space AS (SELECT CAST(unnest(range(1, 61)) AS DOUBLE) AS x),
        |preds AS (
        |  SELECT x, list(x * b1 + b0 ORDER BY b) AS ps
        |  FROM space, beta GROUP BY x
        |), scored AS (
        |  SELECT x,
        |    list_reduce(list_prepend(0.0, ps), (a, p) -> a + p) / 8.0 AS mn,
        |    list_reduce(list_prepend(0.0, list_transform(ps,
        |      p -> CASE WHEN p > 6000000.0 THEN 1.0 ELSE 0.0 END)),
        |      (a, q) -> a + q) / 8.0 AS pi
        |  FROM preds
        |)
        |SELECT x, round(greatest(mn - 6000000.0, 0.0) * pi / 100.0, 2) AS ei
        |FROM scored
        |ORDER BY greatest(mn - 6000000.0, 0.0) * pi DESC, x ASC
        |LIMIT 10""".stripMargin,

    "q54_ego_acq" -> {
      // bigPhi/phi/EI spelled with the SAME A&S erf polynomial and op order
      // as Ego.egoSearch + MathX.erf; betas bit-identical via the q25 CTEs
      val eiE = s"((sd*ze)*${OracleSqlGen.normCdf("ze")}" +
        s" + sd*${OracleSqlGen.normPdf("ze")})"
      val eiK = s"((sd*zk)*${OracleSqlGen.normCdf("zk")}" +
        s" + sd*${OracleSqlGen.normPdf("zk")})"
      s"""WITH bi AS (SELECT unnest(range(8)) AS b),
         |src AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x,
         |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y,
         |    l_orderkey * 8 + l_linenumber AS rk
         |  FROM lineitem
         |), w AS (
         |  SELECT b, x, y,
         |    CASE WHEN u < 0.368 THEN 0 WHEN u < 0.736 THEN 1 ELSE 2 END AS w
         |  FROM (SELECT b, x, y,
         |          CAST(((rk % 2147483647) * 1103515245 + 40503 * b + 12345)
         |            % 2147483648 AS DOUBLE) / 2147483648.0 AS u
         |        FROM src, bi)
         |), s AS (
         |  SELECT b,
         |    CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS sw,
         |    CAST(CAST(sum(w*x) AS BIGINT) AS DOUBLE) AS sx,
         |    CAST(CAST(sum(w*x*x) AS BIGINT) AS DOUBLE) AS sxx,
         |    CAST(CAST(sum(w*y) AS BIGINT) AS DOUBLE) AS sy,
         |    CAST(CAST(sum(w*x*y) AS BIGINT) AS DOUBLE) AS sxy
         |  FROM w GROUP BY b
         |), beta AS (
         |  SELECT b,
         |    ((sw + 1e-8) * sxy - sx * sy)
         |      / ((sxx + 1e-8) * (sw + 1e-8) - sx * sx) AS b1,
         |    ((sxx + 1e-8) * sy - sx * sxy)
         |      / ((sxx + 1e-8) * (sw + 1e-8) - sx * sx) AS b0
         |  FROM s
         |), space AS (SELECT CAST(unnest(range(1, 61)) AS DOUBLE) AS x),
         |preds AS (
         |  SELECT x, list(x * b1 + b0 ORDER BY b) AS ps
         |  FROM space, beta GROUP BY x
         |), m AS (
         |  SELECT x,
         |    list_reduce(list_prepend(0.0, ps), (a, p) -> a + p) / 8.0 AS mn,
         |    list_reduce(list_prepend(0.0, list_transform(ps, p -> p*p)),
         |      (a, q) -> a + q) / 8.0 AS m2
         |  FROM preds
         |), sc AS (
         |  SELECT x, mn, sqrt(greatest(m2 - mn*mn, 0.0)) AS sd,
         |    (SELECT max(mn) FROM m) AS mmax
         |  FROM m
         |), z AS (
         |  SELECT x, mn, sd,
         |    (mn - 5290000.0) / sd AS ze,
         |    (mn - greatest(mmax, 5290000.0)) / sd AS zk
         |  FROM sc
         |)
         |SELECT x,
         |  round(mn / 100.0, 4) AS mean_usd,
         |  round(sd / 100.0, 4) AS std_usd,
         |  round($eiE / 100.0, 4) AS ei_ego,
         |  round($eiK / 100.0, 4) AS ei_kg
         |FROM z
         |ORDER BY x ASC""".stripMargin
    },

    "q55_seq_packing" -> {
      val idStr = "CAST(doc_id AS VARCHAR)"
      val ntok = s"CAST(len(${OracleSqlGen.toks("text")}) AS BIGINT)"
      s"""WITH d AS (
         |  SELECT doc_id, $ntok AS ntok,
         |    ${OracleSqlGen.poly(idStr)} % 8 AS bucket,
         |    ${OracleSqlGen.poly(s"($idStr || ':shuf:42')")} AS ord
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, ntok, bucket,
         |    CAST(sum(ntok) OVER (PARTITION BY bucket ORDER BY ord, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM d
         |)
         |SELECT doc_id, bucket,
         |  CAST(floor((cum - ntok) / 256.0) AS BIGINT) AS seq_id,
         |  (cum - ntok) - CAST(floor((cum - ntok) / 256.0) AS BIGINT) * 256 AS seq_off,
         |  floor((cum - 1) / 256.0) > floor((cum - ntok) / 256.0) AS crosses
         |FROM c
         |ORDER BY doc_id""".stripMargin
    },

    "q56_token_mixing" -> {
      // rate arithmetic in forced-DOUBLE ops mirrors the driver-side Scala
      // `min(1.0, budget*w / t)` exactly; keep-decision = q48's quantized
      // hash rule
      val ntok = s"CAST(len(${OracleSqlGen.toks("text")}) AS BIGINT)"
      val h = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':mix1')")
      s"""WITH tk AS (
         |  SELECT doc_id, lang, $ntok AS ntok FROM documents
         |), tot AS (
         |  SELECT lang, CAST(sum(ntok) AS BIGINT) AS t FROM tk GROUP BY lang
         |), r AS (
         |  SELECT lang,
         |    CASE WHEN t <= 0 THEN 0.0
         |         ELSE least(1.0, (CAST(20000 AS DOUBLE) *
         |           CASE lang WHEN 'en' THEN CAST(0.6 AS DOUBLE)
         |                     WHEN 'zh' THEN CAST(0.3 AS DOUBLE)
         |                     WHEN 'de' THEN CAST(0.1 AS DOUBLE)
         |                     ELSE CAST(0.0 AS DOUBLE) END) / CAST(t AS DOUBLE))
         |    END AS rate
         |  FROM tot
         |)
         |SELECT tk.doc_id, tk.lang
         |FROM tk JOIN r USING (lang)
         |WHERE $h % 1000 < round(rate * 1000.0)""".stripMargin
    },

    "q57_pii_redaction" -> {
      import graft.text.Redact
      // same injection, same patterns (Java-regex/RE2-common syntax), same
      // replacement ORDER; DuckDB regexp_replace needs the 'g' flag to
      // match Spark's replace-all default
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |              '@example.com ip 10.0.0.1 acct 12345678901'
         |         ELSE text END AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Redact.emailRe}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '${Redact.ipv4Re}')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(t, '${Redact.digitRunRe}')) AS BIGINT) AS n_num,
         |  regexp_replace(regexp_replace(regexp_replace(
         |    t, '${Redact.emailRe}', '<EMAIL>', 'g'),
         |    '${Redact.ipv4Re}', '<IP>', 'g'),
         |    '${Redact.digitRunRe}', '<NUM>', 'g') AS clean
         |FROM d""".stripMargin
    },

    "q58_repetition" -> {
      // tk is hoisted into a CTE: referenced inside list_transform lambdas
      // it would re-run the regexp split per n-gram (the same per-element
      // re-evaluation pathology the Spark side was rebuilt to avoid)
      def dup(n: Int): String = {
        val cnt = s"(len(tk) - ${n - 1})"
        val grams = s"list_transform(range(1, greatest($cnt, 1) + 1), " +
          s"i -> array_to_string(tk[i:i+${n - 1}], chr(1)))"
        s"CASE WHEN $cnt <= 0 THEN 0.0 ELSE round(1.0 - " +
          s"CAST(len(list_distinct($grams)) AS DOUBLE) / CAST($cnt AS DOUBLE), 6) END"
      }
      s"""WITH p AS (
         |  SELECT doc_id, ${OracleSqlGen.toks("lower(text)")} AS tk FROM documents
         |)
         |SELECT doc_id, ${dup(2)} AS dup2, ${dup(5)} AS dup5
         |FROM p""".stripMargin
    },

    "q59_bm25" -> {
      // EXACT op-order mirror of Retrieval.bm25: idf = ln((N-df+0.5)/(df+
      // 0.5)+1), avgdl = tot/N, term = (idf*(tf*(1.2+1.0))) / (tf + 1.2*
      // (0.25 + (0.75*dl)/avgdl)); constants spelled as the same double
      // ops ((1.2+1.0), not 2.2 — the two parse to different doubles)
      val terms = Seq("window", "join", "merge")
      val tkExpr = OracleSqlGen.toks("lower(text)")
      val dfCols = terms.indices.map(i =>
        s"CAST(sum(CASE WHEN list_contains(tk, '${terms(i)}') THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(",\n    ")
      def term(i: Int): String = {
        val tf = s"CAST(len(list_filter(tk, x -> x = '${terms(i)}')) AS DOUBLE)"
        val idf = s"ln((CAST(n - df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5) + 1.0)"
        s"(($idf * ($tf * (1.2 + 1.0))) / ($tf + 1.2 * (0.25 + (0.75 * CAST(len(tk) AS DOUBLE)) / avgdl)))"
      }
      s"""WITH p AS (
         |  SELECT doc_id, $tkExpr AS tk FROM documents
         |), s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len(tk)) AS BIGINT) AS tot,
         |    $dfCols
         |  FROM p
         |), a AS (
         |  SELECT *, CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl FROM s
         |)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  round(${term(0)} + ${term(1)} + ${term(2)}, 6) AS bm25
         |FROM p, a""".stripMargin
    },

    "q63_bm25_batch" -> {
      // same op-order mirror as q59, generalized: df stats over the UNION
      // of all query terms, one score expression per query
      val queryDefs = Seq(
        "bm25_q1" -> Seq("window", "join", "merge"),
        "bm25_q2" -> Seq("data", "the"),
        "bm25_q3" -> Seq("stream", "shuffle", "partition", "sort"))
      val allTerms = queryDefs.flatMap(_._2).distinct
      val termIdx = allTerms.zipWithIndex.toMap
      val tkExpr = OracleSqlGen.toks("lower(text)")
      val dfCols = allTerms.indices.map(i =>
        s"CAST(sum(CASE WHEN list_contains(tk, '${allTerms(i)}') THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(",\n    ")
      def term(w: String): String = {
        val i = termIdx(w)
        val tf = s"CAST(len(list_filter(tk, x -> x = '$w')) AS DOUBLE)"
        val idf = s"ln((CAST(n - df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5) + 1.0)"
        s"(($idf * ($tf * (1.2 + 1.0))) / ($tf + 1.2 * (0.25 + (0.75 * CAST(len(tk) AS DOUBLE)) / avgdl)))"
      }
      val scoreCols = queryDefs.map { case (nm, q) =>
        s"round(${q.map(term).mkString(" + ")}, 6) AS $nm"
      }.mkString(",\n  ")
      s"""WITH p AS (
         |  SELECT doc_id, $tkExpr AS tk FROM documents
         |), s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len(tk)) AS BIGINT) AS tot,
         |    $dfCols
         |  FROM p
         |), a AS (
         |  SELECT *, CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl FROM s
         |)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  $scoreCols
         |FROM p, a""".stripMargin
    },

    "q64_bmp_decode" -> {
      // the generative-formula twin of the BMP round trip: pixel byte k of
      // the 8×8 BGR stream is text-byte (k mod n) (0 for empty text);
      // channel c mean = (Σ over k ≡ c mod 3) / 64 — matches the decoder's
      // exact integer sums over the parsed pixel rows (row order cancels
      // in the sums, so bottom-up storage needs no mirroring here)
      val bytes = OracleSqlGen.utf8Bytes("text")
      def ch(c: Int): String =
        s"round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(list_filter(range(0, 192), k -> k % 3 = $c), " +
          s"k -> CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE b[(k % n) + 1] END)), " +
          s"(a, x) -> a + x) AS DOUBLE) / 64.0, 6)"
      s"""WITH p AS (SELECT doc_id, $bytes AS b FROM documents),
         |q AS (SELECT doc_id, b, len(b) AS n FROM p)
         |SELECT doc_id AS asset_id,
         |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
         |  ${ch(0)} AS mean_b,
         |  ${ch(1)} AS mean_g,
         |  ${ch(2)} AS mean_r
         |FROM q""".stripMargin
    },

    "q65_line_dedup" -> {
      // same deterministic multi-line synthesis (8-token lines + injected
      // header/footer boilerplate), then the C4-style strip of lines in
      // >= 5 distinct docs and position-ordered reassembly
      val tkExpr = OracleSqlGen.toks("text")
      s"""WITH p AS (
         |  SELECT doc_id, tk, CAST(ceil(len(tk)/8.0) AS BIGINT) AS nl
         |  FROM (SELECT doc_id, $tkExpr AS tk FROM documents)
         |), m AS (
         |  SELECT doc_id, list_concat(list_concat(
         |    CASE WHEN doc_id % 3 = 0
         |         THEN ['subscribe to our newsletter for updates']
         |         ELSE [] END,
         |    list_transform(range(0, greatest(nl, 1)),
         |      i -> array_to_string(tk[i*8+1:i*8+8], ' '))),
         |    CASE WHEN doc_id % 4 = 0
         |         THEN ['copyright footer all rights reserved']
         |         ELSE [] END) AS ls
         |  FROM p
         |), l AS (
         |  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
         |      i -> {'pos': i, 'line': ls[i]})) AS u
         |    FROM m)
         |), f AS (
         |  SELECT line FROM (
         |    SELECT line, count(DISTINCT doc_id) AS c FROM l GROUP BY line)
         |  WHERE c >= 5
         |), k AS (
         |  SELECT l.doc_id, l.pos, l.line FROM l
         |  LEFT JOIN f ON l.line = f.line WHERE f.line IS NULL
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    array_to_string(list(line ORDER BY pos), chr(10)) AS clean_text
         |  FROM k GROUP BY doc_id
         |)
         |SELECT m.doc_id, CAST(len(m.ls) AS BIGINT) AS n_lines,
         |  coalesce(agg.n_kept, 0) AS n_kept,
         |  coalesce(agg.clean_text, '') AS clean_text
         |FROM m LEFT JOIN agg ON m.doc_id = agg.doc_id""".stripMargin
    },

    "q66_char_entropy" -> {
      // same sorted-distinct fold: the summation order over characters is
      // pinned by the sort, log2 spelled as ln/ln2 with a shared literal
      val p = "(CAST(len(list_filter(cs, c -> c = ch)) AS DOUBLE) / n)"
      s"""WITH p AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(text) + 1), i -> substr(text, i, 1)) AS cs,
         |    CAST(len(text) AS DOUBLE) AS n
         |  FROM documents
         |), d AS (
         |  SELECT doc_id, cs, n, list_sort(list_distinct(cs)) AS ds FROM p
         |)
         |SELECT doc_id,
         |  CASE WHEN n = 0 THEN 0.0 ELSE
         |    round(list_reduce(list_prepend(0.0,
         |      list_transform(ds, ch -> -($p * ln($p)))),
         |      (a, x) -> a + x) / 0.6931471805599453, 6)
         |  END AS entropy
         |FROM d""".stripMargin
    },

    "q67_semantic_dedup" -> {
      // SemDeDup twin: same LCG-sampled coarse centroids (q52 pattern,
      // nList=32 — exercising the NATIVE NearestCentroids path on the
      // Spark side), argmax-cosine assignment (tie -> smaller li),
      // within-list pairs at round-6 cosine >= 0.999, recursive-CTE
      // transitive closure, min-id keepers
      val cosEC = OracleSqlGen.cosine("e.v", "c.v")
      val cosAB = OracleSqlGen.cosine("a.v", "b.v")
      val draw = "((vec_id % 2147483647) * 1103515245 + 12345) % 2147483648"
      s"""WITH RECURSIVE
         |e0 AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sib AS (SELECT vec_id + 1000000000 AS vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.01) AS v
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM sib),
         |ctr AS (
         |  SELECT row_number() OVER (ORDER BY $draw, vec_id) - 1 AS li, v
         |  FROM e QUALIFY li <= 31
         |),
         |assign AS (
         |  SELECT cid, li, v FROM (
         |    SELECT e.vec_id AS cid, c.li, e.v,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY $cosEC DESC, c.li ASC) AS rn
         |    FROM e, ctr c) WHERE rn = 1
         |),
         |pairs AS (
         |  SELECT a.cid AS pa, b.cid AS pb
         |  FROM assign a JOIN assign b ON a.li = b.li AND a.cid < b.cid
         |  WHERE round($cosAB, 6) >= 0.999
         |), edges AS (
         |  SELECT pa AS a, pb AS b FROM pairs
         |  UNION SELECT pb, pa FROM pairs
         |), reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e2.a AS id, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id
         |), cl AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
         |SELECT vec_id FROM e
         |WHERE vec_id NOT IN (SELECT id FROM cl WHERE id <> c)""".stripMargin
    },

    "q68_curation" -> {
      // every gate re-spelled with the exact metric op order (raw doubles,
      // no rounding — both engines produce the same bits) plus the q61
      // split hash for survivors
      val tkExpr = OracleSqlGen.toks("lower(text)")
      val dup2 = {
        val cnt = "(len(tk) - 1)"
        val grams = s"list_transform(range(1, greatest($cnt, 1) + 1), " +
          s"i -> array_to_string(tk[i:i+1], chr(1)))"
        s"CASE WHEN $cnt <= 0 THEN 0.0 ELSE 1.0 - " +
          s"CAST(len(list_distinct($grams)) AS DOUBLE) / CAST($cnt AS DOUBLE) END"
      }
      val p = "(CAST(len(list_filter(cs, c -> c = ch)) AS DOUBLE) / n)"
      val entropy = s"CASE WHEN n = 0 THEN 0.0 ELSE " +
        s"list_reduce(list_prepend(0.0, list_transform(ds, ch -> -($p * ln($p)))), " +
        s"(a, x) -> a + x) / 0.6931471805599453 END"
      val splitHash = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':split1')")
      s"""WITH m AS (
         |  SELECT doc_id, lang, text, $tkExpr AS tk,
         |    list_transform(range(1, len(text) + 1), i -> substr(text, i, 1)) AS cs,
         |    CAST(len(text) AS DOUBLE) AS n
         |  FROM documents
         |), d AS (
         |  SELECT *, list_sort(list_distinct(cs)) AS ds FROM m
         |), g0 AS (
         |  SELECT doc_id, text,
         |    (len(tk) >= 25 AND len(tk) <= 5000) AS g_len,
         |    ($dup2) < 0.05 AS g_rep,
         |    ($entropy) >= 4.0 AS g_ent,
         |    lang IN ('de', 'en', 'zh') AS g_lang
         |  FROM d
         |), gates AS (
         |  -- keeper elected among content-passing copies (Curation.curate)
         |  SELECT doc_id, g_len, g_rep, g_ent, g_lang,
         |    coalesce(doc_id = min(CASE WHEN g_len AND g_rep AND g_ent
         |        AND g_lang THEN doc_id END)
         |      OVER (PARTITION BY md5(text)), false) AS g_uniq
         |  FROM g0
         |)
         |SELECT doc_id, g_len, g_rep, g_ent, g_lang, g_uniq,
         |  (g_len AND g_rep AND g_ent AND g_lang AND g_uniq) AS keep,
         |  CASE WHEN (g_len AND g_rep AND g_ent AND g_lang AND g_uniq) THEN
         |    CASE WHEN $splitHash % 1000 < 800 THEN 'train'
         |         WHEN $splitHash % 1000 < 900 THEN 'val'
         |         ELSE 'test' END
         |  ELSE NULL END AS split
         |FROM gates""".stripMargin
    },

    "q69_top_ngrams" -> {
      // same U+0001-token exclusion as Retrieval.cleanTokens
      val tkExpr =
        s"list_filter(${OracleSqlGen.toks("lower(text)")}, t -> NOT contains(t, chr(1)))"
      s"""WITH p AS (
         |  SELECT lang AS stratum, $tkExpr AS tk FROM documents
         |), g AS (
         |  SELECT stratum, unnest(list_transform(range(1, len(tk)),
         |    i -> array_to_string(tk[i:i+1], chr(1)))) AS g
         |  FROM p WHERE len(tk) >= 2
         |), c AS (
         |  SELECT stratum, g, CAST(count(*) AS BIGINT) AS n_occurrences
         |  FROM g GROUP BY stratum, g
         |)
         |SELECT stratum, replace(g, chr(1), ' ') AS gram, n_occurrences, rank
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY stratum ORDER BY n_occurrences DESC, g ASC) AS rank
         |  FROM c)
         |WHERE rank <= 10""".stripMargin
    },

    "q70_bigram_lm" -> {
      // same U+0001-token exclusion as Retrieval.cleanTokens
      val tkExpr =
        s"list_filter(${OracleSqlGen.toks("lower(text)")}, t -> NOT contains(t, chr(1)))"
      s"""WITH p AS (
         |  SELECT doc_id, $tkExpr AS tk FROM documents
         |), bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> array_to_string(tk[i:i+1], chr(1)))) AS bg
         |  FROM p WHERE len(tk) >= 2
         |), bc AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bg
         |), un AS (
         |  SELECT unnest(tk) AS tok FROM p
         |), uc AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM un GROUP BY tok
         |), v AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS vocab FROM uc
         |), lp AS (
         |  SELECT doc_id,
         |    CAST(floor(ln(CAST(cb + 1 AS DOUBLE)
         |      / (CAST(cu AS DOUBLE) + vocab)) * 1000000.0 + 0.5) AS BIGINT) AS lpq
         |  FROM bg JOIN bc USING (bg)
         |  JOIN uc ON split_part(bg, chr(1), 1) = uc.tok, v
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |    round(CAST(CAST(sum(lpq) AS BIGINT) AS DOUBLE) / 1000000.0
         |      / CAST(count(*) AS DOUBLE), 6) AS avg_logp2
         |  FROM lp GROUP BY doc_id
         |)
         |SELECT d.doc_id, agg.n_transitions, agg.avg_logp2
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
    },

    "q71_hashed_bow" -> {
      // signed-count per (doc, bucket) via unnest + GROUP BY — order-free
      // exact ±1 sums, then a doc × range(dim) frame fills the zero dims.
      // (The former per-dimension list_reduce oracle was O(dim) expressions
      // — unusable at the production width this query now runs at.)
      val th = s"list_transform(${OracleSqlGen.toks("text")}, tk -> ${OracleSqlGen.poly("tk")})"
      s"""WITH t AS (SELECT doc_id, $th AS th FROM documents),
         |u AS (SELECT doc_id, unnest(th) AS h FROM t),
         |s AS (
         |  SELECT doc_id, h % 256 AS dim,
         |    sum(CASE WHEN (h >> 8) & 1 = 1 THEN CAST(1.0 AS DOUBLE)
         |        ELSE CAST(-1.0 AS DOUBLE) END) AS v
         |  FROM u GROUP BY 1, 2
         |), d AS (
         |  SELECT doc_id, r.dim AS dim
         |  FROM documents CROSS JOIN range(0, 256) r(dim)
         |)
         |SELECT d.doc_id, CAST(d.dim AS INTEGER) AS dim,
         |  coalesce(s.v, CAST(0.0 AS DOUBLE)) AS v
         |FROM d LEFT JOIN s ON s.doc_id = d.doc_id AND s.dim = d.dim""".stripMargin
    },

    "q60_unigram_lm" -> {
      // per-token log-probs quantized to integer micro-units and integer-
      // summed (associative, exact, order-FREE) — the same arithmetic as
      // Retrieval.unigramLogProb; no per-doc position list needed
      val tkExpr = OracleSqlGen.toks("lower(text)")
      s"""WITH p AS (
         |  SELECT doc_id, $tkExpr AS tk FROM documents
         |), tok AS (
         |  SELECT doc_id, unnest(tk) AS tok FROM p
         |), cnt AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok
         |), tv AS (
         |  SELECT CAST(CAST(sum(c) AS BIGINT) + count(*) AS DOUBLE) AS denom
         |  FROM cnt
         |), lp AS (
         |  SELECT doc_id,
         |    CAST(floor(ln(CAST(c + 1 AS DOUBLE) / denom) * 1000000.0 + 0.5)
         |      AS BIGINT) AS lpq
         |  FROM tok JOIN cnt USING (tok), tv
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    round(CAST(CAST(sum(lpq) AS BIGINT) AS DOUBLE) / 1000000.0
         |      / CAST(count(*) AS DOUBLE), 6) AS avg_logp
         |  FROM lp GROUP BY doc_id
         |)
         |SELECT d.doc_id, agg.n_tokens, agg.avg_logp
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
    },

    "q61_split_assign" -> {
      val h = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':split1')")
      s"""SELECT doc_id,
         |  CASE WHEN $h % 1000 < 800 THEN 'train'
         |       WHEN $h % 1000 < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },

    "q62_incremental_dedup" -> incrementalDedupOracleSql(5L),

    "q84_bloom_incremental" -> incrementalDedupOracleSql(7L),

    "q88_temperature_mix" -> {
      // t^α mass quantized to integer micro-units BEFORE normalizing, so
      // the normalizer Z is an order-free integer sum; the rate op
      // sequence ((budget·pwq)/Z)/t mirrors the Scala left-to-right
      val ntok = s"CAST(len(${OracleSqlGen.toks("text")}) AS BIGINT)"
      val h = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':temp1')")
      s"""WITH tk AS (
         |  SELECT doc_id, lang, $ntok AS ntok FROM documents
         |), tot AS (
         |  SELECT lang, CAST(sum(ntok) AS BIGINT) AS t FROM tk GROUP BY lang
         |), pw AS (
         |  SELECT lang, t,
         |    CAST(floor(pow(CAST(t AS DOUBLE), 0.3) * 1000000.0 + 0.5)
         |      AS BIGINT) AS pwq
         |  FROM tot WHERE t > 0
         |), zz AS (
         |  SELECT CAST(sum(pwq) AS BIGINT) AS z FROM pw
         |), r AS (
         |  SELECT lang,
         |    least(1.0, CAST(15000 AS DOUBLE) * CAST(pwq AS DOUBLE)
         |      / CAST(z AS DOUBLE) / CAST(t AS DOUBLE)) AS rate
         |  FROM pw, zz
         |)
         |SELECT tk.doc_id, tk.lang
         |FROM tk JOIN r USING (lang)
         |WHERE $h % 1000 < round(rate * 1000.0)""".stripMargin
    },

    "q89_context_assembly" -> {
      // token sums are non-negative so "suffix j..i fits the budget"
      // (cum_i - cum_j + tok_j <= B) is monotone in j: a plain list_filter
      // keeps exactly the contiguous suffix — same shape as the Spark plan.
      // list_sum of BIGINTs is HUGEINT in DuckDB → CAST (the q05 lesson).
      """WITH t AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value + 0.5) AS BIGINT) AS tok,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS m
        |  FROM events
        |), c AS (
        |  SELECT *, sum(tok) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |), g AS (
        |  SELECT event_id, user_id, cum,
        |    list(struct_pack(cum := cum, tok := tok, id := event_id, m := m))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS ctx
        |  FROM c
        |), k AS (
        |  SELECT event_id, user_id,
        |    list_filter(ctx,
        |      x -> cum - x.cum + x.tok <= 200 OR x.id = event_id) AS kept
        |  FROM g
        |)
        |SELECT event_id, user_id,
        |  CAST(len(kept) AS BIGINT) AS n_ctx,
        |  CAST(list_sum(list_transform(kept, x -> x.tok)) AS BIGINT) AS ctx_tokens,
        |  CAST(list_sum(list_transform(kept, x -> x.m)) AS BIGINT) AS n_mask,
        |  array_to_string(list_transform(kept, x -> CAST(x.id AS VARCHAR)), ',')
        |    AS ctx_ids
        |FROM k""".stripMargin
    },

    "q95_interval_join" -> {
      // intervals derived with the same lead() window; the join range
      // predicate is identical; snap_value is a COPIED column (byte-exact).
      """WITH snap AS (
        |  SELECT user_id, ts AS eff_start,
        |    arg_max(value, event_id) AS snap_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), dim AS (
        |  SELECT user_id, eff_start, snap_value,
        |    lead(eff_start) OVER (PARTITION BY user_id ORDER BY eff_start)
        |      AS eff_end
        |  FROM snap
        |)
        |SELECT f.event_id, f.user_id, d.eff_start, d.eff_end, d.snap_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') f
        |LEFT JOIN dim d ON f.user_id = d.user_id AND f.ts >= d.eff_start
        |  AND (d.eff_end IS NULL OR f.ts < d.eff_end)""".stripMargin
    },

    "q96_cms_heavy" -> {
      // the sketch is rebuilt in SQL with the same polyHash(key||':cms'||d)
      // mod-width cells; min-of-depth-counters estimate; same threshold.
      val hRow = OracleSqlGen.poly(
        "(CAST(user_id AS VARCHAR) || ':cms' || CAST(t.d AS VARCHAR))")
      val hKey = OracleSqlGen.poly(
        "(CAST(k.user_id AS VARCHAR) || ':cms' || CAST(t.d AS VARCHAR))")
      s"""WITH c AS (
         |  SELECT t.d AS d, $hRow % 256 AS cell
         |  FROM events CROSS JOIN range(0, 4) t(d)
         |), sk AS (
         |  SELECT d, cell, count(*) AS cnt FROM c GROUP BY 1, 2
         |), k AS (SELECT DISTINCT user_id FROM events),
         |e AS (
         |  SELECT k.user_id, min(coalesce(sk.cnt, 0)) AS est
         |  FROM k CROSS JOIN range(0, 4) t(d)
         |  LEFT JOIN sk ON sk.d = t.d AND sk.cell = $hKey % 256
         |  GROUP BY 1
         |)
         |SELECT user_id, CAST(est AS BIGINT) AS est, est >= 150 AS heavy
         |FROM e""".stripMargin
    },

    "q97_winnowing" -> {
      // same k-gram polyHashes (full 8 chars guaranteed by the len filter),
      // same min-per-window with the boundary rule, same distinct.
      val h = OracleSqlGen.poly("substr(text, j, 8)")
      s"""WITH p AS (
         |  SELECT doc_id, text, len(text) - 7 AS n
         |  FROM documents WHERE len(text) >= 8
         |), h AS (
         |  SELECT doc_id, n,
         |    list_transform(range(1, n + 1), j -> $h) AS hs
         |  FROM p
         |)
         |SELECT doc_id, unnest(list_distinct(
         |  list_transform(range(1, greatest(n - 3, 1) + 1),
         |    i -> list_min(hs[i:i + least(4, n) - 1])))) AS fp
         |FROM h""".stripMargin
    },

    "q98_tool_args" -> {
      // same 1-in-7 corruption; json_valid guards DuckDB's throwing
      // extractor to match Spark's permissive null; int sums CAST to BIGINT.
      """WITH p AS (
        |  SELECT user_id,
        |    CASE WHEN event_id % 7 = 0 THEN '{' || props ELSE props END AS s
        |  FROM events
        |), x AS (
        |  SELECT user_id,
        |    CASE WHEN json_valid(s)
        |      THEN try_cast(json_extract_string(s, '$.k') AS BIGINT) END
        |      AS arg
        |  FROM p
        |)
        |SELECT user_id, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN arg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bad,
        |  CAST(sum(arg) AS BIGINT) AS sum_arg,
        |  max(arg) AS max_arg
        |FROM x GROUP BY user_id""".stripMargin
    },

    "q99_hll_distinct" -> {
      // the full HLL rebuilt in SQL: same mix32(polyHash(key||':hll'))
      // register cells (the xorshift mix is what makes the high bits
      // rank-worthy), same (w+1)-bitlen rank via bin() (strips leading
      // zeros in both engines), exact power-of-two harmonic sum, same
      // small-range linear-counting switch, same 4dp round.
      val h0 = OracleSqlGen.poly("(CAST(user_id AS VARCHAR) || ':hll')")
      val h = OracleSqlGen.mix32("h0")
      s"""WITH p AS (
         |  SELECT event_type, $h0 AS h0 FROM events
         |), hx AS (
         |  SELECT event_type, $h AS h FROM p
         |), r AS (
         |  SELECT event_type, h % 64 AS idx,
         |    CASE WHEN h // 64 = 0 THEN 27
         |         ELSE 27 - len(bin(h // 64)) END AS rank
         |  FROM hx
         |), mx AS (
         |  SELECT event_type, idx, max(rank) AS mj FROM r GROUP BY 1, 2
         |), g AS (
         |  SELECT event_type, 64.0 - count(*) AS zeros,
         |    sum(power(2.0, -mj)) AS sp
         |  FROM mx GROUP BY 1
         |)
         |SELECT event_type,
         |  round(CASE WHEN (0.709 * 4096 / (zeros + sp)) <= 160 AND zeros > 0
         |    THEN 64.0 * ln(64.0 / zeros)
         |    ELSE 0.709 * 4096 / (zeros + sp) END, 4) AS hll_est
         |FROM g""".stripMargin
    },

    "q100_turn_repair" -> {
      // same segment derivation (lag-change cumsum), ordered string_agg
      // with chr(10), same anchor trim and dense reindex; row_number cast
      // to INT to match Spark's IntegerType.
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type AS role,
        |    coalesce(props, '') AS t,
        |    CASE WHEN lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)
        |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |), s AS (
        |  SELECT *, sum(chg) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS seg
        |  FROM o
        |), g AS (
        |  SELECT user_id, seg, min(role) AS event_type,
        |    CAST(count(*) AS BIGINT) AS n_merged,
        |    string_agg(t, chr(10) ORDER BY ts, event_id) AS text
        |  FROM s GROUP BY 1, 2
        |), a AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' THEN seg END)
        |    OVER (PARTITION BY user_id) AS fa
        |  FROM g
        |)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY seg) - 1
        |    AS INT) AS turn_idx,
        |  event_type, text, n_merged
        |FROM a WHERE seg >= fa""".stripMargin
    },

    "q101_blocklist" -> {
      // same canonicalized term lists (words sorted/deduped, phrases
      // whitespace-folded), token-set intersect for words, sentinel-padded
      // contains for phrases; len() casts to INT to match Spark size().
      """WITH p AS (
        |  SELECT doc_id,
        |    ' ' || regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || ' '
        |      AS pad,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> t <> '') AS tk
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(list_intersect(tk, ['dup', 'slow'])) AS INT)
        |    AS n_word_hits,
        |  CAST(len(list_filter(['batch batch batch', 'sort merge',
        |    'table scan'], ph -> contains(pad, ' ' || ph || ' '))) AS INT)
        |    AS n_phrase_hits,
        |  (len(list_intersect(tk, ['dup', 'slow'])) > 0 OR
        |   len(list_filter(['batch batch batch', 'sort merge',
        |     'table scan'], ph -> contains(pad, ' ' || ph || ' '))) > 0)
        |    AS blocked
        |FROM p""".stripMargin
    },

    "q102_zipf" -> {
      // same micro-quantized ln, exact integer sums, same binary64 op
      // order from CAST sums, same 6dp round. count(*)/sums CAST to BIGINT
      // (DuckDB HUGEINT otherwise).
      """WITH t AS (
        |  SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''))
        |    AS tok
        |  FROM documents
        |), c AS (
        |  SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2
        |), r AS (
        |  SELECT lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok ASC)
        |      AS rank, c
        |  FROM c QUALIFY rank <= 100
        |), q AS (
        |  SELECT lang,
        |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
        |  FROM r
        |), g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_top,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
        |    CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM q GROUP BY 1
        |)
        |, f AS (
        |  SELECT lang, n_top,
        |    CAST(n_top AS DOUBLE)*CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS cov,
        |    CAST(n_top AS DOUBLE)*CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS varx,
        |    CAST(n_top AS DOUBLE)*CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vary
        |  FROM g
        |)
        |SELECT lang AS stratum, n_top,
        |  CASE WHEN varx <> 0 THEN round(-cov / varx, 6) END AS zipf_alpha,
        |  CASE WHEN varx <> 0 AND vary <> 0
        |    THEN round(cov * cov / (varx * vary), 6) END AS r2
        |FROM f""".stripMargin
    },

    "q103_card_luhn" -> {
      // same injection, same candidate regex (Java∩RE2), same digit strip,
      // same right-to-left Luhn fold as a list_reduce.
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ' pay 4539 1488 0343 6467 now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' ref 1234-5678-9012-3456 end' ELSE '' END AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, list_transform(
        |    regexp_extract_all(t, '\b\d(?:[ -]?\d){12,18}\b'),
        |    x -> regexp_replace(x, '[^0-9]', '', 'g')) AS cands
        |  FROM p
        |)
        |SELECT doc_id,
        |  CAST(len(cands) AS BIGINT) AS n_card_shaped,
        |  CAST(len(list_filter(cands, d ->
        |    len(d) BETWEEN 13 AND 19 AND
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(d) + 1), i ->
        |        CASE WHEN i % 2 = 0 THEN
        |          CASE WHEN CAST(substr(d, len(d)-i+1, 1) AS BIGINT)*2 > 9
        |            THEN CAST(substr(d, len(d)-i+1, 1) AS BIGINT)*2 - 9
        |            ELSE CAST(substr(d, len(d)-i+1, 1) AS BIGINT)*2 END
        |        ELSE CAST(substr(d, len(d)-i+1, 1) AS BIGINT) END)),
        |      (a, b) -> a + b) % 10 = 0)) AS BIGINT) AS n_luhn_valid
        |FROM c""".stripMargin
    },

    "q104_pmi" -> {
      // same clean-token bigrams, same integer micro-unit pmi decomposition
      // q(cb)-q(Nb)-q(c1)-q(c2)+2q(Nu), same (pmi, gram) tie-broken top-20.
      val tkExpr =
        s"list_filter(${OracleSqlGen.toks("lower(text)")}, t -> NOT contains(t, chr(1)))"
      """WITH p AS (
        |  SELECT <TK> AS tk FROM documents
        |), u AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cu
        |  FROM (SELECT unnest(tk) AS tok FROM p) GROUP BY 1
        |), b AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS cb
        |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
        |          i -> array_to_string(tk[i:i+1], chr(1)))) AS g
        |        FROM p WHERE len(tk) >= 2) GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT CAST(sum(cu) AS BIGINT) FROM u) AS nu,
        |         (SELECT CAST(sum(cb) AS BIGINT) FROM b) AS nb
        |), j AS (
        |  SELECT b.g, b.cb,
        |    CAST(floor(ln(CAST(b.cb AS DOUBLE))*1e6+0.5) AS BIGINT)
        |    - CAST(floor(ln(CAST(t.nb AS DOUBLE))*1e6+0.5) AS BIGINT)
        |    - CAST(floor(ln(CAST(u1.cu AS DOUBLE))*1e6+0.5) AS BIGINT)
        |    - CAST(floor(ln(CAST(u2.cu AS DOUBLE))*1e6+0.5) AS BIGINT)
        |    + 2*CAST(floor(ln(CAST(t.nu AS DOUBLE))*1e6+0.5) AS BIGINT)
        |      AS pmi_u
        |  FROM b, tot t, u u1, u u2
        |  WHERE b.cb >= 30
        |    AND u1.tok = string_split(b.g, chr(1))[1]
        |    AND u2.tok = string_split(b.g, chr(1))[2]
        |)
        |SELECT replace(g, chr(1), ' ') AS gram, cb AS n_pair,
        |  round(CAST(pmi_u AS DOUBLE) / 1e6, 6) AS pmi
        |FROM j ORDER BY pmi_u DESC, g ASC LIMIT 20"""
        .stripMargin.replace("<TK>", tkExpr)
    },

    "q105_snapshot_diff" -> {
      // same version construction, same chr(31)/chr(0) digest fields, same
      // status derivation from the full outer join.
      """WITH e AS (
        |  SELECT event_id, user_id, value FROM events
        |), o AS (
        |  SELECT event_id, md5(concat_ws(chr(31),
        |    coalesce(CAST(user_id AS VARCHAR), chr(0)),
        |    coalesce(CAST(value AS VARCHAR), chr(0)))) AS od
        |  FROM e WHERE event_id % 17 <> 0
        |), n AS (
        |  SELECT event_id, md5(concat_ws(chr(31),
        |    coalesce(CAST(user_id AS VARCHAR), chr(0)),
        |    coalesce(CAST(CASE WHEN event_id % 13 = 0 THEN value + 1.0
        |      ELSE value END AS VARCHAR), chr(0)))) AS nd
        |  FROM e WHERE event_id % 19 <> 0
        |)
        |SELECT coalesce(o.event_id, n.event_id) AS event_id,
        |  CASE WHEN o.event_id IS NULL THEN 'added'
        |       WHEN n.event_id IS NULL THEN 'removed'
        |       WHEN od <> nd THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
        |WHERE CASE WHEN o.event_id IS NULL THEN 'added'
        |       WHEN n.event_id IS NULL THEN 'removed'
        |       WHEN od <> nd THEN 'changed'
        |       ELSE 'unchanged' END <> 'unchanged'""".stripMargin
    },

    "q106_rate_anomaly" -> {
      // same injected burst, same LONG window sums, same binary64 z from
      // exact sums (n*sq - s^2 form), same ROWS trailing frame.
      """WITH e AS (
        |  SELECT * FROM events
        |  UNION ALL
        |  SELECT * FROM events WHERE date_part('day', ts) = 15
        |), c AS (
        |  SELECT event_type, date_trunc('day', ts) AS bucket_ts,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM e GROUP BY 1, 2
        |), h AS (
        |  SELECT event_type, bucket_ts, cnt,
        |    CAST(count(cnt) OVER w AS BIGINT) AS n,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS s,
        |    sum(CAST(cnt AS HUGEINT)*cnt) OVER w AS sq
        |  FROM c
        |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |), f AS (
        |  SELECT event_type, bucket_ts, cnt, n,
        |    CAST(n AS DOUBLE)*CAST(sq AS DOUBLE)
        |      - CAST(s AS DOUBLE)*CAST(s AS DOUBLE) AS varn,
        |    (CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE)/CAST(n AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE)*CAST(sq AS DOUBLE)
        |          - CAST(s AS DOUBLE)*CAST(s AS DOUBLE))
        |        / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0))) AS zraw
        |  FROM h
        |)
        |SELECT event_type, bucket_ts, cnt,
        |  CASE WHEN n >= 3 AND varn > 0 THEN round(zraw, 6) END AS z,
        |  coalesce(CASE WHEN n >= 3 AND varn > 0 THEN round(zraw, 6) END
        |    >= 3.0, false) AS spike
        |FROM f""".stripMargin
    },

    "q107_neg_samples" -> {
      // same bucket hash, same per-bucket dense rank (ORDER BY id), same
      // member draw mod bucket size, same self-collision shift.
      // raw polys land in CTE columns so the (textually expanding) mix32
      // only ever repeats a cheap column reference
      val hb = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':b:neg1')")
      val ht = OracleSqlGen.poly(
        "(CAST(doc_id AS VARCHAR) || ':t:neg1' || CAST(t.slot AS VARCHAR))")
      val hm = OracleSqlGen.poly(
        "(CAST(doc_id AS VARCHAR) || ':m:neg1' || CAST(slot AS VARCHAR))")
      val mixB = OracleSqlGen.mix32("hb0")
      val mixT = OracleSqlGen.mix32("ht0")
      val mixM = OracleSqlGen.mix32("hm0")
      s"""WITH mraw AS (
         |  SELECT doc_id AS mid, $hb AS hb0 FROM documents
         |), m0 AS (
         |  SELECT mid, $mixB % 64 AS mb FROM mraw
         |), m AS (
         |  SELECT mid, mb,
         |    row_number() OVER (PARTITION BY mb ORDER BY mid) - 1 AS mi
         |  FROM m0
         |), sz AS (
         |  SELECT mb, CAST(count(*) AS BIGINT) AS bsz FROM m GROUP BY 1
         |), a0 AS (
         |  SELECT doc_id, CAST(t.slot AS INT) AS slot, $ht AS ht0
         |  FROM documents CROSS JOIN range(0, 3) t(slot)
         |), a AS (
         |  SELECT doc_id, slot, $mixT % 64 AS tb, $hm AS hm0 FROM a0
         |), a2 AS (
         |  SELECT a.doc_id, a.slot, a.tb, sz.bsz, $mixM % sz.bsz AS ti
         |  FROM a JOIN sz ON sz.mb = a.tb
         |), f1 AS (
         |  SELECT a2.*, m.mid AS hit
         |  FROM a2 LEFT JOIN m ON m.mb = a2.tb AND m.mi = a2.ti
         |), f2 AS (
         |  SELECT doc_id, slot, tb,
         |    CASE WHEN hit = doc_id THEN (ti + 1) % bsz ELSE ti END AS ti2
         |  FROM f1
         |)
         |SELECT f2.doc_id, f2.slot,
         |  CASE WHEN m.mid = f2.doc_id THEN NULL ELSE m.mid END AS neg_id
         |FROM f2 LEFT JOIN m ON m.mb = f2.tb AND m.mi = f2.ti2""".stripMargin
    },

    "q108_role_transitions" -> {
      // same lag pairs, same row-normalized division, same 6dp round.
      """WITH p AS (
        |  SELECT lag(coalesce(event_type, '<null>')) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_role,
        |    coalesce(event_type, '<null>') AS next_role
        |  FROM events
        |), c AS (
        |  SELECT prev_role, next_role, CAST(count(*) AS BIGINT)
        |    AS n_transitions
        |  FROM p WHERE prev_role IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT prev_role, next_role, n_transitions,
        |  round(CAST(n_transitions AS DOUBLE) /
        |    CAST(sum(n_transitions) OVER (PARTITION BY prev_role)
        |      AS DOUBLE), 6) AS p
        |FROM c""".stripMargin
    },

    "q109_blocklist_join" -> {
      // the literal-path oracle shape (q101) with the join path's list —
      // the brute per-row evaluation IS the semantic ground truth the
      // banded/broadcast machinery must reproduce.
      """WITH p AS (
        |  SELECT doc_id,
        |    ' ' || regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || ' '
        |      AS pad,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> t <> '') AS tk
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(list_intersect(tk, ['dup', 'slow'])) AS INT)
        |    AS n_word_hits,
        |  CAST(len(list_filter(['sort merge', 'sort scan', 'table scan'],
        |    ph -> contains(pad, ' ' || ph || ' '))) AS INT)
        |    AS n_phrase_hits,
        |  (len(list_intersect(tk, ['dup', 'slow'])) > 0 OR
        |   len(list_filter(['sort merge', 'sort scan', 'table scan'],
        |     ph -> contains(pad, ' ' || ph || ' '))) > 0)
        |    AS blocked
        |FROM p""".stripMargin
    },

    "q94_fim" -> {
      // same keep rule (q48), same polyHash pivots mod (n+1), same 1-based
      // slice arithmetic (DuckDB t[a:b] inclusive == Spark slice(t,a,b-a+1)).
      val tks = OracleSqlGen.toks("text")
      val keep = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':fim')")
      val h1 = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':fim1')")
      val h2 = OracleSqlGen.poly("(CAST(doc_id AS VARCHAR) || ':fim2')")
      s"""WITH p AS (
         |  SELECT doc_id, text, $tks AS tk, len($tks) AS n,
         |    $h1 % (len($tks) + 1) AS u,
         |    $h2 % (len($tks) + 1) AS v,
         |    ($keep % 1000 < round(0.5 * 1000.0)) AND len($tks) >= 3 AS f
         |  FROM documents
         |)
         |SELECT doc_id, coalesce(f, false) AS fimmed,
         |  CASE WHEN f THEN
         |    '<|pre|>' || coalesce(array_to_string(tk[1:least(u, v)], ' '), '')
         |    || '<|suf|>'
         |    || coalesce(array_to_string(tk[greatest(u, v)+1:n], ' '), '')
         |    || '<|mid|>'
         |    || coalesce(array_to_string(tk[least(u, v)+1:greatest(u, v)], ' '), '')
         |  ELSE text END AS text_out
         |FROM p""".stripMargin
    },

    "q93_chat_render" -> {
      // string_agg with ORDER BY = Spark's array_sort(collect_list) on
      // order-led structs; null text renders empty on both sides.
      """SELECT user_id, count(*) AS n_turns,
        |  string_agg('<|' || event_type || '|>' || coalesce(props, '')
        |               || '<|end|>', '' ORDER BY ts, event_id) AS rendered
        |FROM events GROUP BY user_id""".stripMargin
    },

    "q92_curriculum_shards" -> {
      // same deterministic hash-sample (the q48 keep rule), same exact
      // quantile boundaries rounded to 6 (q12-proven round parity), same
      // count-of-exceeded-boundaries assignment. Nulls land in shard 0
      // (CASE WHEN null THEN.. ELSE 0 == Spark's coalesce(..,0)).
      val h = OracleSqlGen.poly("(CAST(event_id AS VARCHAR) || ':curr')")
      s"""WITH smp AS (
         |  SELECT value AS score FROM events
         |  WHERE $h % 1000 < round(0.2 * 1000.0)
         |), b AS (
         |  SELECT round(quantile_cont(score, 0.25), 6) AS b1,
         |         round(quantile_cont(score, 0.5), 6) AS b2,
         |         round(quantile_cont(score, 0.75), 6) AS b3
         |  FROM smp
         |)
         |SELECT event_id, value AS score,
         |  CAST(CASE WHEN value > b1 THEN 1 ELSE 0 END +
         |       CASE WHEN value > b2 THEN 1 ELSE 0 END +
         |       CASE WHEN value > b3 THEN 1 ELSE 0 END AS BIGINT) AS shard
         |FROM events, b""".stripMargin
    },

    "q91_transcript_audit" -> {
      // integer-µs span (epoch_us both sides, UTC session); int sums CAST
      // to BIGINT (DuckDB sums are HUGEINT — the q05 lesson); arg_min/max
      // on the unique row_number = Spark's min_by/max_by on __rn.
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type AS role, props,
        |    lag(event_type) OVER w AS pr,
        |    lag(ts) OVER w AS pts,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id,
        |  count(*) AS n_turns,
        |  CAST(sum(CASE WHEN role = pr THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_role_repeats,
        |  CAST(sum(CASE WHEN props IS NULL OR length(props) = 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
        |  CAST(sum(CASE WHEN ts = pts THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ts_ties,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us,
        |  arg_min(role, rn) AS first_role,
        |  arg_max(role, rn) AS last_role
        |FROM t GROUP BY user_id""".stripMargin
    },

    "q90_preference_pairs" -> {
      // qualifying rows are a contiguous suffix of the (score DESC, id ASC)
      // order, so the per-group cap is a running sum — same plan as Spark.
      // Output scores are copied values (no arithmetic): byte-exact compare.
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |    first_value(value) OVER w AS cs,
        |    first_value(event_id) OVER w AS cid,
        |    row_number() OVER w AS rn
        |  FROM events WHERE value IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), q AS (
        |  SELECT *, sum(CASE WHEN rn > 1 AND cs - value >= 30.0
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qrk
        |  FROM r
        |)
        |SELECT user_id, cid AS chosen_id, cs AS chosen_score,
        |  event_id AS rejected_id, value AS rejected_score
        |FROM q WHERE rn > 1 AND cs - value >= 30.0 AND qrk <= 3""".stripMargin
    },

    "q87_oov_rate" -> {
      // same top-500 vocab (count desc, token asc — total order) and the
      // same per-doc integer sums; sums CAST to BIGINT (DuckDB sums
      // integers into HUGEINT — the q05 lesson)
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${OracleSqlGen.toks("lower(text)")}) AS tok
         |  FROM documents
         |), counts AS (
         |  SELECT tok, count(*) AS c FROM tk GROUP BY tok
         |), vocab AS (
         |  SELECT tok FROM counts ORDER BY c DESC, tok LIMIT 500
         |), sc AS (
         |  SELECT tk.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |  FROM tk LEFT JOIN vocab v ON tk.tok = v.tok
         |  GROUP BY tk.doc_id
         |)
         |SELECT d.doc_id, sc.n_tokens, sc.n_oov,
         |  round(sc.n_oov / CAST(sc.n_tokens AS DOUBLE), 6) AS oov_rate
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin
    },

    "q86_url_curation" -> {
      // the same messy-URL construction, then Web.canonicalize spelled in
      // RE2 (replacement backrefs are \\1 in RE2 vs $1 in Java — pattern
      // syntax is the shared Java∩RE2 subset)
      s"""WITH u0 AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END || '://'
         |    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END
         |    || source || CAST(doc_id % 8 AS VARCHAR) || '.COM'
         |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
         |    || '/' || source || '/' || CAST(doc_id % 7 AS VARCHAR)
         |    || CASE WHEN doc_id % 6 = 0
         |         THEN '?utm_medium=email&id=' || CAST(doc_id AS VARCHAR)
         |         ELSE '?id=' || CAST(doc_id AS VARCHAR)
         |           || CASE WHEN doc_id % 2 = 0
         |                THEN '&utm_source=feed&utm_campaign=x' ELSE '' END
         |       END
         |    || CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url0
         |  FROM documents
         |), lo AS (
         |  SELECT doc_id, n_chars,
         |    regexp_replace(url0, '(?s)#.*', '') AS nofrag,
         |    regexp_extract(regexp_replace(url0, '(?s)#.*', ''),
         |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS pre
         |  FROM u0
         |), np AS (
         |  SELECT doc_id, n_chars,
         |    regexp_replace(
         |      regexp_replace(
         |        lower(pre) || substr(nofrag, len(pre) + 1),
         |        '(?s)^(https://[^:/?#]+):443([/?#].*)?$$', '\\1\\2'),
         |      '(?s)^(http://[^:/?#]+):80([/?#].*)?$$', '\\1\\2') AS u
         |  FROM lo
         |), sp AS (
         |  -- tracking strips run on the query string only (split at '?'),
         |  -- mirroring Web.canonicalize: the '&param' stage must never see
         |  -- the path
         |  SELECT doc_id, n_chars, regexp_extract(u, '(?s)^[^?]*') AS p0,
         |    substr(u, len(regexp_extract(u, '(?s)^[^?]*')) + 1) AS q0
         |  FROM np
         |), cn AS (
         |  SELECT doc_id, n_chars,
         |    regexp_replace(p0 ||
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(q0,
         |            '&(?:utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
         |          '(?s)^\\?(?:utm_[a-z]+|fbclid|gclid)=[^&#]*&', '?'),
         |        '(?s)^\\?(?:utm_[a-z]+|fbclid|gclid)=[^&#]*$$', ''),
         |      '\\?$$', '') AS url
         |  FROM sp
         |), dm AS (
         |  SELECT doc_id, n_chars, url,
         |    regexp_replace(regexp_replace(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
         |      '^[^@]*@', ''), ':[0-9]+$$', '') AS h
         |  FROM cn
         |), dd AS (
         |  SELECT doc_id, n_chars, url,
         |    CASE WHEN regexp_extract(lower(h), '([^.]+\\.[^.]+)$$', 1) = ''
         |         THEN lower(h)
         |         ELSE regexp_extract(lower(h), '([^.]+\\.[^.]+)$$', 1) END AS domain
         |  FROM dm
         |), rk AS (
         |  SELECT doc_id, url, domain,
         |    CAST(row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS domain_rank
         |  FROM dd
         |)
         |SELECT doc_id, url, domain, domain_rank FROM rk
         |WHERE domain_rank <= 8""".stripMargin
    },

    "q85_strip_markup" -> {
      // identical dirty-string construction and the identical ordered
      // strip/decode chain (replace() is the same single-pass left-to-right
      // literal substitution in both engines, so &amp;amp; -> &amp; on both)
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN
         |      '<!DOCTYPE html><html><head><STYLE>body{color:red}</STYLE>'
         |      || '<script src="a.js">var i=1; if(i<2){i=3;}</script></head>'
         |      || '<body><p class="intro">' ELSE '' END
         |    || text
         |    || CASE WHEN doc_id % 3 = 0 THEN
         |      ' &amp;amp; x &lt;tag&gt;&nbsp;&quot;q&#39;</p>'
         |      || '<!-- hidden --> tail</body></html>' ELSE '' END AS dirty
         |  FROM documents
         |), c AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(
         |      replace(replace(replace(replace(replace(replace(
         |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |          dirty,
         |          '(?is)<script[^>]*>.*?</script\\s*>', ' ', 'g'),
         |          '(?is)<style[^>]*>.*?</style\\s*>', ' ', 'g'),
         |          '(?s)<!--.*?-->', ' ', 'g'),
         |          '(?s)<[/!]?[a-zA-Z][^>]*>', ' ', 'g'),
         |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
         |        '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
         |      '\\s+', ' ', 'g')) AS clean_text
         |  FROM d
         |)
         |SELECT doc_id, clean_text,
         |  CAST(len(clean_text) AS BIGINT) AS n_after
         |FROM c""".stripMargin
    },

    "q41_time_rolling" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_10min,
        |  round(sum(value) OVER w, 4) AS val_10min
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q35_multimodal" -> {
      // folds the UTF-8 BYTES (not code points) — exactly what the Spark-side
      // ByteStatsDecoder does over the binary payload, valid beyond ASCII
      val bytes = OracleSqlGen.utf8Bytes("text")
      val nb = "octet_length(encode(text))"
      def f(j: Int) =
        s"round(CAST(len(list_filter($bytes, b -> b % 8 = $j)) AS DOUBLE) / " +
          s"CAST(greatest($nb, 1) AS DOUBLE), 6)"
      s"""SELECT doc_id AS asset_id,
         |  (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS media_type,
         |  CAST($nb AS BIGINT) AS n_bytes,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), $bytes),
         |    (a, b) -> (a*31 + b) % ${OracleSqlGen.M}) AS checksum,
         |  ${f(0)} AS f0,
         |  ${f(3)} AS f3
         |FROM documents""".stripMargin
    },

    "q72_dup_spans" -> {
      // window hash = left fold (acc*131 + tokenHash) mod 2^32 over k=8
      // consecutive token hashes; spans = gap-sessionized duplicated
      // window starts (same cumsum shape as q06)
      val th = s"list_transform(${OracleSqlGen.toks("lower(text)")}, t -> ${OracleSqlGen.poly("t")})"
      val fold = (0 until 8).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
        s"((($acc)*131 + th[i+$j]) % ${OracleSqlGen.M})")
      s"""WITH p AS (
         |  SELECT doc_id, $th AS th FROM documents
         |), w AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS pos, $fold AS wh
         |  FROM p, unnest(range(1, len(th) - 6)) AS u(i)
         |  WHERE len(th) >= 8
         |), dup AS (
         |  SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2
         |), dw AS (
         |  SELECT w.doc_id, w.pos FROM w JOIN dup USING (wh)
         |), sp AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
         |      THEN 0 ELSE 1 END AS nw
         |  FROM dw
         |), sp2 AS (
         |  SELECT doc_id, pos, sum(nw) OVER (
         |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
         |  FROM sp
         |)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
         |  CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens,
         |  CAST(count(*) AS BIGINT) AS n_windows
         |FROM sp2 GROUP BY doc_id, span""".stripMargin
    },

    "q73_bpe_pairs" -> {
      val tk = OracleSqlGen.toks("lower(text)")
      s"""WITH wf AS (
         |  SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
         |  FROM documents, unnest($tk) AS u(t) GROUP BY t
         |), pr AS (
         |  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, freq
         |  FROM wf, unnest(range(1, len(word))) AS u(i)
         |  WHERE len(word) >= 2
         |), pc AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pr GROUP BY pair
         |)
         |SELECT pair, cnt, rank FROM (
         |  SELECT pair, cnt, row_number() OVER (
         |    ORDER BY cnt DESC, pair ASC) AS rank
         |  FROM pc)
         |WHERE rank <= 20""".stripMargin
    },

    "q74_dsir_weights" -> {
      val tk = OracleSqlGen.toks("lower(text)")
      s"""WITH p AS (
         |  SELECT doc_id, (lang = 'en') AS tgt, $tk AS tk FROM documents
         |), tok AS (
         |  SELECT doc_id, tgt, ${OracleSqlGen.poly("t")} % 256 AS b
         |  FROM p, unnest(tk) AS u(t)
         |), dist AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM tok GROUP BY b
         |), tot AS (
         |  SELECT CAST(CAST(sum(cr) AS BIGINT) + 256 AS DOUBLE) AS dr,
         |    CAST(CAST(sum(ct) AS BIGINT) + 256 AS DOUBLE) AS dt
         |  FROM dist
         |), lam AS (
         |  SELECT b, CAST(floor((ln(CAST(ct + 1 AS DOUBLE) / dt)
         |    - ln(CAST(cr + 1 AS DOUBLE) / dr)) * 1000000.0 + 0.5) AS BIGINT) AS lq
         |  FROM dist, tot
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    round(CAST(CAST(sum(lq) AS BIGINT) AS DOUBLE) / 1000000.0, 6)
         |      AS logratio,
         |    round(CAST(CAST(sum(lq) AS BIGINT) AS DOUBLE) / 1000000.0
         |      / CAST(count(*) AS DOUBLE), 6) AS logratio_avg
         |  FROM tok JOIN lam USING (b) GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  agg.logratio, agg.logratio_avg
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin
    },

    "q75_chunk_overlap" -> {
      val tk = OracleSqlGen.toks("lower(text)")
      s"""WITH p AS (
         |  SELECT doc_id, $tk AS tk FROM documents
         |), c AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN len(tk) <= 0 THEN 0
         |         WHEN len(tk) <= 24 THEN 1
         |         ELSE CAST(ceil(CAST(len(tk) - 24 AS DOUBLE) / 18.0) AS INTEGER) + 1
         |    END AS nc
         |  FROM p
         |)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         |  CAST(i*18 + 1 AS BIGINT) AS tok_start,
         |  CAST(len(tk[CAST(i*18 + 1 AS INTEGER):CAST(i*18 + 24 AS INTEGER)]) AS BIGINT)
         |    AS n_chunk_tokens,
         |  array_to_string(tk[CAST(i*18 + 1 AS INTEGER):CAST(i*18 + 24 AS INTEGER)], ' ')
         |    AS chunk_text
         |FROM c, unnest(range(0, nc)) AS u(i)
         |WHERE nc > 0""".stripMargin
    },

    "q76_passage_dedup" -> {
      // q72's span derivation, then positional anti-filter + ordered
      // reassembly (string_agg ORDER BY pos)
      val th = s"list_transform(tk, t -> ${OracleSqlGen.poly("t")})"
      val fold = (0 until 8).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
        s"((($acc)*131 + th[i+$j]) % ${OracleSqlGen.M})")
      s"""WITH p AS (
         |  SELECT doc_id, ${OracleSqlGen.toks("lower(text)")} AS tk FROM documents
         |), ph AS (
         |  SELECT doc_id, tk, $th AS th FROM p
         |), w AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS pos, $fold AS wh
         |  FROM ph, unnest(range(1, len(th) - 6)) AS u(i)
         |  WHERE len(th) >= 8
         |), dup AS (
         |  SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2
         |), dw AS (
         |  SELECT w.doc_id, w.pos FROM w JOIN dup USING (wh)
         |), sp AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
         |      THEN 0 ELSE 1 END AS nw
         |  FROM dw
         |), sp2 AS (
         |  SELECT doc_id, pos, sum(nw) OVER (
         |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
         |  FROM sp
         |), spans AS (
         |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
         |    CAST(max(pos) + 7 AS BIGINT) AS e
         |  FROM sp2 GROUP BY doc_id, span
         |), tokpos AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[CAST(i AS INTEGER)] AS tok
         |  FROM p, unnest(range(1, len(tk) + 1)) AS u(i)
         |), kept AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM tokpos t
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = t.doc_id AND t.pos >= s.s AND t.pos <= s.e)
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT p.doc_id, CAST(len(p.tk) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(agg.clean_text, '') AS clean_text
         |FROM p LEFT JOIN agg USING (doc_id)""".stripMargin
    },

    "q83_shard_balanced" -> {
      // shardBalanced's exact rule: polyHash bucket, per-bucket rank by
      // (n_tokens DESC, doc_id ASC), serpentine shard = pos on even passes,
      // shards-1-pos on odd
      val idStr = "CAST(doc_id AS VARCHAR)"
      val ntok = s"CAST(len(${OracleSqlGen.toks("text")}) AS BIGINT)"
      s"""WITH d AS (
         |  SELECT doc_id, $ntok AS n_tokens,
         |    ${OracleSqlGen.poly(idStr)} % 8 AS bucket
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, n_tokens, bucket,
         |    CAST(row_number() OVER (PARTITION BY bucket
         |      ORDER BY n_tokens DESC, doc_id ASC) - 1 AS BIGINT) AS rk
         |  FROM d
         |)
         |SELECT doc_id, n_tokens, bucket,
         |  CAST(CASE WHEN CAST(floor(rk / 4.0) AS BIGINT) % 2 = 0 THEN rk % 4
         |       ELSE 3 - (rk % 4) END AS BIGINT) AS shard
         |FROM r""".stripMargin
    },

    "q82_token_drift" -> {
      // Drift.tokenDrift's exact arithmetic: per-token KL terms quantized
      // at 1e-9, chi-square terms at 1e-6, integer-summed (order-free);
      // identical double op sequences from the same exact integer counts
      val tkExpr = OracleSqlGen.toks("lower(text)")
      s"""WITH t AS (
         |  SELECT source AS stratum, unnest($tkExpr) AS tok FROM documents
         |), c AS (
         |  SELECT stratum, tok, CAST(count(*) AS BIGINT) AS cnt
         |  FROM t GROUP BY stratum, tok
         |), g AS (
         |  SELECT tok, CAST(sum(cnt) AS BIGINT) AS cg FROM c GROUP BY tok
         |), ns AS (
         |  SELECT stratum, CAST(sum(cnt) AS BIGINT) AS nst FROM c GROUP BY stratum
         |), tot AS (
         |  SELECT CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) AS ng FROM c
         |), terms AS (
         |  SELECT c.stratum, ns.nst,
         |    CAST(floor((CAST(c.cnt AS DOUBLE) / CAST(ns.nst AS DOUBLE))
         |      * ln((CAST(c.cnt AS DOUBLE) * ng)
         |            / (CAST(ns.nst AS DOUBLE) * CAST(g.cg AS DOUBLE)))
         |      * 1000000000.0 + 0.5) AS BIGINT) AS klq,
         |    CAST(floor(
         |      (CAST(c.cnt AS DOUBLE)
         |        - CAST(ns.nst AS DOUBLE) * CAST(g.cg AS DOUBLE) / ng)
         |      * (CAST(c.cnt AS DOUBLE)
         |        - CAST(ns.nst AS DOUBLE) * CAST(g.cg AS DOUBLE) / ng)
         |      / (CAST(ns.nst AS DOUBLE) * CAST(g.cg AS DOUBLE) / ng)
         |      * 1000000.0 + 0.5) AS BIGINT) AS chiq
         |  FROM c JOIN g USING (tok) JOIN ns USING (stratum), tot
         |)
         |SELECT stratum, max(nst) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_terms,
         |  round(CAST(CAST(sum(klq) AS BIGINT) AS DOUBLE) / 1000000000.0, 6) AS kl,
         |  round(CAST(CAST(sum(chiq) AS BIGINT) AS DOUBLE) / 1000000.0, 6) AS chi2
         |FROM terms GROUP BY stratum""".stripMargin
    },

    "q81_ivfpq_topk" -> {
      // mirrors ivfTrain(iterations=0) + pqTrain(iterations=0) + ivfPqTopK:
      // the SAME 8 LCG-seeded rows serve as coarse centroids (cosine
      // assignment, ties → smaller li; probes tie → larger li, as q52) and
      // as the source rows of all four 16-dim sub-codebooks (L2 argmin
      // encode, ties → smaller code); ADC = sum over j of subspace L2
      // against the assigned codeword, rounded to 6 before ranking
      val cosEC = OracleSqlGen.cosine("e.v", "c.v")
      val cosQC = OracleSqlGen.cosine("q.v", "c.v")
      val draw = "((vec_id % 2147483647) * 1103515245 + 12345) % 2147483648"
      val l2Enc = OracleSqlGen.l2("list_slice(a.v, c.j*16+1, (c.j+1)*16)", "c.w", 16)
      val l2Adc = OracleSqlGen.l2("list_slice(q.v, c.j*16+1, (c.j+1)*16)", "c.w", 16)
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |ctr AS (
         |  SELECT row_number() OVER (ORDER BY $draw, vec_id) - 1 AS li, v
         |  FROM e QUALIFY li <= 7
         |),
         |assign AS (
         |  SELECT cid, li FROM (
         |    SELECT e.vec_id AS cid, c.li,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY $cosEC DESC, c.li ASC) AS rn
         |    FROM e, ctr c) WHERE rn = 1
         |),
         |cw AS (
         |  SELECT CAST(j AS INTEGER) AS j, c.li AS code,
         |    list_slice(c.v, CAST(j AS INTEGER)*16+1, (CAST(j AS INTEGER)+1)*16) AS w
         |  FROM ctr c, unnest(range(4)) AS u(j)
         |),
         |enc AS (
         |  SELECT cid, j, code FROM (
         |    SELECT a.cid, c.j, c.code,
         |      row_number() OVER (PARTITION BY a.cid, c.j
         |        ORDER BY $l2Enc ASC, c.code ASC) AS rn
         |    FROM (SELECT vec_id AS cid, v FROM e) a, cw c) WHERE rn = 1
         |),
         |probes AS (
         |  SELECT qid, li, v FROM (
         |    SELECT q.vec_id AS qid, c.li, q.v,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $cosQC DESC, c.li DESC) AS rn
         |    FROM e q, ctr c WHERE q.vec_id < 20) WHERE rn <= 2
         |),
         |p AS (
         |  SELECT q.qid, x.cid, round(sum($l2Adc), 6) AS adc
         |  FROM probes q JOIN assign x ON q.li = x.li
         |  JOIN enc n ON n.cid = x.cid
         |  JOIN cw c ON c.j = n.j AND c.code = n.code
         |  WHERE q.qid <> x.cid
         |  GROUP BY q.qid, x.cid
         |)
         |SELECT qid, cid, adc, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc ASC, cid ASC) AS rank FROM p)
         |WHERE rank <= 3""".stripMargin
    },

    "q80_normalize" -> {
      // same dirty-string construction, nfc_normalize (utf8proc) + the
      // identical Java∩RE2 strip class + collapse + trim
      val strip = "[\\x00-\\x08\\x0B-\\x1F\\x7F]|\\x{200B}|\\x{200C}|\\x{200D}|\\x{FEFF}"
      s"""WITH d AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 2 = 0 THEN ' cafe' || chr(769) ELSE '' END
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN chr(8203) || chr(7) || '  spaced' || chr(9) || 'out '
         |         ELSE '' END AS dirty
         |  FROM documents
         |), n AS (
         |  SELECT doc_id, CAST(len(dirty) AS BIGINT) AS n_before,
         |    trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
         |      '$strip', '', 'g'), '\\s+', ' ', 'g')) AS clean_text
         |  FROM d
         |)
         |SELECT doc_id, n_before, clean_text,
         |  CAST(len(clean_text) AS BIGINT) AS n_after
         |FROM n""".stripMargin
    },

    "q79_decontaminate" -> {
      // q76's span/strip machinery with the hash table drawn from the
      // benchmark split instead of corpus-wide counts
      val th = s"list_transform(tk, t -> ${OracleSqlGen.poly("t")})"
      val fold = (0 until 13).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
        s"((($acc)*131 + th[i+$j]) % ${OracleSqlGen.M})")
      s"""WITH tr AS (
         |  SELECT doc_id, ${OracleSqlGen.toks("lower(text)")} AS tk
         |  FROM documents WHERE doc_id % 5 <> 0
         |), be AS (
         |  SELECT doc_id, ${OracleSqlGen.toks("lower(text)")} AS tk
         |  FROM documents WHERE doc_id % 5 = 0
         |), trh AS (SELECT doc_id, tk, $th AS th FROM tr),
         |beh AS (SELECT doc_id, tk, $th AS th FROM be),
         |w AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS pos, $fold AS wh
         |  FROM trh, unnest(range(1, len(th) - 11)) AS u(i)
         |  WHERE len(th) >= 13
         |), refh AS (
         |  SELECT DISTINCT $fold AS wh
         |  FROM beh, unnest(range(1, len(th) - 11)) AS u(i)
         |  WHERE len(th) >= 13
         |), dw AS (
         |  SELECT w.doc_id, w.pos FROM w JOIN refh USING (wh)
         |), sp AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
         |      THEN 0 ELSE 1 END AS nw
         |  FROM dw
         |), sp2 AS (
         |  SELECT doc_id, pos, sum(nw) OVER (
         |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
         |  FROM sp
         |), spans AS (
         |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
         |    CAST(max(pos) + 12 AS BIGINT) AS e
         |  FROM sp2 GROUP BY doc_id, span
         |), tokpos AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[CAST(i AS INTEGER)] AS tok
         |  FROM tr, unnest(range(1, len(tk) + 1)) AS u(i)
         |), kept AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM tokpos t
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = t.doc_id AND t.pos >= s.s AND t.pos <= s.e)
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT tr.doc_id, CAST(len(tr.tk) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(agg.clean_text, '') AS clean_text
         |FROM tr LEFT JOIN agg USING (doc_id)""".stripMargin
    },

    "q78_bpe_encode" -> {
      // the same double-pass plain `replace` per rank (identical
      // left-to-right non-overlapping semantics in the JVM and SQL),
      // delimited form built by one regex pass, chr(1) as the separator
      val delim = s"regexp_replace(w, '(.)', chr(1) || '\\1', 'g') || chr(1)"
      val applied = bpeMerges.foldLeft(delim) { case (acc, (a, b)) =>
        val pat = s"chr(1) || '$a' || chr(1) || '$b' || chr(1)"
        val rep = s"chr(1) || '$a$b' || chr(1)"
        s"replace(replace($acc, $pat, $rep), $pat, $rep)"
      }
      val enc = s"string_split(regexp_replace($applied, " +
        s"'^' || chr(1) || '|' || chr(1) || '$$', '', 'g'), chr(1))"
      s"""WITH p AS (
         |  SELECT doc_id, ${OracleSqlGen.toks("lower(text)")} AS tk FROM documents
         |), e AS (
         |  SELECT doc_id, tk, list_transform(tk, w -> $enc) AS enc FROM p
         |)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(enc, sw -> CAST(len(sw) AS BIGINT))),
         |    (a, x) -> a + x) AS BIGINT) AS n_subwords,
         |  array_to_string(list_transform(enc, sw -> array_to_string(sw, '+')), ' ')
         |    AS enc_text
         |FROM e""".stripMargin
    },

    "q77_quality_gram" -> {
      // v = 16 hashedBow dims (same per-dim fold as q71) ++ [1, y];
      // every Gram entry is an exact-integer sum — strict compare
      val th = s"list_transform(${OracleSqlGen.toks("text")}, tk -> ${OracleSqlGen.poly("tk")})"
      def dimExpr(j: Int): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(th, h -> " +
          s"CASE WHEN h % 16 = $j THEN " +
          s"(CASE WHEN (h >> 8) & 1 = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) " +
          s"ELSE CAST(0.0 AS DOUBLE) END)), (a, x) -> a + x)"
      val dims = (0 until 16).map(dimExpr)
      s"""WITH t AS (SELECT lang, $th AS th FROM documents),
         |v AS (
         |  SELECT [${dims.mkString(", ")}, CAST(1.0 AS DOUBLE),
         |    CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST(0.0 AS DOUBLE) END] AS v
         |  FROM t
         |)
         |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
         |  CAST(sum(CAST(v[CAST(i AS INTEGER) + 1] * v[CAST(j AS INTEGER) + 1]
         |    AS BIGINT)) AS BIGINT) AS s
         |FROM v, range(0, 18) a(i), range(0, 18) b(j)
         |WHERE j >= i
         |GROUP BY i, j""".stripMargin
    }
  )
}
