package graft

import org.apache.spark.sql.functions._

/** Plan-shape audits: these tests pin the SCALE properties of the engine —
  * filters reach the parquet scan, small dimensions broadcast, the point-in-
  * time pipeline is a single shuffle with a single sort, map-side partial
  * aggregation is present. A regression here is a 100-TB performance bug
  * even when results stay correct.
  */
class PlanAuditSpec extends GraftSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Aggregate expressions in the optimized plan. */
  private def aggs(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    df.queryExecution.optimizedPlan.collect { case a: Aggregate =>
      a.aggregateExpressions.map(_.collect { case e: AggregateExpression => e }.size).sum
    }.sum
  }

  /** Bloom-indexed ingest of every 5th document against a persisted index
    * (with sketches) of the rest — the IngestLoop / curate_ingest shape.
    */
  private def bloomIndexedIngest(root: String): org.apache.spark.sql.DataFrame = {
    import graft.text.Dedup
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    Dedup.writeIndex(docs.where(pmod(col("doc_id"), lit(5L)) =!= 0),
      "doc_id", "text", col("lang"), 3, root, nBuckets = 8, bloomFpp = Some(0.03))
    Dedup.dedupIncrementalBloomIndexed(docs.where(pmod(col("doc_id"), lit(5L)) === 0),
      root, "doc_id", "text", col("lang"), 3, 0.7)
  }

  test("filter + projection are pushed into the parquet scan") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sfSmall)
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
    // only the needed columns are read
    assert(p.contains("ReadSchema") && !p.contains("l_partkey"),
      "scan reads columns the query never uses")
  }

  test("dimension joins broadcast (no shuffle join for small sides)") {
    val p = plan(SparkEntry.queries("q02_revenue_by_nation")(spark, sfSmall))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("flagship pipeline: exactly one exchange, windows share one sort") {
    val t = graft.core.Transcripts.synthesize(spark, 50)
      .write.mode("overwrite").parquet("/tmp/audit_t")
    val tt = spark.read.parquet("/tmp/audit_t")
    val snaps = graft.core.Transcripts.snapshots(tt)
    snaps.write.mode("overwrite").parquet("/tmp/audit_s")
    val pipe = graft.run.Flagship.pipeline(tt, spark.read.parquet("/tmp/audit_s"))
    val p = pipe.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(exchanges == 1, s"flagship should shuffle exactly once, got $exchanges:\n$p")
    assert(sorts == 1, s"flagship should sort exactly once, got $sorts")
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val df = SparkEntry.queries("q09_weighted_stats")(spark, sfSmall)
    val p = plan(df)
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("whole-stage codegen covers the stat expressions") {
    val df = SparkEntry.queries("q09_weighted_stats")(spark, sfSmall)
    df.collect() // finalize the adaptive plan
    // '*(n)' prefixes mark WholeStageCodegen stages in the compact form
    assert(plan(df).contains("*("), s"no codegen stage:\n${plan(df)}")
  }

  test("multi-probe LSH stays an equi hash join (no cartesian/BNLJ fan-out)") {
    val p = plan(SparkEntry.queries("q46_lsh_multiprobe")(spark, sfSmall))
    assert(!p.contains("CartesianProduct"), s"cartesian in multiprobe plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join extraction failed:\n$p")
    assert(p.contains("bkey"), "probe join must key on the bucket")
  }

  test("pair builders (q27/q29/q34/q50): equi hash joins on the block key, one cap window") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def names(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      es.flatMap(_.references.map(_.name))
    for ((q, key, capped) <- Seq(("q27_ngram_jaccard", Seq("shingle", "blk"), false),
        ("q29_minhash_pairs", Seq("bkey"), true), ("q34_embed_neardup", Seq("bkey"), true),
        ("q50_simhash_pairs", Seq("bkey"), true))) graft.text.Dedup.withCache {
      val df = SparkEntry.queries(q)(spark, sfSmall)
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must pair inside blocks only:\n$p")
      val all = nodes(df.queryExecution.executedPlan)
      val joinKeys = all.collect {
        case j: HashJoin => names(j.leftKeys)
        case j: SortMergeJoinExec => names(j.leftKeys)
      }
      assert(joinKeys.contains(key), s"$q: no equi hash join on $key, got $joinKeys:\n$p")
      // both join sides read the one cap window (count over the block key);
      // the physical plan instantiates it once per side
      val windows = all.collect { case w: WindowExec =>
        (names(w.partitionSpec), w.windowExpression.map(_.toString
          .replaceAll("#\\d+L?", "")).mkString) }.distinct
      if (capped) assert(windows.size == 1 && windows.head._1 == key,
        s"$q: want one cap window over $key, got $windows")
      else assert(windows.forall(_._1 != key), s"$q is uncapped, got $windows")
    }
  }

  test("egoSearch acquisitions: global mean-max joins as a broadcast, no extra shuffle") {
    // the KG acquisition needs max(pred_mean) over the whole search space —
    // it must arrive as a broadcast 1-row aggregate, never a sort-merge
    // join or a driver collect, so the op scales to any space size
    val p = plan(SparkEntry.queries("q54_ego_acq")(spark, sfSmall))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"mean-max should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "no shuffle join for the 1-row agg")
    assert(p.contains("erf") || p.toLowerCase.contains("erf"),
      "native erf expression must appear in the plan")
  }

  test("resolveClusters truncates lineage: result plan is constant-size") {
    import spark.implicits._
    // a 16-node chain forces several propagation rounds; without per-round
    // truncation the plan would double each round (the round-2 OOM bug).
    // driverFinishEdges = 0 forces the BSP path — the default would take
    // the round-5 small-graph shortcut and never exercise the loop
    val pairs = (1L until 16L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = graft.text.Dedup.resolveClusters(pairs, driverFinishEdges = 0)
    val nodes = out.queryExecution.logical.collect { case n => n }.size
    assert(nodes <= 10,
      s"resolveClusters leaked lineage across rounds ($nodes logical nodes)")
  }

  test("context assembly: both window passes ride one exchange and one sort") {
    val p = plan(SparkEntry.queries("q89_context_assembly")(spark, sfSmall))
    assert(!p.contains("Join"), s"context assembly must not join:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(exchanges == 1,
      s"context assembly should shuffle exactly once, got $exchanges:\n$p")
    assert(sorts == 1,
      s"cumsum + bounded-collect windows must share one sort, got $sorts:\n$p")
  }

  test("preference pairs: three window expressions, one exchange, one sort, no join") {
    val p = plan(SparkEntry.queries("q90_preference_pairs")(spark, sfSmall))
    assert(!p.contains("Join"), s"preference mining must not join:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(exchanges == 1,
      s"preference mining should shuffle exactly once, got $exchanges:\n$p")
    assert(sorts == 1,
      s"champion/rank/cap windows must share one sort, got $sorts:\n$p")
  }

  test("transcript audit: the groupBy reuses the window's hash distribution — one exchange") {
    val p = plan(SparkEntry.queries("q91_transcript_audit")(spark, sfSmall))
    assert(!p.contains("Join"), s"transcript audit must not join:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"window + per-conv aggregate must share one shuffle, got $exchanges:\n$p")
  }

  test("curriculum shards: assignment is a pure projection — zero exchanges") {
    val p = plan(SparkEntry.queries("q92_curriculum_shards")(spark, sfSmall))
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    assert(!p.contains("Exchange"),
      s"assignment must be a scan-speed projection (boundaries are literals):\n$p")
    assert(!p.contains("Window"), s"no global-sort ntile anti-pattern:\n$p")
  }

  test("chat render: one partial-agg groupBy, no window/sort pass, no join") {
    val p = plan(SparkEntry.queries("q93_chat_render")(spark, sfSmall))
    assert(!p.contains("Join"), s"render must not join:\n$p")
    assert(!p.contains("Window"), s"order restores in-group, not via window:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"render should shuffle exactly once, got $exchanges:\n$p")
  }

  test("FIM: pure projection — zero exchanges, no join, no window") {
    val p = plan(SparkEntry.queries("q94_fim")(spark, sfSmall))
    assert(!p.contains("Join") && !p.contains("Exchange") && !p.contains("Window"),
      s"FIM must be a scan-speed map over the corpus:\n$p")
  }

  test("curation facade: one projection + the digest window only — no join, one exchange") {
    val p = plan(SparkEntry.queries("q68_curation")(spark, sfSmall))
    assert(!p.contains("Join"), s"curate must not join:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1,
      s"curate should shuffle once (the md5 keeper window), got $exchanges:\n$p")
  }

  test("line dedup: equi joins only, reassembly aggregates after the frequency pass") {
    val p = plan(SparkEntry.queries("q65_line_dedup")(spark, sfSmall))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line dedup must stay equi-join shaped:\n$p")
  }

  test("bucketed tables co-locate the join: sort-merge join with ZERO exchanges") {
    import spark.implicits._
    val a = (0 until 500).map(i => (s"c${i % 50}", i.toLong)).toDF("conv_id", "x")
    val b = (0 until 200).map(i => (s"c${i % 50}", i * 2.0)).toDF("conv_id", "y")
    graft.sources.Bucketed.write(a, "audit_bkt_a", buckets = 8, Seq("conv_id"))
    graft.sources.Bucketed.write(b, "audit_bkt_b", buckets = 8, Seq("conv_id"))
    // disable broadcast so the co-location property itself is what's tested
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = graft.sources.Bucketed.read(spark, "audit_bkt_a")
        .join(graft.sources.Bucketed.read(spark, "audit_bkt_b"), "conv_id")
      j.collect() // finalize the adaptive plan
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
    } finally {
      spark.sql("DROP TABLE IF EXISTS audit_bkt_a")
      spark.sql("DROP TABLE IF EXISTS audit_bkt_b")
    }
  }

  test("top n-grams: rank window runs over the aggregated counts, not raw grams") {
    val df = SparkEntry.queries("q69_top_ngrams")(spark, sfSmall)
    val p = plan(df)
    // partial aggregation before the shuffle proves the count groupBy is
    // map-side combined; the window must sit above that aggregate
    assert(p.contains("partial_count"), s"gram counts must partial-agg:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("chunking (q75) and BPE encode (q78) are pure projections: zero exchanges, no join") {
    Seq("q75_chunk_overlap", "q78_bpe_encode").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sfSmall))
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
  }

  test("duplicate spans: window hashes travel as a semi join, never a cartesian") {
    val p = plan(SparkEntry.queries("q72_dup_spans")(spark, sfSmall))
    assert(p.contains("LeftSemi"), s"expected a semi join on the dup hashes:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dup spans must stay equi-join shaped:\n$p")
    assert(p.contains("partial_count"), s"hash counts must partial-agg:\n$p")
  }

  test("quality gram: ONE aggregation pass, partial map-side, no row explosion") {
    val df = SparkEntry.queries("q77_quality_gram")(spark, sfSmall)
    val p = plan(df)
    // the ONLY Generate is the final unpack of the single aggregated row
    // to (i,j,s) rows — plans print top-down, so it must sit ABOVE the
    // aggregate; a per-doc pair explosion would put it below
    assert("Generate".r.findAllIn(p).size === 1, s"one unpack explode only:\n$p")
    assert(p.indexOf("Generate") < p.indexOf("HashAggregate"),
      s"explode must unpack the aggregate, not feed it:\n$p")
    assert(p.contains("partial_sum"), s"gram sums must partial-agg:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("DSIR weights: lambda table broadcasts; per-doc sums partial-agg") {
    val df = SparkEntry.queries("q74_dsir_weights")(spark, sfSmall)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-lambda join must broadcast:\n$p")
    assert(p.contains("partial_"), s"doc sums must partial-agg:\n$p")
  }

  test("IVF-PQ: probe join stays an equi hash join; no cartesian anywhere") {
    val p = plan(SparkEntry.queries("q81_ivfpq_topk")(spark, sfSmall))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ must never cross-join:\n$p")
    assert(p.contains("Join"), s"expected the list-id probe join:\n$p")
  }

  test("token drift: one corpus explode, partial aggs at every level, stratum totals broadcast") {
    val df = SparkEntry.queries("q82_token_drift")(spark, sfSmall)
    val p = plan(df)
    // the plan STRING reprints the cached count table's build plan (with its
    // one Generate) per consumer — walk the tree instead: InMemoryTableScan
    // is a LEAF, so any Generate collected here would be a second, uncached
    // corpus explode
    val liveGenerates = df.queryExecution.executedPlan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.size
    assert(liveGenerates === 0,
      s"all token counts must read the one cached explode:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"count table must be served from cache:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"count table must partial-agg:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-stratum totals must broadcast back:\n$p")
  }

  test("shard balancing: no global sort — the only window partitions by bucket") {
    val df = SparkEntry.queries("q83_shard_balanced")(spark, sfSmall)
    val p = plan(df)
    // a single-partition Exchange (global row_number) would appear as
    // Exchange SinglePartition; the balancer must only hash-partition
    assert(!p.contains("SinglePartition"),
      s"global-order anti-pattern in shard balancer:\n$p")
    assert(p.contains("hashpartitioning(bucket"),
      s"rank window must partition by bucket:\n$p")
  }

  test("per-domain cap: rank filter becomes a group-limit (mega-domain rows pruned map-side)") {
    val p = plan(SparkEntry.queries("q86_url_curation")(spark, sfSmall))
    // InferWindowGroupLimit rewrites row_number <= cap into a per-partition
    // top-k BEFORE the shuffle — the property that makes the cap survive a
    // mega-domain at 100 TB
    assert(p.contains("WindowGroupLimit"),
      s"rank<=cap must plan as a group limit:\n$p")
    assert(!p.contains("SinglePartition"),
      s"domain window must hash-partition:\n$p")
  }

  test("oov rate: vocab joins broadcast; per-doc sums partial-agg") {
    val p = plan(SparkEntry.queries("q87_oov_rate")(spark, sfSmall))
    assert(p.contains("BroadcastHashJoin"),
      s"bounded vocab must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc sums must partial-agg:\n$p")
  }

  test("bloom incremental: might_contain prefilters batch before every corpus join") {
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    graft.text.Dedup.withCache {
      val out = graft.text.Dedup.dedupIncrementalBloom(
        docs.where(pmod(col("doc_id"), lit(7L)) === 0),
        docs.where(pmod(col("doc_id"), lit(7L)) =!= 0),
        "doc_id", "text", col("lang"), threshold = 0.7)
      for (o <- Seq(out, bloomIndexedIngest("/tmp/audit_bloom_index"))) {
        val p = plan(o)
        assert(p.contains("might_contain"),
          s"bloom prefilter missing from the plan:\n$p")
        assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
      }
    }
  }

  test("incremental dedup: ONE shared rarity order — prefix/freq cached, zero live explodes") {
    // dedupIncremental runs TWO PPJoin passes (batch×corpus cross + batch
    // self). Round 4 rebuilt the shingle-df table and the ranked prefix
    // window inside each pass; round 5 hoists them into shared cached
    // frames. Pin: the live plan has NO GenerateExec (every shingle explode
    // is inside a cached build) and NO live aggregation producing `df` —
    // i.e. the freq table is computed at most once, at cache-build time.
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    graft.text.Dedup.withCache {
      val out = graft.text.Dedup.dedupIncremental(
        docs.where(pmod(col("doc_id"), lit(5L)) === 0),
        docs.where(pmod(col("doc_id"), lit(5L)) =!= 0),
        "doc_id", "text", col("lang"), threshold = 0.7)
      for (o <- Seq(out, bloomIndexedIngest("/tmp/audit_rarity_index"))) {
        val live = o.queryExecution.executedPlan
        val gens = live.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g }.size
        assert(gens === 0,
          s"shingle explodes must be served from the cached prefix frames:\n$live")
        val freqAggs = live.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            if a.resultExpressions.exists(_.name == "df") => a }.size
        assert(freqAggs === 0,
          s"the rarity order must come from the ONE cached freq table:\n$live")
        assert(live.toString.contains("InMemoryTableScan"),
          "prefix frames must be served from cache")
        assert(o.count() > 0)
      }
    }
  }

  test("interval join (q95): equi hash join with range residual — never a theta/BNLJ") {
    val p = plan(SparkEntry.queries("q95_interval_join")(spark, sfSmall))
    assert(p.contains("HashJoin"), s"interval join must hash on the key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range residual must ride the equi join, not a nested loop:\n$p")
  }

  test("CMS (q96): sketch broadcasts to the estimate join; counters partial-agg") {
    val p = plan(SparkEntry.queries("q96_cms_heavy")(spark, sfSmall))
    assert(p.contains("BroadcastHashJoin"),
      s"the depth x width sketch must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"sketch build must combine map-side:\n$p")
  }

  test("winnowing (q97): pure projection + explode — zero exchanges, no join") {
    val p = plan(SparkEntry.queries("q97_winnowing")(spark, sfSmall))
    assert(!p.contains("Exchange"), s"winnowing must not shuffle:\n$p")
    assert(!p.contains("Join"), s"winnowing must not join:\n$p")
  }

  test("HLL (q99): both aggregations partial; constant register fan-in") {
    val p = plan(SparkEntry.queries("q99_hll_distinct")(spark, sfSmall))
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"register maxima must combine map-side:\n$p")
    assert(!p.contains("Join"), s"HLL must not join:\n$p")
  }

  test("turn repair (q100): ONE exchange feeds segment window, merge groupBy and reindex") {
    val df = SparkEntry.queries("q100_turn_repair")(spark, sfSmall)
    df.collect() // finalize adaptive plan
    // count in the final plan only — the AQE string repeats the exchange
    // under "== Initial Plan =="
    val p = plan(df).split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"repair should shuffle exactly once, got $exchanges:\n$p")
  }

  test("blocklist (q101): pure projection — zero exchanges, no join, literal lists") {
    val p = plan(SparkEntry.queries("q101_blocklist")(spark, sfSmall))
    assert(!p.contains("Exchange"), s"blocklist must not shuffle:\n$p")
    assert(!p.contains("Join"), s"blocklist must not join:\n$p")
  }

  test("blocklist join path (q109): term joins broadcast; no cartesian/BNLJ") {
    val p = plan(SparkEntry.queries("q109_blocklist_join")(spark, sfSmall))
    assert(p.contains("BroadcastHashJoin"),
      s"term lists must broadcast to the token probes:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phrase verify must ride the banded equi join, never |docs|x|phrases|:\n$p")
  }

  test("tool-call audit (q98): one scan, one partial-agg'd aggregation, no join") {
    val df = SparkEntry.queries("q98_tool_args")(spark, sfSmall)
    val p = plan(df)
    assert(p.contains("partial_"), s"audit must combine map-side:\n$p")
    assert(!p.contains("Join"), s"audit must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"audit must read events exactly once:\n$p")
  }

  test("search-layer sums: one packed aggregate whatever d or the candidate chunk size") {
    import graft.expr.{Gram, Scoring}
    val df = spark.range(64).select((0 until 40).map(i =>
      (col("id") * (i + 1) % 17).cast("double").as(s"x$i")): _*)
    val z = (d: Int) => (0 until d).map(i => col(s"x$i")) :+ lit(1.0)
    val fold = Some(pmod(col("x0"), lit(3.0)).cast("int"))
    val weights = (0 until 16).map(b => col(s"x$b"))
    val grams = Seq(Gram.sums(df, z(4)), Gram.sums(df, z(40)),
      Gram.sums(df, z(4), key = fold), Gram.sums(df, z(40), key = fold),
      Gram.sums(df, z(4), weights), Gram.sums(df, z(40), weights))
    assert(grams.map(aggs) === Seq.fill(6)(2), "the row count and the packed sums")
    val cands = (n: Int) => (0 until n).map(i => col(s"x${i % 40}") * lit(i.toDouble))
    val scores = Seq(8, 128).map(n => Scoring.sums(df, col("x0"), cands(n)))
    assert(scores.map(aggs) === Seq(1, 1), "the packed sums")
    // both are partial aggregations, map-side combined before the shuffle
    for (p <- (grams ++ scores).map(plan))
      assert("ObjectHashAggregate".r.findAllIn(p).size == 2 && p.contains("partial_"), p)
  }

  test("binned MI grid pass: one count whatever d, partial before the shuffle") {
    import graft.search.Corr
    val df = spark.range(64).select((0 until 10).map(i =>
      (col("id") * (i + 1) % 17).cast("double").as(s"x$i")): _*)
    for (d <- Seq(4, 10)) {
      val grid = Corr.gridCounts(df, (0 until d).map(i => s"x$i"), bins = 4)
      assert(aggs(grid) === 1, s"d=$d")
      val p = plan(grid)
      assert("partial_count".r.findAllIn(p).size == 1 && "Exchange".r.findAllIn(p).size == 1, p)
    }
  }

  test("a cached frame is sized to its data: 2,048 aggregated rows cache as one partition") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.expr.Gram
    val m = spark.range(8192).groupBy((col("id") % 2048).as("k"))
      .agg(sum(col("id")).cast("double").as("s"), count(lit(1)).cast("double").as("c"))
      .cache()
    try {
      assert(m.count() === 2048)
      // the cache fill is coalesced like any final stage, not kept at the
      // session's 4 shuffle partitions
      assert(m.rdd.getNumPartitions === 1)
      // one partial-aggregate task per partition of its input
      val g = Gram.sums(m, Seq(col("s"), col("c"), lit(1.0)))
      g.collect()
      val tasks = new AdaptiveSparkPlanHelper {}.collect(g.queryExecution.executedPlan) {
        case a: BaseAggregateExec if a.aggregateExpressions.forall(_.mode == Partial) =>
          a.child.execute().getNumPartitions
      }
      assert(tasks === Seq(1))
      assert(Gram.build(m, Seq(col("s"), col("c"), lit(1.0))).head._2.head.n === 2048)
    } finally m.unpersist()
  }
}
