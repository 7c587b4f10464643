package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining batch assembly: place documents
  * into fixed token-budget training sequences, deterministically, at corpus
  * scale.
  *
  * Scale shape: a single global packing order would serialize the corpus
  * through one task. Instead documents hash into `buckets` independent
  * packing domains (standard distributed packing): each bucket packs its own
  * deterministic sub-order in parallel, and a sequence is identified by
  * (bucket, seq_in_bucket). Bucket count is chosen by the caller so one
  * bucket ≈ one executor-sized slice; packing quality loss vs a global
  * order is negligible when buckets ≫ 1 documents deep.
  *
  * Both the bucket assignment and the within-bucket order come from the
  * cross-engine polynomial hash of the document's OWN id ([[TextHash
  * .polyHash]]) — never an RNG, never a partition index — so the packing is
  * bit-identical at any parallelism, stable under re-runs, and verifiable
  * in any ANSI SQL engine.
  */
object Packing {

  /** Deterministic shuffle order for training-data sequencing: a sortable
    * column derived from the row's own identity + seed. Ordering by it is
    * the distributed, reproducible analog of "shuffle the dataset with seed
    * s" — identical in any engine that reproduces the polynomial hash.
    * Ties (hash collisions) are broken by the identity itself, so the total
    * order is unambiguous.
    */
  def shuffleOrder(identity: Column, seed: Long): Column =
    TextHash.saltedHash(identity, "shuf:" + seed)

  /** Packing domain of a document: the unsalted id hash mod `buckets`. */
  private def idBucket(id: Column, buckets: Int): Column =
    pmod(TextHash.polyHash(id.cast("string")), lit(buckets.toLong))

  /** Concat-then-chunk packing (the GPT-style pretraining layout): within
    * each bucket, documents are concatenated in shuffle order and the token
    * stream is cut into `budget`-sized sequences; a document may straddle a
    * boundary (`crosses` flags it). Exact window-cumsum arithmetic — no
    * sequential scan — so it parallelizes per bucket and the DuckDB oracle
    * reproduces it with the same cumulative sums.
    *
    * Output columns: the input row plus
    *  - `bucket`    — packing domain (hash of id mod buckets)
    *  - `seq_id`    — sequence index within the bucket that the document
    *                  STARTS in (floor(tokens_before / budget))
    *  - `seq_off`   — token offset of the document inside that sequence
    *  - `crosses`   — true when the document spills into the next sequence
    */
  def packChunked(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      budget: Long,
      buckets: Int,
      seed: Long = 42L
  ): DataFrame = {
    val id = col(idCol)
    val w = Window.partitionBy(col("bucket")).orderBy(col("__ord"), id)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("bucket", idBucket(id, buckets))
      .withColumn("__ord", shuffleOrder(id, seed))
      .withColumn("__cum", sum(col(tokensCol)).over(w))
      .withColumn("__before", col("__cum") - col(tokensCol))
      .withColumn("seq_id", floor(col("__before") / budget))
      .withColumn("seq_off", col("__before") - col("seq_id") * budget)
      .withColumn("crosses",
        floor((col("__cum") - 1) / budget) > col("seq_id"))
      .drop("__ord", "__cum", "__before")
  }

  /** Greedy NO-SPLIT packing (instruction-tuning layout: a document never
    * straddles sequences; a bin closes when the next document would not
    * fit). The recurrence is prefix-dependent, so it cannot be a window
    * cumsum — each bucket is packed by a per-group pass (flatMapGroups over
    * the hash bucket: parallel across buckets; memory is bounded by bucket
    * size, so choose `buckets` such that one bucket's (id, ord, tokens)
    * triples fit an executor — the docs themselves are never loaded).
    * Documents larger than `budget` get a sequence of their own, flagged
    * `oversize`.
    *
    * Returns (id, bucket, seq_id, oversize).
    */
  def packGreedy(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      budget: Long,
      buckets: Int,
      seed: Long = 42L
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val id = col(idCol)
    // the hash-collision tiebreak must be the NATIVE-typed id ordering so
    // packGreedy and packChunked agree on the same (df, seed); a string
    // cast would order numeric ids lexicographically. The rank window runs
    // per bucket — the same shuffle the groupByKey needs anyway. The
    // NATIVE-typed id rides through the group pass in a Row (generic over
    // the id type), so the output id column matches the input's (and
    // packChunked's) type exactly — no string cast leaks out.
    val ranked = df.select(
      id.as("id"),
      idBucket(id, buckets).as("bucket"),
      shuffleOrder(id, seed).as("ord"),
      col(tokensCol).cast("long").as("toks"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket")).orderBy(col("ord"), col("id"))).cast("long"))
      .select(col("id"), col("bucket"), col("rank"), col("toks"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", ranked.schema("id").dataType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("seq_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("oversize",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    ranked
      .groupByKey(_.getAs[Long]("bucket"))
      .flatMapGroups { (bucket: Long, rows: Iterator[org.apache.spark.sql.Row]) =>
        var seq = 0L
        var used = 0L
        var first = true
        rows.toVector.sortBy(_.getAs[Long]("rank")).iterator.map { r =>
          val toks = r.getAs[Long]("toks")
          val oversize = toks > budget
          if (!first && (oversize || used + toks > budget)) {
            seq += 1; used = 0L
          }
          first = false
          used += toks
          if (oversize) {
            val s = seq; seq += 1; used = 0L; first = true
            org.apache.spark.sql.Row(r.get(0), bucket, s, true)
          } else org.apache.spark.sql.Row(r.get(0), bucket, seq, false)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF()
  }

  /** Token-balanced output sharding — the writer-side layout op: assign
    * every document to one of `shards` output shards so the shards carry
    * near-equal TOKEN totals (not just row counts; at 100 TB a row-count
    * split leaves 5-10× size skew between shards because document length is
    * heavy-tailed, and downstream training readers stall on the fat shard).
    *
    * Scale shape: a single global size-ordered assignment would serialize
    * the corpus through one sort partition (the global-row_number
    * anti-pattern). Instead documents hash into `buckets` independent
    * balancing domains (the [[packChunked]] doctrine); within each bucket a
    * per-bucket window ranks documents by token count descending and deals
    * them over the shards in SERPENTINE (boustrophedon) order — pass p
    * assigns left-to-right when even, right-to-left when odd, the classical
    * LPT-lite that bounds each bucket's shard imbalance by one maximum
    * document. Summed over buckets the imbalance stays ≤ buckets·max_doc —
    * negligible against shard totals of corpus/shards.
    *
    * Fully deterministic (hash + window, no RNG, no partition index) and
    * ANSI-SQL replayable. Returns the input plus (bucket, shard). The sink
    * shape is `out.repartition(col("shard")).write.partitionBy("shard")` —
    * one balanced directory per shard.
    */
  def shardBalanced(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      shards: Int,
      buckets: Int
  ): DataFrame = {
    require(shards >= 2, "need at least two shards")
    val id = col(idCol)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col(tokensCol).desc, id.asc)
    val rk = col("__rk")
    val pass = floor(rk / shards)
    val pos = pmod(rk, lit(shards.toLong))
    df.withColumn("bucket", idBucket(id, buckets))
      .withColumn("__rk", (row_number().over(w) - 1).cast("long"))
      .withColumn("shard",
        when(pmod(pass, lit(2L)) === 0, pos).otherwise(lit(shards.toLong) - 1 - pos))
      .drop("__rk")
  }

  /** Curriculum (difficulty-ordered) sharding — range-partition the corpus
    * by a score so shard k holds the k-th difficulty band (curriculum
    * learning / length-bucketed batching feeds shards in order).
    *
    * Scale shape: the naive `ntile(n) OVER (ORDER BY score)` serializes
    * 100 TB through ONE sort partition. This is the RangePartitioner
    * doctrine instead: (1) a DETERMINISTIC hash-sample (same keep rule as
    * [[Sampling.keepAtRate]] — no RNG, replayable in any SQL engine) feeds
    * ONE exact-quantile aggregation for the n−1 boundaries (driver-sized:
    * n−1 doubles); (2) assignment is a PURE PROJECTION — shard = count of
    * boundaries the score exceeds — zero shuffles over the corpus, scan
    * speed, trivially codegen'd. Boundaries are rounded to 6 decimals IN
    * the plan (Spark round == DuckDB round, hash-verified by q12) so the
    * comparisons are cross-engine exact. Null scores land in shard 0.
    *
    * Shard populations are balanced to sampling error (±O(1/√sample) per
    * boundary), which is the standard trade — exactness of the SPLIT
    * POINTS is not a training requirement, determinism of the ASSIGNMENT
    * is. Returns the input plus `shard` (0..shards−1, ascending score).
    */
  def curriculumShards(
      df: DataFrame,
      idCol: String,
      scoreCol: Column,
      shards: Int,
      sampleRate: Double,
      salt: String = "curr"): DataFrame = {
    require(shards >= 2, "need at least two shards")
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      s"sampleRate must be in (0,1], got $sampleRate")
    val qs = (1 until shards).map(_.toDouble / shards)
    val boundsRow = df
      .where(Sampling.keepAtRate(col(idCol), sampleRate, salt))
      .agg(transform(graft.stats.WeightedStats.quantiles(scoreCol, qs),
        b => round(b, 6)).as("bs"))
      .head()
    // an empty (or all-null-score) sample yields a NULL quantile array —
    // fail with a diagnosis, not an NPE in the fold below
    require(!boundsRow.isNullAt(0),
      s"curriculum sample is empty at sampleRate=$sampleRate — no rows " +
        "kept or all sampled scores null; raise sampleRate")
    val bounds = boundsRow.getSeq[Double](0)
    val shard = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + coalesce((scoreCol > lit(b)).cast("long"), lit(0L))
    }
    df.withColumn("shard", shard)
  }
}
