package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Transcripts
import graft.lake.IcebergLite
import graft.temporal.{AsOf, Backfill, Descriptors, Sessionize}

/** The north-star workload: the SURVEY §7.2 minimum slice run end-to-end at
  * benchmark scale — backward as-of join of feature snapshots to every turn,
  * lag/rolling descriptors, gap sessionization, per-conversation backfill,
  * written to an Iceberg-lite table with lineage + metrics.
  *
  * Input is synthesized deterministically (pure hash of indices), so the
  * exact same rows exist at any parallelism level — the requirement for the
  * N vs 4N scaling-efficiency evidence.
  */
object Flagship {

  /** Synthesize + persist the benchmark input once (idempotent). */
  def ensureData(spark: SparkSession, base: String, nConvs: Long): (String, String) = {
    val tPath = s"$base/transcripts_$nConvs"
    val sPath = s"$base/snapshots_$nConvs"
    // BOTH writes must have completed: a run killed between them would leave
    // transcripts/_SUCCESS satisfied with snapshots missing/partial
    def done(p: String) = new java.io.File(p + "/_SUCCESS").exists()
    if (!done(tPath) || !done(sPath)) {
      val t = Transcripts.synthesize(spark, nConvs)
      t.write.mode("overwrite").parquet(tPath)
      Transcripts.snapshots(spark.read.parquet(tPath))
        .write.mode("overwrite").parquet(sPath)
    }
    (tPath, sPath)
  }

  /** The feature pipeline (no action).
    *
    * Shuffle-volume discipline — every byte of every row rides the as-of
    * union shuffle AND the shared window sort, so wide columns are slimmed
    * BEFORE it and restored after the last window:
    *
    *  - `text` (the corpus) is reduced to `text_len` at the scan — at
    *    100 TB this is the difference between shuffling feature rows and
    *    shuffling the corpus;
    *  - `role`/`tool` are dictionary-encoded to their 1-based index
    *    (avg ~18 bytes → 8; UnsafeRow gives every numeric field a flat
    *    8-byte slot, strings cost 8 + padded payload). Decoding is
    *    `element_at` on a literal array — a branch + pointer share, no
    *    per-row allocation.
    *
    * `conv_id` is deliberately NOT re-encoded to a long, although that
    * would shave another 16 bytes and make the sort key prefix-comparable:
    * an interleaved in-JVM A/B (4 paired rounds, 26M turns, local[8],
    * tmpfs shuffle) measured conv-encoding at −25% throughput — the decode
    * must re-materialize 26M strings (cast + lpad + concat allocations)
    * that the unencoded plan simply carries by pointer, and on a
    * single-box tmpfs shuffle the 16-byte/row saving is a memcpy rounding
    * error. Dictionary-only beat conv+dict AND unencoded in every paired
    * round (steady medians 1019k vs 777k vs 995k turns/s). On a real
    * cluster with network shuffle + compression the byte saving may argue
    * the other way.
    *
    * Output is value-identical to the unencoded plan (TemporalSpec
    * round-trip). Assumes the Transcripts contract: role/tool drawn from
    * `Transcripts.roles`/`Transcripts.tools` (unknown values fail loudly
    * at decode under ANSI).
    */
  def pipeline(t: DataFrame, snaps: DataFrame): DataFrame =
    pipelineImpl(t, snaps, encodeDict = true)

  /** The composition, with or without the role/tool dictionary encoding. */
  private def pipelineImpl(
      t: DataFrame, snaps: DataFrame, encodeDict: Boolean): DataFrame = {
    val rolesArr = array(Transcripts.roles.map(lit): _*)
    val toolsArr = array(Transcripts.tools.map(lit): _*)
    val toolRole = Transcripts.roles.indexOf("tool") + 1
    val roleCol = if (encodeDict) "__role" else "role"
    val toolCol = if (encodeDict) "__tool" else "tool"
    val narrow0 = t.withColumn("text_len", length(col("text")).cast("double"))
      .drop("text")
    val narrow =
      if (encodeDict)
        narrow0
          .withColumn("__role", array_position(rolesArr, col("role")).cast("byte"))
          .withColumn("__tool", array_position(toolsArr, col("tool")).cast("byte"))
          .drop("role", "tool")
      else narrow0

    // keepOrder + leftTie=turn_idx: every window below orders by the as-of
    // join's own sort keys, so the whole pipeline runs on ONE sort
    val joined = AsOf.asofJoin(
      narrow, snaps,
      key = "conv_id", leftTs = "ts", rightTs = "snapshot_ts",
      tiebreak = "snap_turn_idx", payload = Seq("f_vec"),
      leftTie = Some("turn_idx"), keepOrder = true)
    val ord = AsOf.orderCols
    val sessioned = Sessionize.byGap(joined, "conv_id", "ts", ord, 1800L)
    val filled = Backfill.lastNonNull(sessioned, "conv_id", ord, Seq(toolCol))
    val rollPred =
      if (encodeDict) col("__role") === lit(toolRole) else col("role") === "tool"
    val packed = Descriptors.pack(
      filled, "conv_id", ord,
      col("text_len"), lags = Seq(1, 2),
      rollingRows = 10, rollingPred = rollPred)
    val decoded =
      if (encodeDict)
        // the isNotNull guards are load-bearing: Spark 4.1.2's element_at
        // treats a NULL index as -1 (returns the LAST element, not null)
        // once the column has been through the shuffle — caught by
        // TemporalSpec's round-trip test (null tool decoded as "browse")
        packed
          .withColumn("role", when(col("__role").isNotNull,
            element_at(rolesArr, col("__role").cast("int"))))
          .withColumn("tool", when(col("__tool").isNotNull,
            element_at(toolsArr, col("__tool").cast("int"))))
          .withColumn("tool_filled", when(col("__tool_filled").isNotNull,
            element_at(toolsArr, col("__tool_filled").cast("int"))))
          .drop("__role", "__tool", "__tool_filled")
      else packed
    decoded
      .drop(ord: _*)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("ts"), col("text_len"), col("f_vec"), col("session_idx"),
        col("tool_filled"), col("lag_1"), col("lag_2"),
        col("rolling_cnt_10"), col("rolling_sum_10"))
  }

  /** The same composition WITHOUT any encoding (string keys ride the
    * shuffle). The value-parity reference for the round-trip spec.
    */
  def pipelineUnencoded(t: DataFrame, snaps: DataFrame): DataFrame =
    pipelineImpl(t, snaps, encodeDict = false)

  /** Run the full job including the Iceberg-lite write; returns (rows,
    * elapsedMs, turns/sec).
    */
  def run(spark: SparkSession, tPath: String, sPath: String, outRoot: String,
      nBuckets: Int = 32): (Long, Long, Double) = {
    val t0 = System.currentTimeMillis()
    val out = pipeline(spark.read.parquet(tPath), spark.read.parquet(sPath))
    // bucket via Spark's own murmur3 hash: when shuffle.partitions ==
    // nBuckets the rows arrive at the writer ALREADY grouped by bucket
    // (HashPartitioning uses the same pmod(hash, n)), so the dynamic
    // partitionBy write emits one file per task instead of tasks×buckets.
    val snap = IcebergLite.writeTable(
      out, outRoot, hash(col("conv_id")), nBuckets,
      s"flagship asof+window pipeline over $tPath")
    val rows = snap.partitions.values.map(_.rows).sum
    val ms = System.currentTimeMillis() - t0
    val tps = rows * 1000.0 / math.max(ms, 1)
    IcebergLite.appendMetrics(outRoot,
      s"""{"job":"flagship","rows":$rows,"durationMs":$ms,"turnsPerSec":${tps.toLong}}""")
    (rows, ms, tps)
  }
}
