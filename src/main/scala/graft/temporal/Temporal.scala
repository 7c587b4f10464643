package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** Point-in-time feature operators: backward as-of join, sessionization,
  * backfill, lag/lead/rolling descriptors.
  *
  * Zero-leakage invariant (BASELINE.json north_rule): every window frame ends
  * at the current row; the as-of join only ever surfaces right-side rows with
  * `ts <= left.ts` (tiebreak `turn_idx`). Property-tested in TemporalSpec.
  *
  * Scale notes: all operators are single-shuffle. `asofJoin` is implemented
  * as a union + partitioned sort + running `last(ignoreNulls)` — exactly the
  * sort-merge-within-partition plan the north star asks for, expressed
  * declaratively so Catalyst/AQE own partition sizing and skew splitting.
  * A conversation lands in one task; mega-conversation skew is handled by
  * AQE skew-join plus the salted repartition helpers in [[Skew]].
  */
object AsOf {

  /** Backward as-of join: for each left row, attach the payload of the
    * latest right row with the same `key` and `rightTs <= leftTs`; among
    * right rows at the identical timestamp the greatest `tiebreak` wins.
    * Left rows with no admissible right row get a null payload (never a
    * future row — zero temporal leakage).
    *
    * Plan shape: both sides are projected to a common schema and unioned;
    * one hash-shuffle on `key`; within each partition rows are sorted by
    * (ts, side, tiebreak) with right-before-left at equal ts (inclusive
    * bound); a running `last(payload, ignoreNulls=true)` propagates the most
    * recent snapshot forward. One shuffle total — cheaper than the
    * join-then-filter-then-argmax plan (two shuffles + an exploding
    * intermediate) and never materializes a left×right blowup.
    *
    * @param left      probe side (entity timestamps)
    * @param right     snapshot side
    * @param key       join key column name present on both sides
    * @param leftTs    timestamp column on `left`
    * @param rightTs   timestamp column on `right`
    * @param tiebreak  ordering column on `right` for identical timestamps
    * @param payload   right columns to carry; emitted under the same names
    * @param leftTie   optional ordering column on `left` used as its tie
    *                  value (e.g. turn_idx); purely an output-order refinement
    *                  — join semantics don't depend on it because __side
    *                  already orders right-before-left at equal ts
    * @param keepOrder keep the internal __ts/__side/__tie columns so
    *                  downstream window operators can order by EXACTLY the
    *                  same keys and Catalyst elides their sort (one sort for
    *                  the whole point-in-time pipeline)
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      tiebreak: String,
      payload: Seq[String],
      leftTie: Option[String] = None,
      keepOrder: Boolean = false
  ): DataFrame = {
    val w = Window
      .partitionBy(col(key))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = tagged(left, right, key, leftTs, rightTs, tiebreak, payload, leftTie)
      .withColumn("__snap", last(col("__payload"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)

    restore(filled, left, leftTs, payload, col("__snap"),
      if (keepOrder) orderCols.map(col) else Nil)
  }

  /** The union both as-of joins merge over: (key, left columns but the
    * timestamp, `__ts`, `__side`, `__tie`, `__payload`), left rows with
    * `__side` 1 and a null payload, right rows with `__side` 0.
    */
  private def tagged(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      tiebreak: String,
      payload: Seq[String],
      leftTie: Option[String]
  ): DataFrame = {
    val leftCols = left.columns
    require(payload.forall(!leftCols.contains(_)),
      s"as-of payload columns ${payload.filter(leftCols.contains)} collide with left columns")
    val payloadStruct = struct(payload.map(col): _*)

    // the left timestamp IS __ts — shuffling it twice would add a redundant
    // 12-byte field to every unioned row; it is restored from __ts after the
    // merge (right rows null it out anyway)
    val carried = leftCols.filterNot(c => c == key || c == leftTs)
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1)) // left AFTER right at equal ts => inclusive
      // long, not int: tiebreaks are event/turn ids — at 10^12-turn scale an
      // int cast would CAST_OVERFLOW under ANSI mode
      .withColumn("__tie",
        leftTie.map(c => col(c).cast("long")).getOrElse(lit(Long.MaxValue)))
      .withColumn("__payload", lit(null).cast(
        right.select(payloadStruct).schema.head.dataType))

    val r = right
      .select((col(key).as(key) +: Seq(
        col(rightTs).as("__ts"),
        lit(0).as("__side"),
        col(tiebreak).cast("long").as("__tie"),
        payloadStruct.as("__payload")
      )) ++ carried.map(c => lit(null).cast(
        left.schema(c).dataType).as(c)): _*)

    val cols = (key +: carried).map(col) ++
      Seq(col("__ts"), col("__side"), col("__tie"), col("__payload"))
    l.select(cols: _*).unionByName(r.select(cols: _*))
  }

  /** `left`'s columns (the timestamp back from `__ts`), each payload field
    * of the resolved snapshot struct `snap`, then `keep`.
    */
  private def restore(
      merged: DataFrame,
      left: DataFrame,
      leftTs: String,
      payload: Seq[String],
      snap: Column,
      keep: Seq[Column]
  ): DataFrame = {
    val restored = left.columns.map(c =>
      if (c == leftTs) col("__ts").cast(left.schema(leftTs).dataType).as(leftTs)
      else col(c))
    merged.select(restored ++ payload.map(p => snap.getField(p).as(p)) ++ keep: _*)
  }

  /** The ordering columns emitted under `keepOrder = true`; window operators
    * downstream of the as-of join should order by exactly these to reuse its
    * sort.
    */
  val orderCols: Seq[String] = Seq("__ts", "__side", "__tie")

  /** Skew-capped backward as-of join (SURVEY §7.4 point 6): identical
    * semantics to [[asofJoin]], but a single mega-conversation can no longer
    * pin one task. Each key is split into fixed time buckets:
    *
    *  1. within-(key, bucket) running merge — the same union+window pass,
    *     but partitioned by (key, bucket), so the largest task is bounded by
    *     bucket width, not conversation length;
    *  2. per-(key, bucket) boundary summary: the latest admissible snapshot
    *     in the bucket (ONE row per bucket — tiny);
    *  3. carry-ins: running `last` over the bucket summaries per key (a
    *     window over #buckets rows per key — no skew by construction);
    *  4. join carry-ins back on (key, bucket); rows with no within-bucket
    *     snapshot take the carry-in. Never a future value: carry-in b only
    *     aggregates buckets < b.
    *
    * Output is row-identical to [[asofJoin]] (property-tested).
    */
  def asofJoinSkewCapped(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      tiebreak: String,
      payload: Seq[String],
      bucketSeconds: Long
  ): DataFrame = {
    val unioned = tagged(left, right, key, leftTs, rightTs, tiebreak, payload, None)
      .withColumn("__bucket", floor(unix_micros(col("__ts").cast("timestamp")) /
        lit(bucketSeconds * 1000000L)))

    // 1. within-bucket running last (bounded task size)
    val wInner = Window.partitionBy(col(key), col("__bucket"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inner = unioned.withColumn("__snap",
      last(col("__payload"), ignoreNulls = true).over(wInner))

    // 2+3. bucket summaries and running carry-ins (tiny per key)
    val summaries = unioned
      .where(col("__payload").isNotNull)
      .groupBy(col(key), col("__bucket"))
      .agg(max_by(col("__payload"), struct(col("__ts"), col("__tie")))
        .as("__bucket_last"))
    // carry-ins must exist for EVERY bucket a left row occupies, not only
    // buckets containing snapshots — build from the distinct bucket set
    val allBuckets = unioned.select(col(key), col("__bucket")).distinct()
    val wCarryAll = Window.partitionBy(col(key)).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryAll = allBuckets
      .join(summaries, Seq(key, "__bucket"), "left")
      .withColumn("__carry",
        last(col("__bucket_last"), ignoreNulls = true).over(wCarryAll))
      .select(col(key), col("__bucket"), col("__carry"))

    // 4. resolve: within-bucket snap, else carry-in
    val resolved = inner
      .join(carryAll, Seq(key, "__bucket"), "left")
      .where(col("__side") === 1)
    restore(resolved, left, leftTs, payload,
      coalesce(col("__snap"), col("__carry")), Nil)
  }
}

object Sessionize {

  /** Gap-based sessionization: a new session starts when the time since the
    * previous row in the same partition exceeds `gapSeconds`. session_idx is
    * 0-based and monotone within the partition; session_id is globally
    * unique as (key, session_idx).
    *
    * Single shuffle (one window partition pass); the cumulative sum never
    * looks ahead — leakage-free by construction.
    */
  def byGap(
      df: DataFrame,
      key: String,
      ts: String,
      order: Seq[String],
      gapSeconds: Long
  ): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order.map(col): _*)
    // integer microsecond arithmetic: exact, and identical to the DuckDB
    // oracle's epoch_us() — no sub-second truncation mismatch
    // cast handles TIMESTAMP_NTZ parquet columns (session tz is UTC)
    val tsUs = unix_micros(col(ts).cast("timestamp"))
    val gap = tsUs - unix_micros(lag(col(ts), 1).over(w).cast("timestamp"))
    val newSess = when(gap.isNull || gap <= gapSeconds * 1000000L, 0).otherwise(1)
    df.withColumn(
      "session_idx",
      sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
  }
}

object Backfill {

  /** Per-partition forward fill: replace nulls with the last preceding
    * non-null value in (key, order) — the reference's per-conversation
    * backfill. Frame ends at the current row: no future value ever leaks.
    */
  def lastNonNull(df: DataFrame, key: String, order: Seq[String], cols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(col(key))
      .orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c + "_filled", last(col(c), ignoreNulls = true).over(w)))
  }
}

object Descriptors {

  def convWindow(key: String, order: Seq[String]): WindowSpec =
    Window.partitionBy(col(key)).orderBy(order.map(col): _*)

  /** lag/lead/rolling descriptor pack over one partitioned order.
    * All rolling frames are (-k, 0] — zero leakage.
    */
  def pack(
      df: DataFrame,
      key: String,
      order: Seq[String],
      valueCol: Column,
      lags: Seq[Int],
      rollingRows: Int,
      rollingPred: Column
  ): DataFrame = {
    val w = convWindow(key, order)
    val wr = w.rowsBetween(-(rollingRows - 1), 0)
    val withLags = lags.foldLeft(df)((d, k) =>
      d.withColumn(s"lag_$k", lag(valueCol, k).over(w)))
    withLags
      .withColumn(s"rolling_cnt_$rollingRows",
        sum(when(rollingPred, 1).otherwise(0)).over(wr))
      .withColumn(s"rolling_sum_$rollingRows", sum(valueCol).over(wr))
  }
}
