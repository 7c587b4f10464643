package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming variants of the temporal operators, for pipelines
  * fed by live transcript streams. The reference is batch-only (SURVEY
  * §2.9); these are the streaming-native expressions of the same semantics:
  *
  *  - gap sessionization → `session_window` (the built-in implements
  *    exactly "merge events closer than gap" with watermark-driven state
  *    eviction — no custom state needed);
  *  - rolling/windowed counts → tumbling/sliding `window` aggregations;
  *  - watermarks bound state so a 10^12-turn stream never accumulates
  *    unbounded sessions.
  *
  * All functions accept batch OR streaming DataFrames (identical plans),
  * which is how they're unit-tested deterministically.
  */
object Streams {

  /** Per-key gap sessions: one row per (key, session) with count + span.
    * On a stream, requires a watermark on `ts` (use [[withWatermark]]).
    */
  def gapSessions(df: DataFrame, key: String, ts: String, gap: String): DataFrame =
    df.groupBy(col(key), session_window(col(ts), gap).as("session"))
      .agg(count(lit(1)).as("n_turns"),
        min(col(ts)).as("first_ts"), max(col(ts)).as("last_ts"))
      .select(col(key), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_turns"),
        col("first_ts"), col("last_ts"))

  /** Sliding windowed event counts per key. */
  def windowedCounts(df: DataFrame, key: String, ts: String,
      window_ : String, slide: String): DataFrame =
    df.groupBy(col(key), window(col(ts), window_, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col(key), col("w.start").as("w_start"), col("w.end").as("w_end"), col("n"))

  def withWatermark(df: DataFrame, ts: String, delay: String): DataFrame =
    df.withWatermark(ts, delay)

  /** Streaming exact dedup on an identity column (e.g. a content hash):
    * `dropDuplicatesWithinWatermark`, so per-key state is EVICTED once the
    * watermark passes — a 10^12-doc stream holds only the in-horizon keys,
    * unlike plain streaming `dropDuplicates` whose state grows forever.
    * Two duplicates farther apart than the watermark delay both survive —
    * the standard bounded-state trade; size `delay` to the dedup horizon.
    * On a batch frame it degrades to plain dropDuplicates semantics.
    */
  def dedupExactStream(df: DataFrame, idCols: Seq[String], ts: String,
      delay: String): DataFrame =
    df.withWatermark(ts, delay).dropDuplicatesWithinWatermark(idCols)

  /** Streaming CURATION — the live-ingest twin of
    * [[graft.text.Curation.curate]]: the same four pure content gates (the
    * identical expressions, via the shared `withGates` — batch and stream
    * can never disagree on gate arithmetic), then exact-dup admission via
    * watermark-bounded digest dedup, then the deterministic split. Emits
    * only ADMITTED rows (append mode can't retract, so there is no `keep`
    * column to flip).
    *
    * Batch/stream semantic deltas, both inherent to streaming: the dup
    * keeper is FIRST-ARRIVAL (batch `curate` keeps the min id), and two
    * duplicates farther apart than `delay` both survive (bounded state).
    * Everything else — gates, split assignment — is bit-identical, and
    * the parity spec replays one corpus through both paths.
    */
  def curateStream(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      ts: String,
      g: graft.text.Curation.Gates,
      delay: String
  ): DataFrame = {
    val gated = graft.text.Curation.withGates(df, idCol, textCol, langCol, g)
      .where(col("g_len") && col("g_rep") && col("g_ent") && col("g_lang"))
      .drop("g_len", "g_rep", "g_ent", "g_lang")
    // digest the SAME text the batch twin digests: the cleaned column when
    // pre-clean gates are on (markup-only duplicates must dedup identically
    // in both paths)
    val digestText =
      if (g.stripMarkup || g.normalize) col("clean_text") else col(textCol)
    dedupExactStream(gated.withColumn("__md5", md5(digestText)),
      Seq("__md5"), ts, delay)
      .drop("__md5")
      .withColumn("split",
        graft.text.Sampling.assignSplit(col(idCol), g.splits))
  }

  /** Streaming NEAR-dedup: drops documents whose SimHash signature
    * (order/repetition-robust) collides with one already seen inside the
    * watermark horizon. Signature equality is the O(1)-state streaming
    * stand-in for the batch banded-hamming pair join ([[graft.text.Dedup
    * .simhashPairs]]).
    *
    * Width matters: the state key is the full `words`×32-bit signature
    * (default 64 bits). At the round-3 width of 16 bits only 65,536
    * signatures existed, so birthday collisions between UNRELATED docs
    * started around ~300 in-horizon documents and each collision silently
    * dropped a distinct doc. At 64 bits the false-drop probability for K
    * in-horizon docs is ≈ K²/2^65 (birthday bound over well-mixed
    * signatures) — ~5·10^-8 at K=10^6, negligible at any horizon a
    * watermark would realistically hold. The remaining documented trade is
    * false NEGATIVES: two near-dups farther apart than the watermark delay
    * both survive, and near-dups whose signatures differ in ≥1 bit are not
    * caught by equality (use the batch pair join for hamming-tolerant
    * dedup).
    */
  def dedupSimhashStream(df: DataFrame, textCol: String, ts: String,
      delay: String, words: Int = 2): DataFrame = {
    val sigCols = (0 until words).map(w => s"__sig$w")
    val withSig = sigCols.zipWithIndex.foldLeft(
      df.withColumn("__sig", graft.text.TextHash.simhashParts(col(textCol), words))) {
      case (d, (c, w)) => d.withColumn(c, element_at(col("__sig"), w + 1))
    }.drop("__sig")
    withSig
      .withWatermark(ts, delay)
      .dropDuplicatesWithinWatermark(sigCols)
      .drop(sigCols: _*)
  }
}

/** Streaming backward as-of enrich: the live-path twin of
  * `graft.temporal.AsOf.asofJoin` — a turn stream is enriched with the
  * latest feature snapshot whose `snap_ts <= turn.ts` (tiebreak on
  * `snap_tie`), via `flatMapGroupsWithState` keyed on `conv_id` with ONE
  * tiny state record per conversation (the newest snapshot seen).
  *
  * Semantics: within a micro-batch, rows merge in exact (ts, side, tie)
  * order — identical to the batch operator. Zero temporal leakage is
  * UNCONDITIONAL: a turn is only ever enriched by a snapshot with
  * `snap_ts <= ts` (equal-ts inclusive), enforced both by the in-batch sort
  * and by an event-time guard against the carried state — a late-arriving
  * turn older than the retained snapshot gets NULL (conservative), never a
  * value from its future. Since state keeps only the newest snapshot, a
  * turn arriving after a NEWER snapshot superseded its admissible one also
  * degrades to NULL, and a snapshot that arrives after a later-event-time
  * turn was emitted cannot retro-enrich it (append mode) — the standard
  * streaming as-of trade, bounded by source ordering/watermarking.
  *
  * State is O(1) per conversation (last snapshot only) — a 10^12-turn
  * stream holds |active conversations| records, not history.
  */
object StreamingAsOf {

  final case class StreamTurn(conv_id: String, turn_idx: Long, ts: java.sql.Timestamp)
  final case class StreamSnap(conv_id: String, snap_ts: java.sql.Timestamp,
      snap_tie: Long, f_vec: Seq[Double])
  final case class Enriched(conv_id: String, turn_idx: Long,
      ts: java.sql.Timestamp, f_vec: Seq[Double])
  /** Internal union row (public: Catalyst codegen instantiates it). */
  final case class Tagged(conv_id: String, us: Long, side: Int,
      tie: Long, turn_idx: Long, ts: java.sql.Timestamp, f_vec: Seq[Double])
  final case class SnapState(us: Long, tie: Long, f_vec: Seq[Double])

  def enrich(
      turns: org.apache.spark.sql.Dataset[StreamTurn],
      snaps: org.apache.spark.sql.Dataset[StreamSnap]
  ): org.apache.spark.sql.Dataset[Enriched] = {
    import turns.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val tagged = turns
      .map(t => Tagged(t.conv_id, us(t.ts), 1, t.turn_idx, t.turn_idx, t.ts, null))
      .unionByName(snaps.map(s =>
        Tagged(s.conv_id, us(s.snap_ts), 0, s.snap_tie, -1L, s.snap_ts, s.f_vec)))
    tagged
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[Tagged],
            state: org.apache.spark.sql.streaming.GroupState[SnapState]) => {
          var cur = state.getOption
          val out = Vector.newBuilder[Enriched]
          // exact batch-operator order: ts, then snapshot-before-turn
          // (inclusive bound), then tiebreak
          rows.toVector.sortBy(r => (r.us, r.side, r.tie)).foreach { r =>
            if (r.side == 0) {
              if (cur.forall(c => r.us > c.us || (r.us == c.us && r.tie > c.tie)))
                cur = Some(SnapState(r.us, r.tie, r.f_vec))
            } else {
              // event-time guard: state carried across batches may be newer
              // than this turn — never enrich from the future
              val admissible = cur.filter(_.us <= r.us)
              out += Enriched(key, r.turn_idx, r.ts, admissible.map(_.f_vec).orNull)
            }
          }
          cur.foreach(state.update)
          out.result().iterator
        })
  }
}

/** Close-on-idle streaming twin of [[graft.temporal.TranscriptAudit]].
  *
  * Live ingest can't see a conversation's end; the production convention is
  * event-time idleness: once a conversation has been silent for `idleGap`
  * (by watermark, not wall clock), it is CLOSED — its audit row is emitted
  * exactly once and its state dropped. State per conversation is O(1)
  * (running counters + the order tail + first/min/max timestamps), so
  * mega-conversations cost constant memory, same as the batch operator.
  *
  * Ordering contract (the same horizon trade documented on the dedup
  * streams): rows are sorted (ts, tie) WITHIN each micro-batch, so the
  * audit is exactly the batch audit whenever delivery is in-order across
  * micro-batches (the parity spec's scenario). A row arriving in a LATER
  * batch than a newer row of the same conversation is counted in arrival
  * order against the running tail — `span_us` stays exact (min/max
  * timestamps), but `n_role_repeats`/`n_ts_ties` then reflect the observed
  * order, which is the only order a bounded-state stream can know. Rows at
  * or below the current watermark never reach the operator at all (Spark's
  * standard late-data filter under `withWatermark`) — size `watermarkDelay`
  * to the delivery skew you must absorb.
  */
object StreamingAudit {

  final case class AuditTurn(conv_id: String, ts: java.sql.Timestamp,
      tie: Long, role: String, text: String)
  /** Internal running state (public: Catalyst instantiates it). */
  final case class AuditState(nTurns: Long, nRepeats: Long, nEmpty: Long,
      nTies: Long, minUs: Long, maxUs: Long, tailUs: Long, tailTie: Long,
      tailRole: String, firstRole: String)
  final case class AuditRow(conv_id: String, n_turns: Long,
      n_role_repeats: Long, n_empty_text: Long, n_ts_ties: Long,
      span_us: Long, first_role: String, last_role: String)

  def auditStream(
      turns: org.apache.spark.sql.Dataset[AuditTurn],
      watermarkDelay: String,
      idleGap: java.time.Duration
  ): org.apache.spark.sql.Dataset[AuditRow] = {
    import turns.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    turns
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, rows: Iterator[AuditTurn],
            state: org.apache.spark.sql.streaming.GroupState[AuditState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(AuditRow(key, s.nTurns, s.nRepeats, s.nEmpty,
              s.nTies, s.maxUs - s.minUs, s.firstRole, s.tailRole))
          } else {
            // batch-operator order within the micro-batch
            var s = state.getOption.orNull
            rows.toVector.sortBy(r => (us(r.ts), r.tie)).foreach { r =>
              val u = us(r.ts)
              s =
                if (s == null)
                  AuditState(1L, 0L, if (isEmpty(r.text)) 1L else 0L, 0L,
                    u, u, u, r.tie, r.role, r.role)
                else
                  AuditState(
                    s.nTurns + 1,
                    // null-safe like the batch audit: null roles never match
                    s.nRepeats + (if (r.role != null && r.role == s.tailRole) 1L else 0L),
                    s.nEmpty + (if (isEmpty(r.text)) 1L else 0L),
                    s.nTies + (if (u == s.tailUs) 1L else 0L),
                    math.min(s.minUs, u), math.max(s.maxUs, u),
                    u, r.tie, r.role, s.firstRole)
            }
            state.update(s)
            // close once the WATERMARK passes last-activity + idleGap;
            // clamp above the current watermark — a conversation whose rows
            // all arrived late would otherwise make this call throw
            state.setTimeoutTimestamp(math.max(
              s.maxUs / 1000L + idleGap.toMillis,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
        })
  }

  private def isEmpty(text: String): Boolean = text == null || text.isEmpty
}

/** Streaming twin of [[graft.stats.Anomaly.rateSpikes]] — the live-ingest
  * rate monitor: per source, event counts per time bucket are z-scored
  * against the trailing closed-bucket history the moment the WATERMARK
  * seals a bucket, so a rogue-crawler burst alarms within one watermark
  * delay of the bucket boundary instead of at the next batch job.
  *
  * Parity doctrine (same as the curation/dedup twins): the z arithmetic is
  * the batch operator's exactly — trailing `window` OBSERVED buckets,
  * exact integer count/sum/sum-of-squares (squares in BigInt: the same
  * overflow-proofing the batch operator gets from DECIMAL), one binary64
  * expression, HALF_UP 6dp round, null z under `minHist` or zero variance
  * — so StreamingSpec can replay one input through both paths and demand
  * identical rows.
  *
  * State per source: the open (unsealed) bucket counts plus at most
  * `window` closed counts — O(window + open buckets) however long the
  * stream runs; sealed buckets leave state immediately.
  */
object StreamingAnomaly {

  final case class RateEvent(src: String, ts: java.sql.Timestamp)
  /** Internal state (public: Catalyst instantiates it). */
  final case class RateState(history: Seq[Long], open: Map[Long, Long])
  final case class SpikeRow(src: String, bucket_ts: java.sql.Timestamp,
      cnt: Long, z: Option[Double], spike: Boolean)

  def rateSpikesStream(
      events: org.apache.spark.sql.Dataset[RateEvent],
      bucketMillis: Long,
      window: Int = 7,
      minHist: Int = 3,
      zThreshold: Double = 3.0,
      watermarkDelay: String = "10 seconds"
  ): org.apache.spark.sql.Dataset[SpikeRow] = {
    require(window >= 2 && minHist >= 2 && minHist <= window,
      s"need 2 <= minHist <= window, got minHist=$minHist window=$window")
    require(bucketMillis > 0, "bucketMillis must be positive")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

    def score(history: Seq[Long], cnt: Long): (Option[Double], Boolean) = {
      val n = history.size
      if (n < minHist) (None, false)
      else {
        val s = history.sum
        val sq = history.foldLeft(BigInt(0))((a, c) => a + BigInt(c) * c)
        val nD = n.toDouble; val sD = s.toDouble; val sqD = sq.doubleValue
        val varN = nD * sqD - sD * sD
        if (!(varN > 0.0)) (None, false)
        else {
          val z = (cnt.toDouble - sD / nD) /
            math.sqrt(varN / (nD * (nD - 1.0)))
          val zr = BigDecimal(z)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (Some(zr), zr >= zThreshold)
        }
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.src)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, rows: Iterator[RateEvent],
            state: org.apache.spark.sql.streaming.GroupState[RateState]) => {
          val prev = state.getOption.getOrElse(RateState(Nil, Map.empty))
          // fold this micro-batch's events into their open buckets
          val open = rows.foldLeft(prev.open) { (m, r) =>
            val b = Math.floorDiv(r.ts.getTime, bucketMillis) * bucketMillis
            m.updated(b, m.getOrElse(b, 0L) + 1L)
          }
          // seal every bucket the watermark has passed, oldest first —
          // each sealed count scores against the history BEFORE it, then
          // joins the history (exactly the batch trailing-frame semantics)
          val wm = state.getCurrentWatermarkMs()
          val (closed, stillOpen) = open.partition(_._1 + bucketMillis <= wm)
          var hist = prev.history
          val out = closed.toSeq.sortBy(_._1).map { case (b, cnt) =>
            val (z, spike) = score(hist.takeRight(window), cnt)
            hist = (hist :+ cnt).takeRight(window)
            SpikeRow(key, new java.sql.Timestamp(b), cnt, z, spike)
          }
          state.update(RateState(hist, stillOpen))
          if (stillOpen.nonEmpty)
            // wake when the watermark can seal the oldest open bucket
            state.setTimeoutTimestamp(math.max(
              stillOpen.keys.min + bucketMillis, wm + 1L))
          else if (state.exists && hist.isEmpty && stillOpen.isEmpty)
            state.remove()
          out.iterator
        })
  }
}
