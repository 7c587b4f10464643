package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-span operators over documents: duplicate-passage detection (the
  * ExactSubstr family) and overlapping chunking for retrieval pipelines.
  *
  * Both operate on [[TextHash.lowerTokens]] so they share tokenization with
  * the quality/retrieval suite, and both use only cross-engine integer
  * arithmetic — every output is verifiable in ANSI SQL.
  */
object Spans {

  /** Duplicate-PASSAGE spans: maximal runs of `k`-token windows whose
    * window hash occurs at least `minOccurrences` times in the corpus —
    * the distributed approximation of suffix-array exact-substring dedup
    * ("Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022) at k-token granularity: any duplicated substring of
    * ≥ k tokens is covered by ≥ 1 duplicated window, and the merged spans
    * are exactly the maximal duplicated regions at window resolution.
    *
    * Shape (the 100 TB story): tokenize+hash each doc once; ONE explode to
    * (doc, pos, window-hash) rows — O(total tokens), never pairs; the
    * duplicate-hash table is one count aggregation shuffled on the hash
    * (partial-agg map side combines; AQE splits pathological hot hashes,
    * e.g. single-token spam docs); a semi-join (hash-shuffled, id-only
    * payload) marks duplicated positions; and span merging is a per-doc
    * window sessionization on position gaps — the same cumulative-sum
    * shape as gap sessionization, bounded by one doc per group. No step
    * materializes window TEXT: windows travel as one 64-bit hash.
    *
    * Window hash = left fold (acc·131 + tokenHash) mod 2³² over k
    * consecutive [[TextHash.polyHash]] token hashes — rolling-updatable
    * and spellable in plain SQL.
    *
    * Returns (id, span_start, span_end, span_tokens, n_windows) with
    * 1-based inclusive TOKEN indices: span_end = last duplicated window's
    * start + k − 1.
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minOccurrences: Long = 2L
  ): DataFrame = {
    val wins = winHashFrame(df, idCol, textCol, k)
    val dupHashes = wins.groupBy(col("wh"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minOccurrences)
      .select(col("wh"))
    mergeSpans(wins.join(dupHashes, Seq("wh"), "left_semi"), idCol, k)
  }

  /** Cross-table duplicate spans — the GPT-3-style BENCHMARK
    * DECONTAMINATION rule (remove training text sharing any k-gram with an
    * evaluation set; GPT-3 used k=13): maximal spans of `df` windows whose
    * hash occurs anywhere in `ref`. Same shapes as [[duplicateSpans]]
    * except the hash table is `ref`'s distinct window hashes (benchmark-
    * sized, typically broadcastable) and `df` is never self-joined.
    */
  def crossDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ref: DataFrame,
      refTextCol: String,
      k: Int
  ): DataFrame = {
    val wins = winHashFrame(df, idCol, textCol, k)
    val refHashes = winHashFrame(ref.withColumn("__rid", lit(0L)),
      "__rid", refTextCol, k).select(col("wh")).distinct()
    mergeSpans(wins.join(refHashes, Seq("wh"), "left_semi"), idCol, k)
  }

  /** End-to-end decontamination: detect benchmark-overlap spans
    * ([[crossDuplicateSpans]], k=13 is the published GPT-3 rule) and strip
    * them from the training corpus, keeping the surrounding text.
    */
  def decontaminate(
      train: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      k: Int = 13
  ): DataFrame =
    stripSpans(train, idCol, textCol,
      crossDuplicateSpans(train, idCol, textCol, bench, benchTextCol, k))

  /** (id, pos, wh) rows: the rolling window-hash explode shared by the
    * self- and cross-table span detectors. pos is the 1-based start token.
    */
  private[graft] def winHashFrame(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    val th = transform(TextHash.lowerTokens(col(textCol)),
      t => TextHash.polyHash(t))
    val p = df.select(col(idCol).as("id"), th.as("th"))
      .withColumn("nw", size(col("th")) - (k - 1))
    // ONE native pass over the token-hash array ([[graft.functions
    // .WindowHashes]]) instead of k interpreted element_at folds PER
    // WINDOW (k=13 for decontamination — the declarative twin below is
    // what it replaces, spec-pinned value-identical; guide §4)
    p.where(col("nw") > 0)
      .select(col("id"),
        posexplode(graft.functions.WindowHashes(col("th"), k))
          .as(Seq("pos0", "wh")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("wh"))
  }

  /** Declarative HOF twin of the kernel path in [[winHashFrame]] — kept
    * ONLY as the parity-spec reference for [[graft.functions
    * .WindowHashes]].
    */
  private[graft] def winHashFrameDeclarative(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    val th = transform(TextHash.lowerTokens(col(textCol)),
      t => TextHash.polyHash(t))
    val p = df.select(col(idCol).as("id"), th.as("th"))
      .withColumn("nw", size(col("th")) - (k - 1))
    val winHashes = transform(
      sequence(lit(1), greatest(col("nw"), lit(0))),
      i => (0 until k).foldLeft(lit(0L): Column)((acc, j) =>
        pmod(acc * 131L + element_at(col("th"), (i + j).cast("int")),
          lit(TextHash.M))))
    p.where(col("nw") > 0)
      .select(col("id"), posexplode(winHashes).as(Seq("pos0", "wh")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("wh"))
  }

  /** Merge marked window starts into maximal spans: a new span opens
    * whenever the position gap exceeds 1 (the gap-sessionize cumsum).
    */
  private def mergeSpans(dupWins: DataFrame, idCol: String, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    dupWins
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) === 1, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("__span", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("__span"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id").as(idCol), col("span_start").cast("long"),
        col("span_end").cast("long"),
        (col("span_end") - col("span_start") + 1).cast("long")
          .as("span_tokens"),
        col("n_windows"))
  }

  /** Remove token SPANS from documents and reassemble the surviving text —
    * the cleaning half of passage dedup: feed it [[duplicateSpans]] output
    * (or any (id, span_start, span_end) frame; which spans to strip is the
    * caller's policy).
    *
    * Shape: spans aggregate to one array per doc (a doc has FEW spans —
    * group memory is O(spans/doc)); a broadcast-or-shuffle equi join puts
    * them next to the doc row; the strip itself is one projection — a
    * per-position `exists` over the doc's own span array, no token
    * explode, no reassembly aggregation (unlike line dedup, the row never
    * leaves the doc).
    *
    * Returns (id, n_tokens, n_kept, clean_text).
    */
  def stripSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame
  ): DataFrame = {
    val spanArr = spans.groupBy(col(idCol).as("id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    val p = df.select(col(idCol).as("id"),
      TextHash.lowerTokens(col(textCol)).as("tk"))
    p.join(spanArr, Seq("id"), "left")
      .withColumn("__spans",
        coalesce(col("__spans"), array().cast("array<struct<s:long,e:long>>")))
      .withColumn("__keptToks",
        // sequence(1, 0) DESCENDS in Spark — guard the empty doc explicitly
        when(size(col("tk")) === 0,
          array().cast("array<struct<i:long,t:string>>"))
          .otherwise(filter(
            transform(sequence(lit(1), size(col("tk"))),
              i => struct(i.cast("long").as("i"),
                element_at(col("tk"), i.cast("int")).as("t"))),
            pos => !exists(col("__spans"),
              sp => pos.getField("i") >= sp.getField("s") &&
                pos.getField("i") <= sp.getField("e")))))
      .select(col("id").as(idCol),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("__keptToks")).cast("long").as("n_kept"),
        array_join(transform(col("__keptToks"), p => p.getField("t")), " ")
          .as("clean_text"))
  }

  /** End-to-end passage dedup: detect duplicated `k`-token spans
    * ([[duplicateSpans]]) and strip them from EVERY document (the
    * aggressive variant of Lee et al.'s ExactSubstr — production pipelines
    * that keep one canonical copy do so with a global occurrence order;
    * stripping all copies trades a little text for never needing one).
    */
  def dedupPassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minOccurrences: Long = 2L
  ): DataFrame =
    stripSpans(df, idCol, textCol,
      duplicateSpans(df, idCol, textCol, k, minOccurrences))

  /** Overlapping token chunking — the retrieval/embedding-pipeline shape
    * (split every document into `chunkTokens`-token windows that overlap
    * by `overlap` tokens, e.g. 256/32 for a RAG index).
    *
    * Pure per-row projection: sequence + slice + posexplode, zero
    * shuffles, fully codegen — a 100 TB corpus chunks at scan speed. The
    * last chunk is the remainder (≥ 1 token, ≤ chunkTokens); a document
    * shorter than one chunk yields exactly one chunk; an empty document
    * yields none. Chunk boundaries depend only on the doc's own tokens —
    * deterministic at any parallelism.
    *
    * Returns (id, chunk_idx 0-based, tok_start 1-based, n_chunk_tokens,
    * chunk_text).
    */
  def chunkOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlap: Int
  ): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got $chunkTokens/$overlap")
    val stride = chunkTokens - overlap
    val p = df.select(col(idCol).as("id"),
      TextHash.lowerTokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")))
    // number of chunks: 1 + ceil((n - chunkTokens)/stride) for n > chunk
    val nChunks = when(col("n") <= 0, lit(0))
      .when(col("n") <= chunkTokens, lit(1))
      .otherwise(ceil((col("n") - lit(chunkTokens)).cast("double") / stride)
        .cast("int") + 1)
    p.withColumn("nc", nChunks)
      .where(col("nc") > 0)
      .select(col("id"), col("tk"), col("n"),
        posexplode(sequence(lit(0), col("nc") - 1)).as(Seq("__i", "chunk_idx")))
      .withColumn("tok_start", col("chunk_idx") * stride + 1)
      .withColumn("chunk", slice(col("tk"), col("tok_start"), lit(chunkTokens)))
      .select(col("id").as(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("tok_start").cast("long").as("tok_start"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }
}
