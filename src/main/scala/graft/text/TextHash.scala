package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-reproducible text hashing primitives.
  *
  * Everything here is plain integer arithmetic on code points, chosen so the
  * EXACT same values are computable in ANSI SQL (the DuckDB oracle): no
  * engine-private hash functions in any operator whose output must be
  * verified cross-engine. All mods keep intermediates < 2^45 — ANSI-safe.
  */
object TextHash {

  val M: Long = 1L << 32

  /** Polynomial rolling hash of a string: left fold of h*31 + codepoint
    * (mod 2^32), identical fold order in the SQL oracle's `list_reduce`.
    * Implemented as a native kernel
    * ([[graft.functions.PolyHash]]) — one generated loop per row instead of
    * a per-character higher-order-function chain. Empty/null hash to 0.
    */
  def polyHash(s: Column): Column =
    coalesce(graft.functions.PolyHash(s), lit(0L))

  /** [[polyHash]] of `identity:salt` — the one hash every deterministic
    * sample, split, shuffle order and sketch cell draws from.
    */
  def saltedHash(identity: Column, salt: String): Column =
    polyHash(concat(identity.cast("string"), lit(":" + salt)))

  private val Micro = 1e6

  /** The quantizer behind every real-valued sum the oracle checks: `x`
    * becomes the long `floor(x·scale + 0.5)` (micro-units by default), so
    * sums are exact, order-free integer sums on any engine at any
    * parallelism. The one divergence left is a last-ulp `ln`/`pow`
    * difference landing exactly on a .5 boundary (~1/scale per term).
    */
  def quantize(x: Column, scale: Double = Micro): Column =
    floor(x * lit(scale) + lit(0.5))

  /** Plain-Scala twin of [[quantize]] at micro-units, for values computed outside a plan. */
  def quantize(x: Double): Long = math.floor(x * Micro + 0.5).toLong

  /** Inverse of [[quantize]] for a (summed) integer: `q / scale`. */
  def dequantize(q: Column, scale: Double = Micro): Column =
    q.cast("double") / lit(scale)

  /** Character n-gram (shingle) array, distinct. */
  def shingles(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(
          sequence(lit(1), length(text) - (n - 1)),
          i => text.substr(i, lit(n))
        )
      ))

  /** Distinct shingle hashes (the set representation used by minhash &
    * jaccard) — hash each n-gram with the cross-engine polynomial hash.
    * Declarative form (quadratic substr seeks); operators use
    * [[sortedShingleHashes]].
    */
  def shingleHashes(text: Column, n: Int): Column =
    array_distinct(transform(shingles(text, n), polyHash _))

  /** SORTED distinct shingle hashes in one native pass ([[graft.functions
    * .SortedShingleHashes]]) — the dedup suite's shared prep kernel; set-
    * and order-identical to `array_sort(shingleHashes(text, n))`
    * (TextSpec pins it), O(len·n) instead of O(len²).
    */
  def sortedShingleHashes(text: Column, n: Int): Column =
    graft.functions.SortedShingleHashes(text, n)

  /** Jaccard similarity of two precomputed distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter).cast("double")
  }

  /** Whitespace tokens (trim + single-space split, empties dropped) —
    * matches `list_filter(string_split(trim(x),' '), ...)` in the oracle.
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Lowercased whitespace tokens — THE tokenization the quality /
    * retrieval / packing oracle parity depends on; every operator must use
    * this single definition (`OracleSqlGen.toks("lower(text)")` is its SQL
    * twin).
    */
  def lowerTokens(text: Column): Column = tokens(lower(text))

  /** MinHash signature: H values, sig_i = min over shingle hashes h of
    * (a_i·h + b_i) mod 2^32, with a_i = 2i+1 (odd), b_i = 97·i+13.
    * Same formula generates the oracle SQL.
    */
  def minhashSig(shingleHashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      val a = 2L * i + 1; val b = 97L * i + 13
      array_min(transform(shingleHashes, h => pmod(h * a + b, lit(M))))
    }: _*)

  /** LSH band keys from a signature: `bands` buckets of `rowsPerBand`
    * signature slots, each band key = fold of its slots (mod 2^32), tagged
    * with the band index so different bands never collide.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val slots = (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
      val folded = slots.foldLeft(lit(b.toLong * 1315423911L % M))((acc, s) =>
        pmod(acc * 131L + s, lit(M)))
      folded
    }: _*)

  /** Xorshift + Knuth multiplicative mix of a 32-bit hash, mod 2^32 — the
    * declarative twin of [[graft.functions.SimHashParts.mix32]] (split
    * multiply keeps every intermediate < 2^49: ANSI-overflow-safe, and the
    * identical closed form is plain BIGINT SQL in `OracleSqlGen.mix32`).
    * Derives the independent upper signature words of the wide SimHash; the
    * xorshift is what breaks the low-bit correlation a pure LCG step keeps.
    */
  def mix32(h: Column): Column = {
    val m = h.bitwiseXOR(shiftright(h, 16))
    val x = pmod(
      pmod(shiftright(m, 16) * 2654435761L, lit(65536L)) * 65536L +
        pmod(m, lit(65536L)) * 2654435761L + 1013904223L,
      lit(M))
    x.bitwiseXOR(shiftright(x, 16))
  }

  /** Production-width SimHash: `words` 32-bit parts (words=2 → 64 bits),
    * one native-codegen pass over the tokens ([[graft.functions
    * .SimHashParts]]). Part 0 votes with [[polyHash]]; part k with k
    * [[mix32]] applications. 32-bit parts keep every downstream op
    * (16-bit band slices, xor, popcount) in non-negative long range on
    * both engines — no 64-bit sign-bit traps.
    */
  def simhashParts(text: Column, words: Int = 2): Column =
    graft.functions.SimHashParts(tokens(text), words)

  /** Declarative fold twin of [[simhashParts]] — HOF-only, used by the
    * parity spec to pin the native expression; O(words·32) array
    * traversals per row, so the native path is the one operators use.
    */
  private[graft] def simhashPartsDeclarative(text: Column, words: Int): Column = {
    val h0 = transform(tokens(text), polyHash _)
    val hashLists = Iterator.iterate(h0)(hs => transform(hs, mix32 _))
      .take(words).toSeq
    array(hashLists.map(hs => simhashOfHashes(hs, 32)): _*)
  }

  /** 32-bit-or-narrower simhash fold over a precomputed token-hash array. */
  private def simhashOfHashes(hashes: Column, bits: Int): Column = {
    val bitSums = (0 until bits).map { b =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(pmod(shiftright(h, b), lit(2L)) === 1L, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.map { case (s, b) =>
      when(s > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash over whitespace tokens with `bits`-bit token hashes:
    * bit b of the simhash is 1 iff Σ_tokens (±1 by token-hash bit b) > 0.
    * Narrow single-value form (bits ≤ 32) — kept for compatibility and
    * tiny-cardinality uses; the dedup operators use [[simhashParts]].
    */
  def simhash(text: Column, bits: Int = 16): Column = {
    val toks = tokens(text)
    val hashes = transform(toks, polyHash _)
    val bitSums = (0 until bits).map { b =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(pmod(shiftright(h, b), lit(2L)) === 1L, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.map { case (s, b) =>
      when(s > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (bit_count of xor). */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** Hashing-trick bag-of-words embedding (feature hashing): dimension
    * j accumulates ±1 per token whose hash lands in bucket j (sign from
    * hash bit 8 — the classic signed hashing trick that keeps collisions
    * unbiased). No vocabulary, no model, deterministic in any engine —
    * the zero-dependency featurizer that feeds [[graft.text.Dedup
    * .semanticDedup]] / ANN for corpora without precomputed embeddings.
    * Order/repetition behavior: bag semantics (order-invariant, counts
    * matter). Values are exact small integers in double form — strict
    * cross-engine comparable with no rounding.
    */
  def hashedBow(text: Column, dim: Int): Column =
    graft.functions.HashedBow(tokens(text), dim)

  /** Declarative HOF twin of [[hashedBow]] — kept ONLY as the parity-spec
    * pin for the native kernel: the `aggregate` step rebuilds and scans a
    * dim-length array per token (O(tokens·dim) work + allocation per row),
    * which is ~dim/2× the native kernel's cost at production dims.
    */
  private[graft] def hashedBowDeclarative(text: Column, dim: Int): Column = {
    val hs = transform(tokens(text), polyHash _)
    aggregate(hs, array(Seq.fill(dim)(lit(0.0)): _*),
      (acc, h) => transform(sequence(lit(0), lit(dim - 1)),
        j => element_at(acc, j.cast("int") + 1) +
          when(pmod(h, lit(dim.toLong)) === j.cast("long"),
            when(pmod(shiftright(h, 8), lit(2L)) === 1L, lit(1.0))
              .otherwise(lit(-1.0)))
          .otherwise(lit(0.0))))
  }

  /** Document fingerprint: rolling hash over the SORTED DISTINCT token
    * hashes — invariant to token order and repetition (the classic
    * "fingerprint" canopy key for fuzzy dedup).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      array_sort(array_distinct(transform(tokens(text), polyHash _))),
      lit(0L),
      (acc, h) => pmod(acc * 131L + h, lit(M))
    )

  /** MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003):
    * hash every char `k`-gram, slide a window of `w` consecutive k-gram
    * hashes, keep each window's minimum, return the SORTED DISTINCT selected
    * hashes. Guarantee: any shared substring of length >= k + w - 1 between
    * two documents yields at least one shared fingerprint, while the
    * selected set is ~2/(w+1) the density of the full k-gram set — the
    * local-sampling property plain min-hashing lacks.
    *
    * Where [[fingerprint]] collapses a whole document to one order-free
    * hash (canopy key) and [[Dedup]]'s shingle sets feed global Jaccard,
    * winnowing gives POSITION-ROBUST partial-overlap detection: plagiarism-
    * style reuse, license-block propagation, quote chains. Pure projection
    * (no shuffle); cost O(len·k + grams·w) per row. Documents shorter than
    * `k` select nothing. Fewer than `w` k-grams -> one fingerprint (the
    * global minimum), per the paper's boundary rule.
    */
  def winnow(text: Column, k: Int, w: Int): Column =
    // ONE native pass ([[graft.functions.WinnowHashes]]): codepoints
    // decoded once, window minima via a monotonic deque, sort+dedupe in
    // place — replaces one substr+polyHash lambda per k-gram plus a
    // slice allocation + array_min walk per window (guide §4; the
    // declarative twin below is spec-pinned value-identical). Null text →
    // empty array, matching the twin's guard.
    coalesce(graft.functions.WinnowHashes(text, k, w),
      array().cast("array<long>"))

  /** Declarative HOF twin of [[winnow]] — kept ONLY as the parity-spec
    * reference for the native kernel.
    */
  private[graft] def winnowDeclarative(text: Column, k: Int, w: Int): Column = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    require(w >= 1, s"window must be >= 1, got $w")
    val n = length(text) - (k - 1) // k-gram count (when length >= k)
    val hs = transform(sequence(lit(1), n), i => polyHash(text.substr(i, lit(k))))
    // let-bind hs through a single-element transform: referencing the hs
    // expression directly inside the window lambda re-evaluates the WHOLE
    // O(len·k) hash array once per window position — O(len²·k) per document
    // (measured: minutes for 5k docs of ~300 chars). As a lambda variable it
    // is computed once per row and the pass is the intended O(len·(k+w)).
    val fps = element_at(transform(array(hs), hsv => {
      val m = size(hsv)
      array_sort(array_distinct(transform(
        sequence(lit(1), greatest(m - (w - 1), lit(1))),
        i => array_min(slice(hsv, i, least(lit(w), m))))))
    }), 1)
    // null text takes the empty-array branch too: without the isNull guard
    // it falls to `fps`, where sequence(1, null) nulls the whole result —
    // breaking the documented "shorter than k selects nothing" rule for
    // callers that don't route through an explode.
    when(text.isNull || length(text) < k, array().cast("array<long>"))
      .otherwise(fps)
  }
}
