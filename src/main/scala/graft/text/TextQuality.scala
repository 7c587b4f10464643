package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID (stopword n-gram
  * heuristic), quality scoring, token counting. All pure Column expressions
  * (codegen'd, no UDFs) with cross-engine-expressible arithmetic.
  */
object TextQuality {

  /** Tiny per-language stopword lists for the heuristic scorer. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "with", "on"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "est", "pour", "avec"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ein", "ist", "mit", "auf")
  )

  private def toks(text: Column) = TextHash.lowerTokens(text)

  /** Per-language stopword hit ratio: |tokens ∩ stopwords| / |tokens|. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val sw = array(stopwords(lang).map(lit): _*)
    val t = toks(text)
    size(filter(t, x => array_contains(sw, x))).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Language ID: argmax of stopword ratios, "und" when all zero.
    * Deterministic tie-break: the lexicographically LARGEST language name
    * wins an equal-score tie (the struct max compares the name after the
    * score) — this is the behavior the oracle pins; callers relying on a
    * tie direction should rely on this one.
    *
    * All per-language hit counters accumulate in ONE fold over the token
    * array (the naive per-language `stopwordRatio` form tokenizes the text
    * once per language per use — 8 tokenizations for 4 languages — which
    * made a pure projection the 4th-slowest bench query). Ratios share the
    * same denominator, so the argmax and tie semantics are unchanged.
    */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val t = toks(text)
    val counts = aggregate(t, array(langs.map(_ => lit(0L)): _*),
      (acc, x) => array(langs.zipWithIndex.map { case (l, i) =>
        element_at(acc, i + 1) +
          when(array_contains(array(stopwords(l).map(lit): _*), x), 1L)
            .otherwise(0L)
      }: _*))
    val n = greatest(size(t), lit(1)).cast("double")
    val scored = langs.zipWithIndex.map { case (l, i) =>
      struct((element_at(counts, i + 1).cast("double") / n).as("s"),
        lit(l).as("l"))
    }
    val best = scored.reduce((a, b) => when(b > a, b).otherwise(a))
    when(best.getField("s") <= 0.0, lit("und")).otherwise(best.getField("l"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(toks(text)).cast("long")

  /** BPE-ish subword count estimate: ceil(codepoints/4) per token, summed —
    * the standard chars/4 heuristic, computed exactly.
    */
  def subwordCount(text: Column): Column =
    aggregate(toks(text), lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))

  /** Quality descriptor pack:
    *  - n_chars, n_tokens
    *  - mean token length
    *  - stopword ratio (english)
    *  - alpha ratio: fraction of alphabetic chars
    *  - repetition: 1 − distinct/total tokens
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val t = toks(text)
    val n = greatest(size(t), lit(1)).cast("double")
    Seq(
      "q_chars" -> length(text).cast("long"),
      "q_tokens" -> size(t).cast("long"),
      "q_mean_tok_len" -> (aggregate(t, lit(0L), (a, x) => a + length(x)).cast("double") / n),
      "q_stopword_ratio" -> stopwordRatio(text, "en"),
      "q_alpha_ratio" -> (length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double")),
      "q_repetition" -> (lit(1.0) - size(array_distinct(t)).cast("double") / n)
    )
  }

  /** Word n-grams of a token ARRAY, joined on U+0001 so token boundaries
    * can't alias ("a b","c" vs "a","b c") — built via iterated zip_with
    * against shifted copies: every reference to the token array stays
    * OUTSIDE lambda bodies (an expression referenced inside a higher-
    * order-function lambda is re-evaluated PER ELEMENT — the original
    * slice-in-transform formulation re-tokenized the text O(tokens) times
    * per row, 6.7 s for the q58 bench vs 0.5 s). zip_with pads the shorter
    * side with null and concat null-poisons, so the trailing partial grams
    * drop in the filter. Pass an ATTRIBUTE (hoisted column) as `t` when
    * composing further HOFs on top.
    */
  def wordNgrams(t: Column, n: Int): Column = {
    val grams0 = (1 until n).foldLeft(t)((acc, k) =>
      zip_with(acc, slice(t, lit(k + 1), size(t)), (x, y) =>
        concat(x, lit("\u0001"), y)))
    filter(grams0, x => x.isNotNull)
  }

  /** Duplicate word-n-gram fraction (the Gopher/C4 repetition rule family):
    * 1 − distinct/total over the n-grams of the whitespace tokens; 0 when
    * the doc has fewer than n tokens.
    */
  def dupNgramFraction(text: Column, n: Int): Column =
    dupNgramFractionFromToks(toks(text), n)

  /** [[dupNgramFraction]] over a PRE-TOKENIZED column — callers computing
    * several n's (the Gopher rule set uses 2..10) project the token array
    * once and share it instead of re-tokenizing per n.
    */
  def dupNgramFractionFromToks(t: Column, n: Int): Column = {
    val cnt = size(t) - (n - 1)
    val grams = wordNgrams(t, n)
    when(cnt <= 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(grams)).cast("double") / cnt.cast("double"))
  }

  /** The zero-width/control characters [[normalize]] strips — identical as
    * a Java regex and an RE2 (DuckDB) regex: C0 controls except \t\n, DEL,
    * zero-width space/joiner/non-joiner, BOM.
    */
  val StripClassRegex: String =
    "[\\x00-\\x08\\x0B-\\x1F\\x7F]|\\x{200B}|\\x{200C}|\\x{200D}|\\x{FEFF}"

  /** Text normalization — the first gate of every cleaning pipeline
    * (ftfy-lite): Unicode NFC composition (native kernel,
    * [[graft.functions.NfcNormalize]] — the JDK normalizer with an
    * isNormalized fast path), control/zero-width stripping, whitespace-run
    * collapse, trim. Pure per-row projection — normalizes at scan speed;
    * each regex step is the same pattern in Java and RE2, so the full
    * transform is oracle-verifiable byte-for-byte.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.NfcNormalize(text), StripClassRegex, ""),
      "\\s+", " "))

  /** Markup patterns for [[stripMarkup]] — Java∩RE2 identical semantics
    * (inline `(?is)` flags, lazy quantifiers, no lookaround/backrefs — so
    * script and style get separate passes instead of a backreferenced
    * close-tag).
    */
  val ScriptBlockRegex = "(?is)<script[^>]*>.*?</script\\s*>"
  val StyleBlockRegex = "(?is)<style[^>]*>.*?</style\\s*>"
  val CommentRegex = "(?s)<!--.*?-->"
  val TagRegex = "(?s)<[/!]?[a-zA-Z][^>]*>"

  /** HTML/markup removal — the extract-text gate for web-crawl corpora
    * (trafilatura-lite). Contract, in application order (the order is part
    * of the oracle):
    *  1. drop `<script>`/`<style>` BLOCKS including their contents (code
    *     and CSS are not prose), case-insensitively;
    *  2. drop comments (`<!-- … -->`);
    *  3. replace every remaining tag (open/close/doctype) with a space;
    * every structural removal (block, comment, tag) substitutes a SPACE,
    * never the empty string, so `…</p><p>…` and `two<!-- -->three` cannot
    * weld words together — the whitespace collapse in step 5 absorbs the
    * extras;
    *  4. decode the six ubiquitous entities — `&nbsp; &lt; &gt; &quot;
    *     &#39;` first and `&amp;` LAST, so `&amp;lt;` decodes to the
    *     literal text `&lt;` (single-pass decode semantics) and
    *     entity-encoded markup stays text instead of becoming strippable
    *     tags (correct HTML semantics: it was never markup);
    *  5. collapse whitespace runs and trim.
    * Pure per-row projection: codegen'd `regexp_replace`/`replace` chain,
    * composes with scan pushdown, strips at scan speed.
    */
  def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(text, ScriptBlockRegex, " "), StyleBlockRegex, " ")
    val noTags = regexp_replace(
      regexp_replace(noBlocks, CommentRegex, " "), TagRegex, " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Character-level Shannon entropy in bits/char — the bits-per-byte-style
    * quality gate (gibberish and repeated-char spam score low; natural text
    * sits ~3.5-4.5 bits/char): H = −Σ_c p_c·log₂ p_c over the doc's own
    * codepoints.
    *
    * Native one-pass expression ([[graft.functions.CharEntropy]]) — the
    * declarative fold below is quadratic (substr seeks + HOF lambda
    * re-evaluation rebuilt the char array per distinct character; 115 s →
    * sub-second for the sf0.1 bench query). Cross-engine determinism: the
    * characters are visited in SORTED order, so the double summation
    * order is identical in any engine; log₂ is spelled as ln(p)/ln2 with
    * ln2 a shared literal. Empty text → 0.
    */
  def charEntropy(text: Column): Column = graft.functions.CharEntropy(text)

  /** Declarative HOF twin of [[charEntropy]] — parity-spec reference only
    * (quadratic per row: do not use in operators).
    */
  private[graft] def charEntropyDeclarative(text: Column): Column = {
    val chars = transform(sequence(lit(1), length(text)),
      i => text.substr(i, lit(1)))
    val distinctSorted = array_sort(array_distinct(chars))
    val n = length(text).cast("double")
    val ln2 = lit(0.6931471805599453) // shared literal: JVM vs libm ln(2)
    val h = aggregate(distinctSorted, lit(0.0), (acc, d) => {
      val p = size(filter(chars, c => c === d)).cast("double") / n
      acc - p * log(p)
    }) / ln2
    when(length(text) === 0, lit(0.0)).otherwise(h)
  }

  /** Composite quality score in [0,1]: weighted blend mirroring the usual
    * length/stopword/repetition gates.
    */
  def qualityScore(text: Column): Column = {
    val cols = qualityColumns(text).toMap
    val lenScore = least(cols("q_tokens").cast("double") / 100.0, lit(1.0))
    val swScore = least(cols("q_stopword_ratio") * 4.0, lit(1.0))
    val repScore = greatest(lit(1.0) - cols("q_repetition") * 2.0, lit(0.0))
    round(lenScore * 0.4 + swScore * 0.3 + repScore * 0.3, 6)
  }
}
