package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fill-in-the-middle (FIM) transformation — the code/infilling pretraining
  * prep (Bavarian et al. 2022, "Efficient Training of Language Models to
  * Fill in the Middle"): a deterministic fraction of documents is rewritten
  * in PSM order, `<|pre|>prefix<|suf|>suffix<|mid|>middle`, so the model
  * learns to infill; the rest pass through byte-identical.
  *
  * Everything is hash-derived from the document's OWN id — the selection
  * (the [[Sampling.keepAtRate]] keep rule) AND the two split pivots — so
  * the transform is bit-reproducible at any parallelism, stable under
  * resume, and verifiable cell-exactly in any ANSI SQL engine (no RNG, no
  * partition index). Pivots u,v ~ polyHash(id:fim1/fim2) mod (n+1) over the
  * canonical whitespace tokens ([[TextHash.tokens]]); the split is
  * (prefix = t[1..min]), (middle = t[min+1..max]), (suffix = t[max+1..n]) —
  * empty segments are legal FIM (the paper keeps them; they teach edge
  * infills). Documents with fewer than 3 tokens are never transformed.
  *
  * Shape: a pure projection — zero shuffles, scan speed, fully codegen'd
  * higher-order functions. At 100 TB this is a map over the corpus.
  */
object Fim {

  def transform(
      docs: DataFrame,
      idCol: String,
      textCol: Column,
      fimRate: Double,
      salt: String = "fim"): DataFrame = {
    require(fimRate >= 0.0 && fimRate <= 1.0,
      s"fimRate must be in [0,1], got $fimRate")
    val id = col(idCol)
    val toks = TextHash.tokens(textCol)
    val n = size(toks)
    def pivot(sub: String): Column =
      pmod(TextHash.saltedHash(id, salt + sub), (n + 1).cast("long"))
    val u = pivot("1")
    val v = pivot("2")
    val lo = least(u, v).cast("int")
    val hi = greatest(u, v).cast("int")
    val fimmed = Sampling.keepAtRate(id, fimRate, salt) && (n >= 3)
    val rewritten = concat(
      lit("<|pre|>"), array_join(slice(toks, lit(1), lo), " "),
      lit("<|suf|>"), array_join(slice(toks, hi + 1, n - hi), " "),
      lit("<|mid|>"), array_join(slice(toks, lo + 1, hi - lo), " "))
    docs.select(
      id,
      coalesce(fimmed, lit(false)).as("fimmed"),
      when(fimmed, rewritten).otherwise(textCol).as("text_out"))
  }
}
