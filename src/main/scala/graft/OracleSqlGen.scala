package graft

/** DuckDB-SQL generators mirroring graft.text.TextHash / graft.ann.Ann
  * arithmetic EXACTLY (same fold order, same mod-2^32 polynomial hashes,
  * same LCG hyperplanes) so the approximate dedup/ANN operators are
  * verifiable cross-engine, not just rows-counted.
  */
object OracleSqlGen {
  val M = "4294967296" // 2^32

  /** polyHash(e): left fold (acc*31 + codepoint) mod 2^32; empty -> 0. */
  def poly(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, len($e)+1), i -> CAST(ascii(substr($e, i, 1)) AS BIGINT))), " +
      s"(a, c) -> (a*31 + c) % $M)"

  /** Whitespace tokens, empties dropped — regex split so tabs/newlines
    * tokenize exactly like Spark's `split(trim(x), "\\s+")`.
    */
  def toks(e: String): String =
    s"list_filter(regexp_split_to_array(trim($e), '\\s+'), t -> t <> '')"

  /** UTF-8 bytes of a string as an int list (hex-digit extraction) — matches
    * JVM `getBytes("UTF-8")` for any unicode input, so byte-folding checksums
    * (Multimodal.ByteStatsDecoder) verify cross-engine beyond ASCII.
    */
  def utf8Bytes(e: String): String =
    s"list_transform(range(0, octet_length(encode($e))), i -> " +
      s"CAST((strpos('0123456789abcdef', substr(lower(hex(encode($e))), 2*i+1, 1))-1)*16 " +
      s"+ (strpos('0123456789abcdef', substr(lower(hex(encode($e))), 2*i+2, 1))-1) AS BIGINT))"

  /** Distinct shingle hashes of char n-grams. */
  def shingleHashes(e: String, n: Int): String =
    s"list_distinct(list_transform(" +
      s"list_distinct(list_transform(range(1, greatest(len($e)-${n - 2}, 1)), i -> substr($e, i, $n))), " +
      s"g -> ${poly("g")}))"

  def jaccard(a: String, b: String): String =
    s"(CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE))"

  /** minhash slot i over a shingle-hash list column. */
  def minhashSlot(sh: String, i: Int): String = {
    val a = 2L * i + 1; val b = 97L * i + 13
    s"list_min(list_transform($sh, h -> (h*$a + $b) % $M))"
  }

  /** band key b from slot expressions (rowsPerBand consecutive slots). */
  def bandKey(slots: Seq[String], b: Int): String = {
    val init = (b.toLong * 1315423911L) % (1L << 32)
    slots.foldLeft(s"CAST($init AS BIGINT)")((acc, s) => s"(($acc)*131 + $s) % $M")
  }

  /** Xorshift+Knuth mix of a 32-bit hash mod 2^32 — TextHash.mix32 /
    * SimHashParts.mix32 twin. `h` must be a cheap expression (a lambda
    * variable): it is repeated textually.
    */
  def mix32(h: String): String = {
    val m = s"xor($h, $h >> 16)"
    val x = s"((((($m >> 16) * 2654435761) % 65536) * 65536 + ($m % 65536) * 2654435761 + 1013904223) % $M)"
    s"xor($x, $x >> 16)"
  }

  /** `words`×32-bit simhash part expressions over token-hash list `th`:
    * part w votes with w applications of [[mix32]] — the SQL twin of
    * `TextHash.simhashParts`. Returns one SELECT-able expression per part.
    */
  def simhashPartExprs(th: String, words: Int): Seq[String] =
    (0 until words).map { w =>
      val mixed = (0 until w).foldLeft(th)((e, _) =>
        s"list_transform($e, h -> ${mix32("h")})")
      simhash(mixed, 32)
    }

  /** `bits`-bit (≤32) simhash over token-hash list column `th`. */
  def simhash(th: String, bits: Int = 16): String = {
    val terms = (0 until bits).map { b =>
      val s = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform($th, h -> CASE WHEN (h >> $b) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), (a, x) -> a + x)"
      s"CASE WHEN ($s) > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }
    terms.mkString("(", " + ", ")")
  }

  /** dot product of two 64-dim double lists, left-fold order. */
  def dot(a: String, b: String, dim: Int = 64): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
      s"i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  def cosine(a: String, b: String, dim: Int = 64): String =
    s"(${dot(a, b, dim)} / (sqrt(${dot(a, a, dim)}) * sqrt(${dot(b, b, dim)})))"

  /** squared L2 distance of two dim-dim double lists, left-fold order —
    * the op sequence of `PqKernels`' inner loop.
    */
  def l2(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"

  /** LCG hyperplane component for plane p, 0-based dim expr `d`. */
  def planeComponent(p: Int, d: String): String =
    s"(CAST(((${p}*1048576 + $d)*1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"

  /** sign-bucket key of a double-list column `v` with `planes` hyperplanes. */
  def signBucket(v: String, planes: Int, dim: Int = 64): String = {
    val terms = (0 until planes).map { p =>
      val dp = s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
        s"i -> $v[i] * ${planeComponent(p, "(i-1)")})), (acc, x) -> acc + x)"
      s"CASE WHEN ($dp) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }
    terms.mkString("(", " + ", ")")
  }

  /** erf via the Abramowitz–Stegun 7.1.26 rational approximation — the
    * EXACT op sequence of `graft.functions.MathX.erf` (same Horner order,
    * same constants), so the only cross-engine divergence is the final
    * libm-vs-JVM `exp` ulp, absorbed by output rounding. `v` must be a
    * cheap expression (a column): it is repeated textually.
    */
  def erf(v: String): String = {
    val t = s"(1.0/(1.0 + 0.3275911*abs($v)))"
    val poly = s"(((((1.061405429*$t - 1.453152027)*$t + 1.421413741)*$t" +
      s" - 0.284496736)*$t + 0.254829592)*$t)"
    s"((CASE WHEN $v < 0 THEN -1.0 ELSE 1.0 END)" +
      s" * (1.0 - $poly * exp(-(abs($v)*abs($v)))))"
  }

  /** Standard normal CDF Φ(z) = (erf(z/√2)+1)/2 — `MathX.normCdf` /
    * `Ego.egoSearch`'s bigPhi op order. `z` must be a cheap expression.
    */
  def normCdf(z: String): String =
    s"((${erf(s"($z/1.4142135623730951)")} + 1.0) * 0.5)"

  /** Standard normal pdf φ(z) — egoSearch's phi op order. */
  def normPdf(z: String): String =
    s"(exp((-($z*$z))/2.0)/2.5066282746310002)"

  /** per-language stopword ratio over lowercased tokens. */
  def stopwordRatio(textExpr: String, words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    val t = toks(s"lower($textExpr)")
    s"(CAST(len(list_filter($t, x -> list_contains($lst, x))) AS DOUBLE) / " +
      s"CAST(greatest(len($t), 1) AS DOUBLE))"
  }
}
