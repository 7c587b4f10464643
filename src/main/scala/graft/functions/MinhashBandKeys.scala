package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** MinHash signature + LSH band keys in ONE generated pass over the
  * shingle-hash array — the candidate-generation prep of
  * [[graft.text.Dedup.minhashPairs]].
  *
  * Declarative twin (`TextHash.bandKeys(TextHash.minhashSig(sh, H), b, r)`,
  * spec-pinned identical): H separate `transform` + `array_min` walks over
  * the shingle array (one allocation each) and per-band `element_at`
  * folds. Here: one loop computes all H running minima (sig_i = min over
  * h of (h·(2i+1) + 97i+13) mod 2³²), then folds each band key
  * (acc·131 + slot) mod 2³² seeded b·1315423911 mod 2³² — the identical
  * integer arithmetic, so values match exactly (KernelParitySpec pins it
  * for non-null arrays of hashes in [0, 2³²)). Null elements are skipped,
  * as `array_min` skips them; empty or all-null input (never produced by
  * the caller, which filters sz > 0) yields all-null band keys, matching
  * the null-propagating HOF fold.
  */
object MinhashBandKeys {
  private val M = (1L << 32) - 1 // mod 2^32 == mask since operands stay >= 0

  def keys(sh: ArrayData, numHashes: Int, bands: Int): GenericArrayData = {
    val rows = numHashes / bands
    val n = sh.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var seen = false
    var e = 0
    while (e < n) {
      if (!sh.isNullAt(e)) {
        val h = sh.getLong(e)
        var i = 0
        while (i < numHashes) {
          val v = (h * (2L * i + 1) + 97L * i + 13) & M
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        seen = true
      }
      e += 1
    }
    if (!seen) // no element: sig mins are null -> every band key is null
      return new GenericArrayData(Array.fill[Any](bands)(null))
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = (b.toLong * 1315423911L) % (M + 1)
      var r = 0
      while (r < rows) { acc = (acc * 131 + sig(b * rows + r)) & M; r += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, numHashes: Int, bands: Int): Column = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    GraftBridge.staticCall(this, "keys", ArrayType(LongType, containsNull = true),
      Seq(c, lit(numHashes), lit(bands)),
      Seq(ArrayType(LongType), IntegerType, IntegerType))
  }
}
