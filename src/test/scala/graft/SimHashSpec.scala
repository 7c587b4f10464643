package graft

import org.apache.spark.sql.functions._

import graft.text.{Dedup, TextHash}

/** Production-width (64-bit) SimHash: native expression parity, banding
  * recall guarantees, and the order-robustness property the operator exists
  * for.
  */
class SimHashSpec extends GraftSuite {
  import spark.implicits._

  private lazy val corpus = {
    // seeded corpus with planted structure: exact dups, order-scrambled
    // twins (identical token multiset), one-token perturbations, and
    // unrelated docs — ids encode the family
    val base = (0 until 40).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 50}")
      (i.toLong, words.mkString(" "))
    }
    val exact = base.take(5).map { case (id, t) => (id + 100L, t) }
    val scrambled = base.slice(5, 10).map { case (id, t) =>
      (id + 200L, t.split(" ").reverse.mkString(" "))
    }
    val perturbed = base.slice(10, 15).map { case (id, t) =>
      (id + 300L, t + " extraword")
    }
    (base ++ exact ++ scrambled ++ perturbed).toDF("doc_id", "text")
  }

  test("native SimHashParts == declarative HOF fold, all words") {
    inBothModes {
      val df = corpus.select(
        TextHash.simhashParts(col("text"), 3).as("native"),
        TextHash.simhashPartsDeclarative(col("text"), 3).as("decl"))
      assert(df.where(col("native") =!= col("decl")).count() == 0)
      // empty + single-token edge cases
      val edge = Seq("", "   ", "solo").toDF("text").select(
        TextHash.simhashParts(col("text"), 2).as("native"),
        TextHash.simhashPartsDeclarative(col("text"), 2).as("decl"))
      assert(edge.where(col("native") =!= col("decl")).count() == 0)
      // parts are 32-bit non-negative (the sign-safety contract)
      val bad = corpus.select(explode(TextHash.simhashParts(col("text"), 2)).as("p"))
        .where(col("p") < 0L || col("p") >= (1L << 32)).count()
      assert(bad == 0)
    }
  }

  test("mix32 declarative == scala, and breaks low-bit correlation") {
    val hs = Seq(0L, 1L, 12345L, (1L << 32) - 1, 2654435761L, 987654321L)
    val got = hs.toDF("h").select(TextHash.mix32(col("h")).as("m"))
      .as[Long].collect()
    val exp = hs.map(graft.functions.SimHashParts.mix32)
    assert(got.sameElements(exp))
    // a pure affine step mod 2^32 makes bit0(out) a function of bit0(in);
    // the xorshift must not: find two inputs with equal bit0 and different
    // out-bit0
    val outBit0 = (0L until 64L).map(h =>
      (h & 1L, graft.functions.SimHashParts.mix32(h) & 1L))
    assert(outBit0.filter(_._1 == 0L).map(_._2).distinct.size == 2,
      "bit0 of mix32 must not be determined by bit0 of the input")
  }

  test("banding recall is exact for hamming <= 3 (pigeonhole over 4 bands)") {
    // brute-force all pairs with hamming <= 3 at 64 bits, then assert the
    // banded operator (uncapped buckets) finds exactly that set
    val sigs = corpus.select(col("doc_id"),
        TextHash.simhashParts(col("text"), 2).as("s"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      ham = java.lang.Long.bitCount(sa(0) ^ sb(0)) +
        java.lang.Long.bitCount(sa(1) ^ sb(1))
      if ham <= 3
    } yield (ia, ib, ham.toLong)).toSet
    val banded = Dedup.simhashPairs(corpus, "doc_id", "text",
        maxHamming = 3, blockCap = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} — banding must be lossless")
    assert(brute.nonEmpty, "seeded corpus must contain qualifying pairs")
  }

  test("order-scrambled twins have hamming 0; exact dups too; perturbed docs differ") {
    val sigs = corpus.select(col("doc_id"),
        TextHash.simhashParts(col("text"), 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ham(a: Long, b: Long) = {
      val (sa, sb) = (sigs(a), sigs(b))
      java.lang.Long.bitCount(sa(0) ^ sb(0)) + java.lang.Long.bitCount(sa(1) ^ sb(1))
    }
    (0 until 5).foreach(i => assert(ham(i.toLong, i + 100L) == 0, s"exact dup $i"))
    (5 until 10).foreach(i => assert(ham(i.toLong, i + 200L) == 0,
      s"scrambled twin $i — simhash must be order-invariant"))
    // one extra token shifts every bit's vote margin by 1: with only 12
    // tokens the signatures must move (margins are small), proving the
    // signature actually depends on content, not just length
    assert((10 until 15).map(i => ham(i.toLong, i + 300L)).sum > 0)
  }

  test("64-bit signature space: unrelated docs do not collide (the 16-bit failure mode)") {
    // 40 unrelated docs → C(40,2)=780 pairs; at 16 bits birthday collisions
    // were already likely (~1%/pair); at 64 bits none of these unrelated
    // docs may share a full signature
    val sigs = corpus.where(col("doc_id") < 40)
      .select(TextHash.simhashParts(col("text"), 2).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs.map(s => (s(0), s(1))).distinct.length == sigs.length)
  }
}
