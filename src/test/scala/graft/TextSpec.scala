package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.text.{Dedup, Drift, TextHash, TextQuality}
import graft.multimodal.Multimodal

class TextSpec extends GraftSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
    (3L, "the quick brown fox jumped over the lazy dog", "en"), // near dup
    (4L, "completely different content about spark engines", "en"),
    (5L, "el rapido zorro marron salta sobre el perro", "es")
  ).toDF("doc_id", "text", "lang")

  test("polyHash matches a scala reimplementation") {
    inBothModes {
      def ph(s: String): Long =
        s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % (1L << 32))
      val got = docs.select(TextHash.polyHash(col("text")).as("h"))
        .as[Long].collect()
      val exp = docs.select("text").as[String].collect().map(ph)
      assert(got.sameElements(exp))
      // empty string -> 0
      assert(Seq("").toDF("t").select(TextHash.polyHash(col("t")))
        .head().getLong(0) == 0L)
      // the kernel column equals the driver-side fold, non-BMP included
      val strs = Seq("abc", "", "héllo 日本 \uD83D\uDE00")
      val nat = strs.toDF("t").select(graft.functions.PolyHash(col("t")))
        .as[Long].collect().toSeq
      assert(nat == strs.map(graft.functions.PolyHash.hash))
    }
  }

  test("tokenDrift keeps the null stratum: its row equals a fresh name's row") {
    val rows = Seq((1L, Option("a"), "x y y z"), (2L, Option("b"), "y z z"),
      (3L, None, "x x q y"))
    def drift(rs: Seq[(Long, Option[String], String)]) =
      Dedup.withCache(Drift.tokenDrift(rs.toDF("id", "src", "text"), "text", "src")
        .collect().map(r => Option(r.getString(0)) -> r.toSeq.tail).toMap)
    val withNull = drift(rows)
    val named = drift(rows.map { case (i, s, t) => (i, s.orElse(Some("fresh")), t) })
    assert(withNull.keySet == Set(Some("a"), Some("b"), None))
    assert(withNull(None) == named(Some("fresh")))
    assert(withNull - None == named - Some("fresh"))
  }

  test("exact dedup keeps min id per identical text") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 4)
    val dupRow = out.where(col("n_copies") === 2).head()
    assert(dupRow.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds the planted near-dup and not the distinct doc") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup always caught
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical texts equal, near-dups close, distinct far") {
    val sigs = docs.select(col("doc_id"),
      TextHash.simhash(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngram jaccard pairs: exact dup has jaccard 1") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      col("lang"), 3, 0.9).collect()
    val j = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(j.isDefined && j.get.getDouble(2) == 1.0)
  }

  test("fingerprint: token-order and repetition invariant") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma alpha beta alpha"), // same token set
      (3L, "alpha beta delta")
    ).toDF("id", "t")
    val fps = df.select(col("id"), TextHash.fingerprint(col("t")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("brute-force cosine topk: self-similar vector ranks first") {
    val base = (0 until 64).map(_.toFloat / 64f).toArray
    val near = base.map(x => x * 1.001f)
    val far = (0 until 64).map(i => if (i % 2 == 0) 1f else -1f).toArray
    val emb = Seq((0L, base), (1L, near), (2L, far))
      .toDF("vec_id", "vec")
    val top = Ann.bruteTopK(
      emb.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("vec")),
      emb.select(col("vec_id").as("cid"), col("vec")), k = 2).collect()
    assert(top.head.getAs[Long]("cid") == 1L) // nearest = scaled copy
    assert(approx(top.head.getAs[Double]("cos"), 1.0, 1e-4))
    // lsh agrees on the top result when buckets collide
    val lsh = Ann.lshTopK(
      emb.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("vec")),
      emb.select(col("vec_id").as("cid"), col("vec")), k = 1)
    val r = lsh.collect()
    assert(r.isEmpty || r.head.getAs[Long]("cid") == 1L)
  }

  test("langid + quality heuristics") {
    val pred = docs.select(col("doc_id"),
      TextQuality.langId(col("text")).as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred(1L) == "en")
    assert(pred(5L) == "es")
    val q = docs.where(col("doc_id") === 1)
      .select(TextQuality.tokenCount(col("text")).as("n"),
        TextQuality.qualityScore(col("text")).as("s")).head()
    assert(q.getLong(0) == 9L)
    assert(q.getDouble(1) > 0.0 && q.getDouble(1) <= 1.0)
  }

  test("multimodal byte-stats pipeline: typed batch extract over binary payloads") {
    val assets = Multimodal
      .assetsFromText(docs, "doc_id", "text").as[Multimodal.Asset]
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length == 5)
    val f1 = feats.find(_.asset_id == 1L).get
    assert(f1.n_bytes == "the quick brown fox jumps over the lazy dog".length)
    assert(f1.feature.length == Multimodal.ByteStatsDecoder.featureDim)
    assert(approx(f1.feature.sum, 1.0)) // normalized histogram
    // identical payloads -> identical checksum/features
    val f2 = feats.find(_.asset_id == 2L).get
    assert(f1.checksum == f2.checksum && f1.feature.sameElements(f2.feature))
  }

  test("blocklist: whole-token words, whitespace-robust phrases, canonicalized terms") {
    import graft.text.Blocklist
    val docs = Seq(
      (1L, "the class is in session"),        // "ass" must NOT hit inside "class"
      (2L, "an ass appeared"),                 // whole token hits
      (3L, "a bad   ACTOR\tshowed up"),        // phrase across whitespace + case
      (4L, "bad actors everywhere"),            // "bad actor" must NOT hit "bad actors"
      (5L, "ASS and a bad actor"),              // word + phrase, both hit
      (6L, "")
    ).toDF("doc_id", "text")
    val out = Blocklist.score(docs, col("text"),
        terms = Seq("ass", " Bad\t Actor ", "ass")) // dup + messy canonical forms
      .select("doc_id", "n_word_hits", "n_phrase_hits", "blocked")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((0, 0, false)))
    assert(out(2L) == ((1, 0, true)))
    assert(out(3L) == ((0, 1, true)))
    assert(out(4L) == ((0, 0, false)))
    assert(out(5L) == ((1, 1, true)))
    assert(out(6L) == ((0, 0, false)))
    intercept[IllegalArgumentException] {
      Blocklist.score(docs, col("text"), terms = Seq("ok", "  "))
    }
  }

  test("luhn: ISO test numbers validate, separators stripped, bounds enforced") {
    import graft.text.Redact
    val rows = Seq(
      (1L, "pay 4539 1488 0343 6467 now"),   // valid 16-digit visa test
      (2L, "amex 3782-8224-6310-005 ok"),    // valid 15-digit
      (3L, "ref 1234 5678 9012 3456"),       // shape ok, checksum fails
      (4L, "short 1234 5678 9012"),          // 12 digits: below bound
      (5L, "no digits at all"),
      (6L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val (nc, nv) = Redact.cardCounts(col("t"))
    val out = rows.select(col("id"), nc.as("c"), nv.as("v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 1L)))
    assert(out(2L) == ((1L, 1L)))
    assert(out(3L) == ((1L, 0L)))
    assert(out(4L) == ((0L, 0L)), "12 digits must not even be a candidate")
    assert(out(5L) == ((0L, 0L)))
    assert(out(6L) == ((0L, 0L)), "null text counts zero candidates")
    // direct checksum truth table: 13-digit valid (leading zeros keep the
    // sum), same number off-by-one invalid, classic 11-digit valid-checksum
    // number rejected by the length bound
    val lv = Seq(("0079927398713", true), ("0079927398714", false),
        ("79927398713", false))
      .toDF("d", "want")
      .select(Redact.luhnValid(col("d")).as("got"), col("want"))
      .collect()
    assert(lv.forall(r => r.getBoolean(0) == r.getBoolean(1)))
  }
}
