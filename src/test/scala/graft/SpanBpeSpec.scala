package graft

import org.apache.spark.sql.functions._

import graft.text.{Bpe, Sampling, Spans, TextHash}

/** Round-4 additions: duplicate-passage spans, overlap chunking, BPE
  * tokenizer-training stats, DSIR importance weights.
  */
class SpanBpeSpec extends GraftSuite {
  import spark.implicits._

  test("duplicateSpans: hand truth table — cross-doc, within-doc, split spans") {
    val docs = Seq(
      (1L, "a b c d e f"),            // shares [a b c] [b c d] with doc 2
      (2L, "x a b c d y"),
      (3L, "p q r p q r p q"),        // every window duplicated WITHIN doc
      (4L, "unique tokens only here nothing repeats"),
      (5L, "a b c zz1 zz2 zz3 zz4 a b c") // two disjoint spans in one doc
    ).toDF("id", "text")
    val out = Spans.duplicateSpans(docs, "id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val expected = Set(
      (1L, 1L, 4L, 4L, 2L),  // windows at pos 1,2 -> tokens 1..4
      (2L, 2L, 5L, 4L, 2L),  // windows at pos 2,3 -> tokens 2..5
      (3L, 1L, 8L, 8L, 6L),  // all 6 windows duplicated -> whole doc
      (5L, 1L, 3L, 3L, 1L),  // [a b c] at the start...
      (5L, 8L, 10L, 3L, 1L)  // ...and again at the end: NOT merged
    )
    assert(out === expected)
  }

  test("decontaminate: bench k-grams stripped from train; train-only dups untouched") {
    val train = Seq(
      (1L, "a1 a2 a3 b1 b2 b3 b4 t1 t2"),   // contains the bench 4-gram
      (2L, "c1 c2 c3 c4 c5"),               // clean
      (3L, "p1 p2 p3 p4 z1"),               // shares passage with doc 4 ...
      (4L, "p1 p2 p3 p4 z2")                // ... but NOT with the benchmark
    ).toDF("id", "text")
    val bench = Seq((100L, "x b1 b2 b3 b4 y")).toDF("id", "text")
    val spans = Spans.crossDuplicateSpans(train, "id", "text", bench, "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(spans.toSeq === Seq((1L, 4L, 7L, 1L)),
      s"only the bench overlap is a span: ${spans.toSeq}")
    val out = Spans.decontaminate(train, "id", "text", bench, "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((9L, 5L, "a1 a2 a3 t1 t2")))
    assert(out(2L) === ((5L, 5L, "c1 c2 c3 c4 c5")))
    assert(out(3L) === ((5L, 5L, "p1 p2 p3 p4 z1")), "train-only dup kept")
    assert(out(4L) === ((5L, 5L, "p1 p2 p3 p4 z2")))
  }

  test("chunkOverlap: hand truth table + coverage/overlap invariants") {
    val docs = Seq(
      (0L, ""),                         // no tokens -> no chunks
      (1L, "t1 t2 t3"),                 // shorter than one chunk
      (2L, "t1 t2 t3 t4"),              // exactly one chunk
      (3L, "t1 t2 t3 t4 t5"),           // remainder chunk of 2
      (4L, (1 to 10).map("w" + _).mkString(" "))
    ).toDF("id", "text")
    val out = Spans.chunkOverlap(docs, "id", "text", chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val byDoc = out.groupBy(_._1)
    assert(!byDoc.contains(0L), "empty doc yields no chunks")
    assert(byDoc(1L).toSeq === Seq((1L, 0L, 1L, 3L, "t1 t2 t3")))
    assert(byDoc(2L).toSeq === Seq((2L, 0L, 1L, 4L, "t1 t2 t3 t4")))
    assert(byDoc(3L).sortBy(_._2).toSeq === Seq(
      (3L, 0L, 1L, 4L, "t1 t2 t3 t4"), (3L, 1L, 4L, 2L, "t4 t5")))
    // 10 tokens, stride 3: starts 1,4,7 with len 4 each (7+4-1 = 10)
    assert(byDoc(4L).sortBy(_._2).map(c => (c._3, c._4)).toSeq ===
      Seq((1L, 4L), (4L, 4L), (7L, 4L)))
    // invariants on the real corpus: full coverage, exact overlap between
    // consecutive chunks, last chunk ends exactly at the doc's last token
    val corpus = spark.read.parquet(s"$sfSmall/documents.parquet")
    val chunks = Spans.chunkOverlap(corpus, "doc_id", "text", 24, 6)
      .groupBy(col("doc_id"))
      .agg(max(col("tok_start") + col("n_chunk_tokens") - 1).as("covered"),
        min(col("n_chunk_tokens")).as("minLen"),
        count(lit(1)).as("nc"))
    val toks = corpus.select(col("doc_id"),
      size(TextHash.lowerTokens(col("text"))).cast("long").as("n"))
    val joined = chunks.join(toks, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("covered") === r.getAs[Long]("n"),
        s"chunks must cover every token: $r")
      assert(r.getAs[Long]("minLen") >= 1L)
    }
  }

  test("Bpe.train: classic corpus — hand-derived merge sequence with tie-breaks") {
    // Sennrich et al. running example: es(9) wins the st(9) tie
    // lexicographically, then est(9), then lo(7) over ow(7), then low(7)
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Bpe.train(words, 4)
    assert(merges === Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    // early stop: no pair reaches count 2
    assert(Bpe.train(Seq(("ab", 1L), ("cd", 1L)), 10) === Seq())
  }

  test("Bpe.pairCounts: distributed iteration-1 counts match the driver loop's first merge") {
    val docs = Seq((1L, "low low low low low lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")).toDF("id", "text")
    val wf = Bpe.wordFreqs(docs, "text")
    assert(wf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L))
    val pc = Bpe.pairCounts(wf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pc("es") === 9L && pc("st") === 9L && pc("lo") === 7L &&
      pc("we") === 8L && pc("er") === 2L)
    val topDistributed = pc.toSeq.sortBy { case (p, c) => (-c, p) }.head
    val firstMerge = Bpe.train(
      wf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, 1).head
    assert(topDistributed === (firstMerge._1 + firstMerge._2, firstMerge._3))
    // maxWords truncation is deterministic: top-2 by (freq desc, word)
    assert(Bpe.wordFreqs(docs, "text", maxWords = 2).collect()
      .map(_.getString(0)).toSet === Set("newest", "low"))
  }

  test("Bpe.encode: chained merges, adjacency runs, fixpoint, count parity with driver BPE") {
    import graft.text.Bpe
    val merges = Seq("t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
      "a" -> "b", "e" -> "r")
    val docs = Seq(
      (1L, "table tab ta t"),      // chained merges at every depth
      (2L, "abab ababab"),         // overlapping-run chains of (a,b)
      (3L, "xyz"),                 // no merge applies
      (4L, "aaaa")                 // self-run: no (a,a) merge here -> chars
    ).toDF("id", "text")
    val out = Bpe.encode(docs, "id", "text", merges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // NOTE "ab" merges via rank-5 (a,b) only where (t,a)/(ta,b) didn't
    // already consume the chars — merges apply in rank order
    assert(out(1L) === ((4L, 4L, "table tab ta t")))
    assert(out(2L) === ((2L, 5L, "ab+ab ab+ab+ab")))
    assert(out(3L) === ((1L, 3L, "x+y+z")))
    assert(out(4L) === ((1L, 4L, "a+a+a+a")))

    // driver replay: left-to-right non-overlapping merge application in
    // rank order — exact sequence parity on a ≠ b merges
    def applyDriver(w: String): Seq[String] = {
      var syms = w.split("").filter(_.nonEmpty).toSeq
      merges.foreach { case (a, b) =>
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val corpus = spark.read.parquet(s"$sfSmall/documents.parquet").limit(100)
    val enc = Bpe.encode(corpus, "doc_id", "text", merges).collect()
    val raw = corpus.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    enc.foreach { r =>
      val expect = raw(r.getLong(0)).toLowerCase.split("\\s+")
        .filter(_.nonEmpty).map(w => applyDriver(w).mkString("+")).mkString(" ")
      assert(r.getString(3) === expect, s"doc ${r.getLong(0)}")
    }

    // self-run divergence is bounded to ORDER, never counts: with (a,a)
    // the multiset matches BPE's floor(m/2) pairs + remainder
    val runDocs = Seq((1L, "aaaaa aaaa aaa")).toDF("id", "text")
    val run = Bpe.encode(runDocs, "id", "text", Seq("a" -> "a"))
      .head().getString(3)
    val words = run.split(" ").map(_.split("\\+"))
    assert(words(0).count(_ == "aa") === 2 && words(0).count(_ == "a") === 1)
    assert(words(1).toSeq === Seq("aa", "aa"))
    assert(words(2).count(_ == "aa") === 1 && words(2).count(_ == "a") === 1)
  }

  test("Bpe: train -> encode round trip on the corpus; concat invariant") {
    import graft.text.Bpe
    val corpus = spark.read.parquet(s"$sfSmall/documents.parquet").limit(200)
    val trained = Bpe.trainFromCorpus(corpus, "text", numMerges = 10)
    assert(trained.size === 10)
    val enc = Bpe.encode(corpus, "doc_id", "text",
      trained.map(m => (m._1, m._2))).collect()
    enc.foreach { r =>
      // subwords re-concatenate to the original tokens, and the encoded
      // sequence is never longer than characters nor shorter than words
      val rebuilt = r.getString(3).split(" ").map(_.replace("+", "")).mkString(" ")
      val nTok = r.getLong(1); val nSub = r.getLong(2)
      assert(nSub >= nTok)
      assert(rebuilt.split(" ").length.toLong === nTok || nTok === 0L)
    }
  }

  test("importanceWeights: driver replay of the hashed-unigram log-ratio arithmetic") {
    val docs = Seq(
      (1L, "en", "the quick brown fox"),
      (2L, "en", "the lazy dog sleeps"),
      (3L, "de", "der schnelle braune fuchs"),
      (4L, "de", "the dog the fox"),   // raw-only doc reusing target words
      (5L, "fr", "")                   // no tokens
    ).toDF("id", "lang", "text")
    val buckets = 8
    val out = Sampling.importanceWeights(docs, "id", "text",
      col("lang") === "en", buckets)
      .select(col("id"), col("n_tokens"), col("logratio"), col("logratio_avg"))
      .collect().map(r => r.getLong(0) -> r).toMap

    // exact driver replay
    def polyHash(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % (1L << 32))
    val rows = Seq(
      (1L, true, "the quick brown fox"), (2L, true, "the lazy dog sleeps"),
      (3L, false, "der schnelle braune fuchs"), (4L, false, "the dog the fox"),
      (5L, false, ""))
    val toks = rows.flatMap { case (id, tgt, t) =>
      t.split("\\s+").filter(_.nonEmpty).map(w =>
        (id, tgt, polyHash(w.toLowerCase) % buckets))
    }
    val cr = toks.groupBy(_._3).map { case (b, v) => b -> v.size.toLong }
    val ct = toks.filter(_._2).groupBy(_._3)
      .map { case (b, v) => b -> v.size.toLong }
    val dr = (toks.size.toLong + buckets).toDouble
    val dt = (toks.count(_._2).toLong + buckets).toDouble
    def lq(b: Long): Long = math.floor(
      (math.log((ct.getOrElse(b, 0L) + 1L) / dt) -
        math.log((cr(b) + 1L) / dr)) * 1e6 + 0.5).toLong
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.filter(_._3.nonEmpty).foreach { case (id, _, _) =>
      val myToks = toks.filter(_._1 == id)
      val s = myToks.map(t => lq(t._3)).sum
      assert(out(id).getAs[Long]("n_tokens") === myToks.size.toLong)
      assert(out(id).getAs[Double]("logratio") === r6(s.toDouble / 1e6))
      assert(out(id).getAs[Double]("logratio_avg") ===
        r6(s.toDouble / 1e6 / myToks.size))
    }
    assert(out(5L).getAs[Long]("n_tokens") === 0L)
    assert(out(5L).isNullAt(2) && out(5L).isNullAt(3))
    // target docs should score higher than the disjoint-vocab raw doc
    assert(out(1L).getAs[Double]("logratio_avg") >
      out(3L).getAs[Double]("logratio_avg"))
  }

  test("normalize: NFC composition, control/zero-width strip, collapse, trim, null") {
    inBothModes {
      import graft.text.TextQuality
      val rows = Seq(
        (1L, "café"),                      // decomposed -> composed
        (2L, "a​bc"),                 // ZWSP + BEL stripped
        (3L, "  a \t\n b   c "),                 // collapse + trim
        (4L, "already clean ascii"),             // fast path: identity
        (5L, null.asInstanceOf[String])
      ).toDF("id", "text")
      val out = rows.select(col("id"), TextQuality.normalize(col("text")).as("n"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(out(1L) === "café" && out(1L).length === 4)
      assert(out(2L) === "abc")
      assert(out(3L) === "a b c")
      assert(out(4L) === "already clean ascii")
      assert(out(5L) === null)
      // the native expression alone: composed output, ASCII passthrough
      val nfc = rows.where(col("id") <= 2).select(
        graft.functions.NfcNormalize(col("text"))).collect().map(_.getString(0))
      assert(nfc.toSet === Set("café", "a​bc"))
    }
  }

  test("stripSpans: hand truth table — overlap, no-span, full-strip, empty") {
    val docs = Seq(
      (1L, "a b c d e f"),   // spans (2,3) -> "a d e f"
      (2L, "a b c d e f"),   // overlapping (2,4)+(4,5) -> "a f"
      (3L, "g h i"),         // no spans -> unchanged
      (4L, "x y"),           // span covers everything -> ""
      (5L, "")               // empty doc
    ).toDF("id", "text")
    val spans = Seq((1L, 2L, 3L), (2L, 2L, 4L), (2L, 4L, 5L), (4L, 1L, 2L))
      .toDF("id", "span_start", "span_end")
    val out = Spans.stripSpans(docs, "id", "text", spans)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((6L, 4L, "a d e f")))
    assert(out(2L) === ((6L, 2L, "a f")))
    assert(out(3L) === ((3L, 3L, "g h i")))
    assert(out(4L) === ((2L, 0L, "")))
    assert(out(5L) === ((0L, 0L, "")))
  }

  test("dedupPassages: composed detect+strip — repeated passage vanishes everywhere") {
    val docs = Seq(
      (1L, "s1 s2 s3 u1 u2 u3"),   // shares s1 s2 s3 with doc 2
      (2L, "v1 v2 s1 s2 s3 v3"),
      (3L, "w1 w2 w3 w4 w5 w6")    // all unique
    ).toDF("id", "text")
    val out = Spans.dedupPassages(docs, "id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((6L, 3L, "u1 u2 u3")))
    assert(out(2L) === ((6L, 3L, "v1 v2 v3")))
    assert(out(3L) === ((6L, 6L, "w1 w2 w3 w4 w5 w6")))
  }

  test("qualityGram: exact driver replay; train separates a planted signal") {
    import graft.text.Classifier
    // planted: positive docs carry the marker tokens, negatives don't
    val docs = (0 until 40).map { i =>
      val pos = i % 2 == 0
      val filler = s"w${i % 7} w${(i * 3) % 11} common words here"
      (i.toLong, if (pos) s"premium signal $filler" else filler, pos)
    }.toSeq
    val df = docs.map(d => (d._1, d._2, d._3)).toDF("id", "text", "y")
    val dims = 8
    val gram = Classifier.qualityGram(df, "text", col("y"), dims)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gram.size === (dims + 2) * (dims + 3) / 2)

    // driver replay of hashedBow (bucket = polyHash % dims, sign = bit 8)
    def polyHash(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % (1L << 32))
    def bow(text: String): Array[Double] = {
      val v = Array.fill(dims)(0.0)
      text.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val h = polyHash(t)
        v((h % dims).toInt) += (if (((h >> 8) & 1L) == 1L) 1.0 else -1.0)
      }
      v
    }
    val vs = docs.map(d => bow(d._2) ++ Array(1.0, if (d._3) 1.0 else 0.0))
    for (i <- 0 until dims + 2; j <- i until dims + 2) {
      val expect = vs.map(v => (v(i) * v(j)).toLong).sum
      assert(gram((i, j)) === expect, s"gram($i,$j)")
    }

    // end-to-end: ridge-trained margin separates the classes
    val w = Classifier.train(df, "text", col("y"), dims, lambda = 1.0)
    val margins = df.select(col("y"),
      Classifier.scoreCol(col("text"), w).as("m")).collect()
      .map(r => (r.getBoolean(0), r.getDouble(1)))
    val posMin = margins.filter(_._1).map(_._2).min
    val negMax = margins.filterNot(_._1).map(_._2).max
    assert(posMin > negMax,
      s"classifier must separate planted signal: posMin=$posMin negMax=$negMax")
  }

  test("trainRidge: lambda=0 pinv solve recovers an exact linear rule") {
    import graft.text.Classifier
    // y = x0 exactly: gram built by hand from vs = [x0, x1, 1, y]
    val vs = Seq(
      Array(1.0, 2.0, 1.0, 1.0), Array(0.0, 1.0, 1.0, 0.0),
      Array(2.0, 0.0, 1.0, 2.0), Array(-1.0, 3.0, 1.0, -1.0))
    val rows = for { i <- 0 until 4; j <- i until 4 } yield
      (i, j, vs.map(v => (v(i) * v(j)).toLong).sum)
    val w = Classifier.trainRidge(rows, dims = 2, lambda = 0.0)
    assert(approx(w(0), 1.0, 1e-9) && approx(w(1), 0.0, 1e-9) &&
      approx(w(2), 0.0, 1e-9), w.toSeq.toString)
  }

  test("gumbelKey: deterministic, reproducible, monotone in weight for a fixed identity") {
    val df = Seq((1L, 0.5), (2L, 0.5), (3L, -2.0)).toDF("id", "w")
    val k1 = df.select(col("id"),
      Sampling.gumbelKey(col("w"), col("id")).as("k")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val k2 = df.select(col("id"),
      Sampling.gumbelKey(col("w"), col("id")).as("k")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(k1 === k2, "same identity + weight -> same key")
    // driver replay of the exact op order
    def polyHash(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % (1L << 32))
    def key(w: Double, id: Long): Double = {
      val u = (polyHash(s"$id:g1") % 1000 + 1.0) / 1001.0
      w + -math.log(-math.log(u))
    }
    k1.foreach { case (id, k) =>
      val w = if (id == 3L) -2.0 else 0.5
      assert(approx(k, key(w, id), 1e-12))
    }
    // raising the weight at the same identity raises the key
    val hi = Seq((1L, 5.0)).toDF("id", "w")
      .select(Sampling.gumbelKey(col("w"), col("id"))).head().getDouble(0)
    assert(hi > k1(1L))
  }
}
