package graft

import org.apache.spark.sql.functions._

import graft.text.Retrieval

/** Round-4 operator specs: order-free unigram-LM scoring and batched BM25. */
class Round4Spec extends GraftSuite {
  import spark.implicits._

  test("unigramLogProb: 100k-token doc — order-free integer sum matches a driver replay") {
    val longText = (0 until 100000).map(i => s"t${i % 37}").mkString(" ")
    val docs = Seq((1L, longText), (2L, "t0 t1 zebra"), (3L, ""))
      .toDF("id", "text")
    val out = Retrieval.unigramLogProb(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap

    // driver replay of the exact arithmetic (same JVM ln, same quantization)
    val toks1 = longText.split(" ").toSeq
    val toks2 = Seq("t0", "t1", "zebra")
    val all = toks1 ++ toks2
    val counts = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val denom = (all.size.toLong + counts.size.toLong).toDouble
    def lpq(w: String): Long =
      math.floor(math.log((counts(w) + 1L).toDouble / denom) * 1e6 + 0.5).toLong
    def avg(ts: Seq[String]): Double = {
      val s = ts.map(lpq).sum
      BigDecimal(s.toDouble / 1e6 / ts.size.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(1L)._1.contains(100000L))
    assert(out(1L)._2.contains(avg(toks1)))
    assert(out(2L)._2.contains(avg(toks2)))
    assert(out(3L)._1.isEmpty && out(3L)._2.isEmpty, "empty doc scores null")
  }

  test("bm25Batch: one scan, no join; single-query wrapper identical to batch column") {
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    val q = Seq("window", "join", "merge")
    val single = Retrieval.bm25(docs, "doc_id", "text", q)
      .select(col("doc_id"), col("bm25"))
    val batch = Retrieval.bm25Batch(docs, "doc_id", "text",
      Seq("s1" -> q, "s2" -> Seq("data", "the")))
    assert(batch.select(col("doc_id"), col("s1").as("bm25"))
      .exceptAll(single).count() == 0)
    // scoring is a pure projection: no join in the plan, exactly one scan
    val p = batch.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "bm25Batch scoring must not join")
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      "bm25Batch must score all queries in one corpus scan")
  }

  test("Bmp codec: encode/decode round trip incl. stride padding; strict header checks") {
    import graft.multimodal.Bmp
    // w=5 -> raw row 15 bytes, stride 16: the padding byte must be skipped
    val w = 5; val h = 3
    val bgr = Array.tabulate[Byte](w * h * 3)(i => ((i * 7 + 3) % 251).toByte)
    val enc = Bmp.encode(w, h, bgr)
    assert(enc.length == 54 + Bmp.rowStride(w) * h)
    val d = Bmp.decode(enc)
    assert(d.width == w && d.height == h)
    def sums(ch: Int) = bgr.indices.filter(_ % 3 == ch)
      .map(i => (bgr(i) & 0xff).toLong).sum
    assert((d.sumB, d.sumG, d.sumR) == ((sums(0), sums(1), sums(2))))
    // corrupted magic / depth / compression are rejected, not mis-decoded
    val badMagic = enc.clone(); badMagic(0) = 'X'
    intercept[IllegalArgumentException](Bmp.decode(badMagic))
    val bad16 = enc.clone(); bad16(28) = 16
    intercept[IllegalArgumentException](Bmp.decode(bad16))
    val rle = enc.clone(); rle(30) = 1
    intercept[IllegalArgumentException](Bmp.decode(rle))
    intercept[IllegalArgumentException](Bmp.decode(enc.take(40)))
  }

  test("bmp pipeline: real binaries through the typed batch decode") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val out = Multimodal.decodeBmpStats(
      Multimodal.bmpAssetsFromText(docs, "doc_id", "text"))
      .collect().map(s => s.asset_id -> s).toMap
    assert(out(1L).width == 8 && out(1L).height == 8)
    // empty text -> black frame
    assert(out(2L).mean_b == 0.0 && out(2L).mean_g == 0.0 && out(2L).mean_r == 0.0)
    // doc 1: replay the generative formula
    val tb = "hello world".getBytes("UTF-8")
    def mean(c: Int) = (0 until 192).filter(_ % 3 == c)
      .map(k => (tb(k % tb.length) & 0xff).toLong).sum.toDouble / 64.0
    assert(out(1L).mean_b == mean(0) && out(1L).mean_g == mean(1) &&
      out(1L).mean_r == mean(2))
  }

  test("GP render memo bounds compiled candidates; instrumentation is consistent") {
    import graft.expr._
    import graft.search.SymbolicSearch
    val d = spark.range(0, 500).toDF("id")
      .withColumn("x0", pmod(col("id") * 1103515245L + 12345L, lit(1048576L))
        .cast("double") / 1048576.0)
      .withColumn("x1", pmod(col("id") * 69069L + 1L, lit(1048576L))
        .cast("double") / 1048576.0)
      .withColumn("y", col("x0") * col("x0") + lit(5.0) * col("x1"))
    val reg = Registry(terminals = Map(
      "x0" -> (col("x0"), Dim.dless), "x1" -> (col("x1"), Dim.dless)))
    val res = SymbolicSearch.fit(d, reg, col("y"),
      SymbolicSearch.Config(popSize = 40, nGen = 5, maxHeight = 3, plateau = 99))
    val lb = res.logbook
    assert(lb.nonEmpty && lb.forall(g => g.compiledNovel <= g.candidates),
      "cannot compile more than the eligible candidates")
    assert(lb.forall(_.candidates <= 40))
    val novel = lb.map(_.compiledNovel).sum
    val cands = lb.map(_.candidates).sum
    assert(novel < cands,
      s"memo must absorb repeated renders: compiled $novel of $cands scored")
    assert(lb.forall(_.millis >= 0))
    // memoized scoring stays deterministic: same seed, same hall
    val res2 = SymbolicSearch.fit(d, reg, col("y"),
      SymbolicSearch.Config(popSize = 40, nGen = 5, maxHeight = 3, plateau = 99))
    assert(res.best.expr.render == res2.best.expr.render &&
      res.best.score == res2.best.score)
  }

  test("lineDedup: boilerplate lines stripped, order preserved, full-boilerplate doc empties") {
    import graft.text.Dedup
    val docs = (1L to 6L).map(i => (i, s"unique line $i\nSHARED BOILERPLATE\nalso unique $i"))
      .toDF("id", "text") // boilerplate in 6 docs
      .unionByName(Seq((7L, "SHARED BOILERPLATE")).toDF("id", "text"))
    val out = Dedup.lineDedup(docs, "id", "text", minDocFreq = 5L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    (1L to 6L).foreach { i =>
      assert(out(i) == ((3L, 2L, s"unique line $i\nalso unique $i")),
        s"doc $i: ${out(i)}")
    }
    assert(out(7L) == ((1L, 0L, "")), "fully-boilerplate doc keeps empty text")
    // below the frequency bar nothing is removed
    val none = Dedup.lineDedup(docs, "id", "text", minDocFreq = 8L)
    assert(none.where(col("n_kept") =!= col("n_lines")).count() == 0)
  }

  test("lineDedup: a null-text doc is kept as (id, null, 0, \"\")") {
    import graft.text.Dedup
    val docs = Seq[(Long, String)]((1L, "a\nb"), (2L, null), (3L, "")).toDF("id", "text")
    val out = Dedup.lineDedup(docs, "id", "text", minDocFreq = 5L).collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getString(3)))).toMap
    assert(out.size == 3)
    assert(out(1L) == ((Some(2L), 2L, "a\nb")))
    assert(out(2L) == ((None, 0L, "")), "null text must not drop the doc")
    assert(out(3L) == ((Some(1L), 1L, "")))
    // null-text docs do not vote: "" is in one real doc, below the bar of 2
    val two = Dedup.lineDedup(docs.unionByName(Seq[(Long, String)]((4L, null))
        .toDF("id", "text")), "id", "text", minDocFreq = 2L)
      .where(col("id") >= 3L).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(two == Map(3L -> 1L, 4L -> 0L))
  }

  test("sortedShingleHashes native == array_sort(declarative) over the real corpus + edges") {
    inBothModes {
      import graft.text.TextHash
      val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
        .select(col("text"))
        .unionByName(Seq("", "ab", "abc", "aaaaaa", "héllo wörld", "日本語テキスト")
          .toDF("text"))
      Seq(2, 3, 5).foreach { n =>
        val diff = docs.select(
          TextHash.sortedShingleHashes(col("text"), n).as("nat"),
          array_sort(TextHash.shingleHashes(col("text"), n)).as("decl"))
          .where(col("nat") =!= col("decl")).count()
        assert(diff == 0, s"n=$n: native shingle kernel must match the declarative form")
      }
    }
  }

  test("charEntropy native == declarative fold over the real corpus + unicode") {
    inBothModes {
      import graft.text.TextQuality
      val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
        .select(col("text"))
        .unionByName(Seq("héllo wörld", "日本語テキスト", "ab\nc", "ab" * 500)
          .toDF("text"))
      val diff = docs.select(
        TextQuality.charEntropy(col("text")).as("nat"),
        TextQuality.charEntropyDeclarative(col("text")).as("decl"))
        .where(col("nat") =!= col("decl")).count()
      assert(diff == 0, "native entropy must be bit-identical to the fold")
    }
  }

  test("charEntropy: hand values, order-invariance, degenerate cases") {
    import graft.text.TextQuality
    val df = Seq((1L, "aab"), (2L, "aba"), (3L, "aaaa"), (4L, ""), (5L, "abcd"))
      .toDF("id", "t")
    val got = df.select(col("id"),
      round(TextQuality.charEntropy(col("t")), 9).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // H("aab") = -(2/3 log2 2/3 + 1/3 log2 1/3) = 0.9182958341
    assert(math.abs(got(1L) - 0.918295834) < 1e-8)
    assert(got(1L) == got(2L), "entropy is order-invariant")
    assert(got(3L) == 0.0, "single-symbol text has zero entropy")
    assert(got(4L) == 0.0, "empty text scores 0")
    assert(math.abs(got(5L) - 2.0) < 1e-9, "4 equiprobable symbols = 2 bits")
  }

  test("semanticDedup: planted near-identical embeddings collapse to min id") {
    import graft.text.Dedup
    // 60 deterministic zero-mean vectors (signed LCG mix — all-positive
    // vectors would be mutually near-parallel) + scaled copies of the
    // first 6
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map { j =>
        // mixed hash of the combined index — an affine form in (i, j)
        // would make every vector a translate of one sawtooth (all
        // mutually near-parallel)
        val h = graft.functions.SimHashParts.mix32(i.toLong * 1009L + j)
        ((h % 1001L) - 500L).toDouble / 500.0
      }.toSeq)
    }
    val sibs = base.take(6).map { case (id, v) =>
      (id + 1000L, v.map(_ * 1.01))
    }
    val df = (base ++ sibs).toDF("vid", "emb")
    val kept = Dedup.semanticDedup(df, "vid", "emb",
      nClusters = 4, threshold = 0.999)
      .as[Long].collect().toSet
    assert(kept == (0 until 60).map(_.toLong).toSet,
      s"every scaled copy must collapse onto its original; kept=$kept")
    graft.text.Dedup.releaseCache()
  }

  test("Curation.curate: each gate trips on its designed failure; survivors get a split") {
    import graft.text.Curation
    val good = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, good, "en"),                    // passes everything
      (2L, "too short", "en"),             // g_len (min 5 tokens)
      (3L, ("spam " * 40).trim, "en"),     // g_rep (all bigrams identical)
      (4L, "aaaaa aaaaa aaaaa aaaaa aaaaa aaaaa", "en"), // g_ent (1.07 bits)
      (5L, good + " extra", "fr"),         // g_lang
      (6L, good, "en")                     // g_uniq (exact dup of 1, larger id)
    ).toDF("id", "text", "lang")
    val out = Curation.curate(docs, "id", "text", "lang",
      Curation.Gates(minTokens = 5, maxTokens = 100, dupN = 2,
        maxDupFraction = 0.5, minEntropy = 2.0, langs = Set("en", "de")))
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    def gates(id: Long) = Seq("g_len", "g_rep", "g_ent", "g_lang", "g_uniq")
      .map(c => out(id).getAs[Boolean](c))
    assert(gates(1L).forall(identity) && out(1L).getAs[Boolean]("keep"))
    assert(Set("train", "val", "test").contains(out(1L).getAs[String]("split")))
    assert(!out(2L).getAs[Boolean]("g_len"))
    assert(!out(3L).getAs[Boolean]("g_rep"))
    assert(!out(4L).getAs[Boolean]("g_ent"))
    assert(!out(5L).getAs[Boolean]("g_lang"))
    assert(!out(6L).getAs[Boolean]("g_uniq"), "exact dup with larger id must lose")
    assert(out(1L).getAs[Boolean]("g_uniq"), "the min-id copy is the keeper")
    (2L to 6L).foreach { i =>
      assert(!out(i).getAs[Boolean]("keep") && out(i).getAs[String]("split") == null,
        s"doc $i must drop with null split")
    }
  }

  test("topNgrams: hand counts, deterministic ties, per-stratum k") {
    import graft.text.Retrieval
    val docs = Seq(
      (1L, "a b a b c", "en"), // bigrams: "a b"(x2 via pos1,3? -> a b, b a, a b, b c)
      (2L, "a b x", "en"),
      (3L, "k l k l", "de")
    ).toDF("doc_id", "text", "lang")
    val out = Retrieval.topNgrams(docs, "text", "lang", n = 2, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    val en = out.filter(_._1 == "en").sortBy(_._4)
    // en bigram counts: "a b" -> 3 (docs 1 has 2, doc 2 has 1), "b a" -> 1,
    // "b c" -> 1, "b x" -> 1; rank2 tie among count-1 grams -> "b a" (asc)
    assert(en(0) == (("en", "a b", 3L, 1L)))
    assert(en(1) == (("en", "b a", 1L, 2L)))
    val de = out.filter(_._1 == "de").sortBy(_._4)
    assert(de(0) == (("de", "k l", 2L, 1L)))
    assert(de(1) == (("de", "l k", 1L, 2L)))
  }

  test("bigramLogProb: driver replay of the add-one bigram LM; short docs null") {
    import graft.text.Retrieval
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, "solo"), (4L, ""))
      .toDF("id", "text")
    val out = Retrieval.bigramLogProb(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // corpus bigrams: d1: (a,b),(b,a),(a,b); d2: (b,a) => c(a,b)=2, c(b,a)=2
    // unigrams: a->3, b->3, solo->1 => V=3
    val v = 3.0
    def lpq(cb: Long, cu: Long): Long =
      math.floor(math.log((cb + 1L).toDouble / (cu.toDouble + v)) * 1e6 + 0.5).toLong
    def avg(qs: Seq[Long]): Double =
      BigDecimal(qs.sum.toDouble / 1e6 / qs.size.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1.contains(3L))
    assert(out(1L)._2.contains(avg(Seq(lpq(2, 3), lpq(2, 3), lpq(2, 3)))))
    assert(out(2L)._2.contains(avg(Seq(lpq(2, 3)))))
    assert(out(3L)._1.isEmpty && out(4L)._1.isEmpty, "docs with <2 tokens score null")
  }

  test("hashedBow → semanticDedup: end-to-end text semantic dedup with no external model") {
    import graft.text.{Dedup, TextHash}
    // reordered twin (same bag → identical vector) must collapse; distinct
    // docs must survive
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "hotel golf foxtrot echo delta charlie bravo alpha"), // reorder of 1
      (3L, "completely different words about spark engines here now"),
      (4L, "yet another unrelated document with its own content")
    ).toDF("id", "text")
    val vecs = docs.select(col("id"), TextHash.hashedBow(col("text"), 16).as("v"))
    // identical bags → identical vectors
    val v12 = vecs.where(col("id").isin(1L, 2L)).select(col("v"))
      .collect().map(_.getSeq[Double](0))
    assert(v12(0) == v12(1), "bag-of-words embedding must be order-invariant")
    val kept = Dedup.semanticDedup(vecs, "id", "v",
      nClusters = 2, threshold = 0.999)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L), s"reordered twin must collapse to min id: $kept")
    graft.text.Dedup.releaseCache()
  }

  test("tokenDrift: identical slices score exactly zero KL; planted skew is positive") {
    // two strata with the SAME token distribution: p_s == p_pool for every
    // token, every KL term is ln(1)=0, quantized sum is EXACTLY 0
    val same = Seq(
      (1L, "a", "a a b c"), (2L, "a", "b c a a"),
      (3L, "b", "a a b c"), (4L, "b", "c b a a")).toDF("id", "src", "text")
    val outSame = graft.text.Drift.tokenDrift(same, "text", "src")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    assert(outSame("a") == ((8L, 0.0, 0.0)) && outSame("b") == ((8L, 0.0, 0.0)))

    // a stratum flooded with one token drifts: kl > 0, chi2 > 0, and the
    // clean stratum's drift is strictly smaller
    val skew = Seq(
      (1L, "clean", "a b c d e f g h"),
      (2L, "clean", "a b c d e f g h"),
      (3L, "spam", "z z z z z z z a")).toDF("id", "src", "text")
    val outSkew = graft.text.Drift.tokenDrift(skew, "text", "src")
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(outSkew("spam")._1 > outSkew("clean")._1 && outSkew("spam")._1 > 0.1)
    assert(outSkew("spam")._2 > 0.0)

    // driver replay of the exact KL arithmetic for the spam stratum
    val counts = Map("z" -> 7L, "a" -> 1L) // spam slice
    val glob = Map("z" -> 7L, "a" -> 3L, "b" -> 2L, "c" -> 2L, "d" -> 2L,
      "e" -> 2L, "f" -> 2L, "g" -> 2L, "h" -> 2L)
    val nsD = 8.0; val ngD = 24.0
    val klq = counts.map { case (t, c) =>
      math.floor((c / nsD) * math.log((c * ngD) / (nsD * glob(t))) * 1e9 + 0.5).toLong
    }.sum
    val expect = BigDecimal(klq.toDouble / 1e9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(outSkew("spam")._1 == expect, s"${outSkew("spam")._1} != $expect")
  }

  test("shardBalanced: serpentine truth table, balance bound, parallelism-invariant") {
    // single bucket, sizes 8..1 over 4 shards: serpentine yields exactly
    // equal totals (9 each) — the hand truth table
    val tiny = Seq((1L, 8L), (2L, 7L), (3L, 6L), (4L, 5L),
      (5L, 4L), (6L, 3L), (7L, 2L), (8L, 1L)).toDF("doc_id", "n")
    val t = graft.text.Packing.shardBalanced(tiny, "doc_id", "n",
        shards = 4, buckets = 1)
      .groupBy(col("shard")).agg(sum(col("n")).as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(0L -> 9L, 1L -> 9L, 2L -> 9L, 3L -> 9L), s"got $t")

    // real corpus: shard token-total spread bounded by buckets · max doc
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
      .withColumn("n_tokens",
        size(graft.text.TextHash.tokens(col("text"))).cast("long"))
    val out = graft.text.Packing.shardBalanced(docs, "doc_id", "n_tokens",
      shards = 4, buckets = 8)
    val totals = out.groupBy(col("shard")).agg(sum(col("n_tokens")).as("tot"))
      .collect().map(_.getLong(1))
    val maxDoc = docs.agg(max(col("n_tokens"))).head().getLong(0)
    assert(totals.length == 4)
    assert(totals.max - totals.min <= 8 * maxDoc,
      s"imbalance ${totals.max - totals.min} > bound ${8 * maxDoc}")

    // same assignment at different parallelism (hash+window, no partition
    // index anywhere)
    val a = out.select(col("doc_id"), col("shard"))
    val b = graft.text.Packing.shardBalanced(docs.repartition(3), "doc_id",
      "n_tokens", shards = 4, buckets = 8).select(col("doc_id"), col("shard"))
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("dedupIncrementalBloom: admitted set identical to dedupIncremental; prefilter engages") {
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    val batch = docs.where(pmod(col("doc_id"), lit(7L)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(7L)) =!= 0)
    graft.text.Dedup.withCache {
      val plain = graft.text.Dedup.dedupIncremental(
        batch, corpus, "doc_id", "text", col("lang"), threshold = 0.7)
      val bloom = graft.text.Dedup.dedupIncrementalBloom(
        batch, corpus, "doc_id", "text", col("lang"), threshold = 0.7)
      assert(plain.except(bloom).count() == 0 && bloom.except(plain).count() == 0,
        "bloom variant must admit the identical set")
    }
    // the digest sketch actually prunes: most batch docs are novel text,
    // so the exact-hit residual join input must be far below |batch|
    graft.text.Dedup.withCache {
      val cp = graft.text.Dedup.prepDocs(corpus, "doc_id", "text", col("lang"), 3)
      val bp = graft.text.Dedup.prepDocs(batch, "doc_id", "text", col("lang"), 3)
      val digestBloom = graft.text.Dedup.bloomPairOf(cp, 0.03)._1
      val maybes = bp.where(org.apache.spark.sql.GraftBridge.mightContain(
        digestBloom, xxhash64(col("__md5")))).count()
      val total = bp.count()
      assert(maybes < total / 2,
        s"digest bloom passed $maybes of $total batch rows — prefilter not engaging")
    }
  }

  test("context assembly: longest suffix within budget; current turn always kept") {
    import graft.temporal.ContextAssembly
    // heavy-tailed token counts incl. single turns larger than the budget
    val rows = for (c <- 0 until 5; i <- 0 until 20) yield
      (s"c$c", i, c * 100L + i,
        ((i * 37 + c * 13) % 180 + (if (i % 7 == 0) 450 else 5)).toLong,
        i % 3 == 0)
    val df = rows.toDF("conv", "idx", "id", "tok", "mask")
    val budget = 400L; val maxTurns = 6
    val out = ContextAssembly.assemble(df, "conv", Seq("idx", "id"), "id",
        tokCol = col("tok"), maskCol = col("mask").cast("int"),
        tokenBudget = budget, maxTurns = maxTurns)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap

    val byConv = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    for ((_, turns) <- byConv; i <- turns.indices) {
      val window = turns.slice(math.max(0, i - maxTurns + 1), i + 1)
      // longest suffix fitting the budget, current always kept
      val kept = window.zipWithIndex.filter { case (t, j) =>
        window.drop(j).map(_._4).sum <= budget || j == window.size - 1
      }.map(_._1)
      val (_, _, id, _, _) = turns(i)
      val (nCtx, ctxTok, nMask, ids) = out(id)
      assert(nCtx == kept.size.toLong, s"turn $id n_ctx")
      assert(ctxTok == kept.map(_._4).sum, s"turn $id ctx_tokens")
      assert(nMask == kept.count(_._5).toLong, s"turn $id n_mask")
      assert(ids == kept.map(_._3).mkString(","), s"turn $id ctx_ids")
    }
  }

  test("preference pairs: champion vs margin-separated, hardest-first, capped") {
    import graft.text.Preference
    // score ties (incl. on the champion), gaps straddling the margin, and
    // a group whose qualifying count exceeds the cap
    val rows = for (g <- 0 until 6; i <- 0 until 12) yield
      (s"p$g", g * 100L + i, ((i * 29 + g * 11) % 10) * 7.5)
    val df = rows.toDF("prompt", "rid", "score")
    val margin = 20.0; val cap = 3
    val got = Preference.minePairs(df, "prompt", "rid", col("score"),
        margin, cap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
      .toSet

    val want = rows.groupBy(_._1).flatMap { case (p, rs) =>
      val ordered = rs.sortBy(t => (-t._3, t._2)) // score DESC, id ASC
      val (_, cid, cs) = ordered.head
      ordered.tail.filter(t => cs - t._3 >= margin).take(cap)
        .map(t => (p, cid, cs, t._2, t._3))
    }.toSet
    assert(got == want)
    // score ties never pair a row against itself
    assert(got.forall { case (_, cid, _, rid, _) => cid != rid })
  }

  test("transcript audit: repeats, empties, ties, span against a driver replay") {
    import graft.temporal.TranscriptAudit
    import java.sql.Timestamp
    // role repeats, an empty + a null text, exact ts ties, single-turn conv
    val rows = Seq(
      ("c1", 1L, "user", "hi", Timestamp.valueOf("2026-01-01 00:00:00")),
      ("c1", 2L, "assistant", "", Timestamp.valueOf("2026-01-01 00:00:05")),
      ("c1", 3L, "assistant", null, Timestamp.valueOf("2026-01-01 00:00:05")),
      ("c1", 4L, "user", "bye", Timestamp.valueOf("2026-01-01 00:01:00")),
      ("c2", 5L, "tool", "x", Timestamp.valueOf("2026-01-02 10:00:00")))
    val df = rows.toDF("conv", "id", "role", "text", "ts")
    val got = TranscriptAudit.audit(df, "conv", Seq("ts", "id"), "role",
        "ts", col("text"))
      .collect().map(r => r.getString(0) -> r).toMap

    val c1 = got("c1")
    assert(c1.getLong(1) == 4L, "n_turns")
    assert(c1.getLong(2) == 1L, "n_role_repeats: assistant->assistant once")
    assert(c1.getLong(3) == 2L, "n_empty_text: empty + null")
    assert(c1.getLong(4) == 1L, "n_ts_ties")
    assert(c1.getLong(5) == 60L * 1000000L, "span_us")
    assert(c1.getString(6) == "user" && c1.getString(7) == "user")
    val c2 = got("c2")
    assert(c2.getLong(1) == 1L && c2.getLong(2) == 0L && c2.getLong(4) == 0L)
    assert(c2.getLong(5) == 0L)
    assert(c2.getString(6) == "tool" && c2.getString(7) == "tool")
  }

  test("curriculum shards: full-sample boundaries give exact quartile bands") {
    import graft.text.Packing
    // sampleRate=1.0 -> boundaries are the exact quantiles of 1..8:
    // q25=2.75, q50=4.5, q75=6.25 (linear interpolation)
    val df = (1 to 8).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
      .unionByName(Seq((99L, Option.empty[Double])).toDF("id", "score"))
    val got = Packing.curriculumShards(df, "id", col("score"),
        shards = 4, sampleRate = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L,
      6L -> 2L, 7L -> 3L, 8L -> 3L, 99L -> 0L))
    intercept[IllegalArgumentException] {
      Packing.curriculumShards(df, "id", col("score"), 1, 1.0)
    }
    intercept[IllegalArgumentException] {
      Packing.curriculumShards(df, "id", col("score"), 4, 0.0)
    }
  }

  test("chat render: exact order, null text renders empty, one row per conv") {
    import graft.temporal.ChatRender
    import java.sql.Timestamp
    val rows = Seq(
      // out-of-input-order on purpose: rendering must follow (ts, id)
      ("a", 2L, "assistant", "yo", Timestamp.valueOf("2026-01-01 00:00:05")),
      ("a", 1L, "user", "hi", Timestamp.valueOf("2026-01-01 00:00:00")),
      ("a", 3L, "tool", null, Timestamp.valueOf("2026-01-01 00:00:09")),
      ("b", 4L, "user", "solo", Timestamp.valueOf("2026-01-02 00:00:00")))
    val got = ChatRender.render(rows.toDF("conv", "id", "role", "text", "ts"),
        "conv", Seq("ts", "id"), "role", col("text"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(got("a") == (3L,
      "<|user|>hi<|end|><|assistant|>yo<|end|><|tool|><|end|>"))
    assert(got("b") == (1L, "<|user|>solo<|end|>"))
  }

  test("FIM: segments reassemble to the token multiset; pass-through is byte-exact") {
    import graft.text.Fim
    val docs = (1L to 200L).map(i =>
      (i, (0 until (i % 13).toInt + 1).map(k => s"w${(i + k) % 7}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Fim.transform(docs, "doc_id", col("text"), fimRate = 0.6)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    val in = (1L to 200L).map(i =>
      (i, (0 until (i % 13).toInt + 1).map(k => s"w${(i + k) % 7}").mkString(" "))).toMap
    var nFim = 0
    for ((id, text) <- in) {
      val (f, o) = out(id)
      if (!f) assert(o == text, s"doc $id pass-through must be byte-exact")
      else {
        nFim += 1
        assert(in(id).split("\\s+").length >= 3, s"doc $id too short for FIM")
        // PSM order: pre, suf, mid — token multiset must be conserved
        val m = "<\\|pre\\|>(.*)<\\|suf\\|>(.*)<\\|mid\\|>(.*)".r
        o match {
          case m(pre, suf, mid) =>
            val got = Seq(pre, mid, suf).flatMap(_.split(" ").filter(_.nonEmpty))
            assert(got.sorted == text.split("\\s+").toSeq.sorted,
              s"doc $id: token multiset not conserved: $o vs $text")
            // prefix ++ middle ++ suffix restores the ORIGINAL order too
            val restored = Seq(pre, mid, suf)
              .flatMap(_.split(" ").filter(_.nonEmpty)).mkString(" ")
            assert(restored == text, s"doc $id: order not restored: $o")
          case _ => fail(s"doc $id: bad FIM shape: $o")
        }
      }
    }
    assert(nFim > 40 && nFim < 160, s"rate 0.6 of eligible docs, got $nFim")
  }

  test("bm25Batch rejects misuse: whitespace terms, duplicate names") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Retrieval.bm25Batch(docs, "doc_id", "text", Seq("x" -> Seq("two words")))
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25Batch(docs, "doc_id", "text",
        Seq("x" -> Seq("a"), "x" -> Seq("b")))
    }
  }

  test("zipfFit: recovers the exponent of a synthetic power law; parallelism-invariant") {
    // stratum "z1": token w_r appears floor(2000/r^1.0) times (alpha=1);
    // stratum "flat": every token equally often (alpha ~= 0, r2 ~= 0 band)
    val z1 = (1 to 120).flatMap(r => Seq.fill(2000 / r)(s"w$r"))
    val flat = (1 to 120).flatMap(r => Seq.fill(50)(s"u$r"))
    // one row per doc of ~25 tokens, stable grouping
    def docs(toks: Seq[String], tag: String) =
      toks.grouped(25).zipWithIndex.map { case (g, i) => (tag, g.mkString(" ")) }.toSeq
    val df = (docs(z1, "z1") ++ docs(flat, "flat")).toDF("lang", "text")
    def run(parts: Int) = Retrieval.zipfFit(df.repartition(parts), "text", "lang", topK = 100)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    val out = run(7)
    val (n1, a1, r2a) = out("z1")
    assert(n1 == 100L)
    assert(math.abs(a1.get - 1.0) < 0.08, s"alpha $a1 should be ~1 for a 1/r corpus")
    assert(r2a.get > 0.98, s"power law should fit tightly, r2=$r2a")
    val (_, aFlat, r2Flat) = out("flat")
    assert(math.abs(aFlat.get) < 0.05, s"uniform corpus has no slope, got $aFlat")
    assert(r2Flat.isEmpty, "constant-frequency stratum has null fit quality")
    assert(run(1) == out && run(13) == out, "zipf fit must be parallelism-invariant")
  }

  test("PMI collocations: exact driver replay incl. quantization, minCount, tie-break") {
    // mixed corpus: a hard-bound pair, a sometimes-bound pair, hash-scattered
    // fillers; doc = "f1 f2 san francisco" or "f1 f2 new york"/"new jersey"
    val docs = (0 until 300).map { i =>
      val f1 = s"w${(i * 2654435761L % 7).toInt}"
      val f2 = s"v${(i * 40503L % 5).toInt}"
      val tail = if (i % 3 == 0) "san francisco"
                 else if (i % 3 == 1) "new york" else "new jersey"
      (i.toLong, s"$f1 $f2 $tail")
    }.toDF("doc_id", "text")
    val got = Retrieval.pmiCollocations(docs, "text", minCount = 40L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

    // driver replay of the exact integer-quantized arithmetic
    val texts = (0 until 300).map { i =>
      val f1 = s"w${(i * 2654435761L % 7).toInt}"
      val f2 = s"v${(i * 40503L % 5).toInt}"
      val tail = if (i % 3 == 0) "san francisco"
                 else if (i % 3 == 1) "new york" else "new jersey"
      s"$f1 $f2 $tail"
    }
    val toks = texts.map(_.split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bi = toks.flatMap(t => t.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nu = uni.values.sum; val nb = bi.values.sum
    def q(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    val want = bi.toSeq.filter(_._2 >= 40L).map { case ((a, b), cab) =>
      val pmiU = q(cab) - q(nb) - q(uni(a)) - q(uni(b)) + 2 * q(nu)
      (s"$a $b", cab, pmiU)
    }.sortBy { case (g, _, p) => (-p, g) }.take(10).map { case (g, c, p) =>
      (g, c, BigDecimal(p.toDouble / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == want, s"got $got\nwant $want")
    // the hard-bound pair must out-rank the split pair with the same left word
    val rank = got.map(_._1).zipWithIndex.toMap
    assert(rank("san francisco") < rank("new york"),
      "always-bound pair must score above the 50/50-bound pair")
  }

  test("negativeSamples: k draws per anchor, no self-hits, healthy coverage, parallelism-invariant") {
    import graft.text.Sampling
    val docs = (0L until 500L).toDF("doc_id")
    def run(parts: Int) = Sampling.negativeSamples(
        docs.repartition(parts), "doc_id", k = 3, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq.sorted
    val out = run(8)
    assert(out.size == 1500, "exactly k rows per anchor")
    assert(out.groupBy(_._1).forall(_._2.map(_._2).sorted == Seq(0, 1, 2)))
    assert(out.forall(x => !x._3.contains(x._1)), "never self as negative")
    // mix32'd draws: coupon-collector expects ~475 distinct of 500; the raw
    // poly31 draw measured 250 (half the indices unreachable) — pin the band
    val distinct = out.flatMap(_._3).distinct.size
    assert(distinct > 400, s"draw coverage collapsed: $distinct/500")
    assert(run(1) == out && run(13) == out, "draws must be deterministic")
  }

  test("curation keeper elected among gate-passing copies; shard sample guard; sparse negatives") {
    import graft.text.{Curation, Packing, Sampling}
    // two exact duplicates with divergent upstream lang labels: the min-id
    // copy fails g_lang, the other passes — the document must SURVIVE
    val body = "the quick brown fox jumps over the lazy dog repeatedly " * 3
    val docs = Seq(
      (1L, body, "xx"), // keeper under the old rule; fails lang gate
      (2L, body, "en"),
      (3L, "another acceptable unique document body with plenty of words here", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Curation.curate(docs, "doc_id", "text", "lang",
        Curation.Gates(minTokens = 5, maxDupFraction = 0.95, minEntropy = 2.0,
          langs = Set("en")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("g_uniq"), r.getAs[Boolean]("keep")))).toMap
    assert(out(1L) == ((false, false)), "gate-failing copy is not the keeper")
    assert(out(2L) == ((true, true)),
      "the passing duplicate copy must survive as keeper")
    assert(out(3L)._2)

    // empty curriculum sample diagnoses instead of NPE
    val few = (0L until 40L).toDF("id").withColumn("s", col("id").cast("double"))
    intercept[IllegalArgumentException] {
      Packing.curriculumShards(few, "id", col("s"), shards = 4,
        sampleRate = 0.000001)
    }

    // sparse corpus (fewer rows than buckets): every (anchor, slot) row
    // survives; empty target buckets yield null negatives, never lost rows
    val sparse = (0L until 20L).toDF("doc_id")
    val negs = Sampling.negativeSamples(sparse, "doc_id", k = 3, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(negs.length == 60, s"rows lost to empty buckets: ${negs.length}")
    assert(negs.exists(_._3.isEmpty), "sparse corpus must show null slots")
    assert(negs.forall(x => !x._3.contains(x._1)))
  }
}
