package graft

import org.apache.spark.sql.functions._

/** Round-6 optimization parity pins: every kernel/rewrite this round is
  * value-identical to the (slower) round-5 form it replaced — each test
  * compares the live path against the retained declarative/legacy twin on
  * the real sf0.001 corpus plus adversarial edges.
  */
class Round6Spec extends GraftSuite {
  import spark.implicits._

  test("DotProductD kernel == zip_with/aggregate fold (values + null rules)") {
    inBothModes {
      import graft.ann.Ann
      val e = spark.read.parquet(s"$sfSmall/embeddings.parquet")
        .select(col("vec_id"), Ann.toDouble(col("embedding")).as("v"))
      // self pairs at an offset exercise real vectors on both sides
      val pairs = e.as("a").join(e.as("b"),
        col("a.vec_id") === col("b.vec_id") + 7)
        .select(col("a.v").as("va"), col("b.v").as("vb"))
      val bad = pairs.select(
        Ann.dot(col("va"), col("vb")).as("nat"),
        Ann.dotDeclarative(col("va"), col("vb")).as("dec"))
        .where(!(col("nat") === col("dec")) ||
          col("nat").isNull =!= col("dec").isNull)
        .count()
      assert(bad === 0, "native dot diverges from the HOF fold")
      // edges: empty == 0.0; mismatched lengths and null elements are null
      // on BOTH paths (zip_with pads/nulls, the kernel mirrors it)
      val edges = Seq(
        (Seq.empty[Double], Seq.empty[Double]),
        (Seq(1.0, 2.0), Seq(3.0, 4.0)),
        (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
      val got = edges.select(Ann.dot(col("a"), col("b")).as("nat"),
        Ann.dotDeclarative(col("a"), col("b")).as("dec")).collect()
      got.foreach { r =>
        assert(r.isNullAt(0) === r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
      }
      assert(got(0).getDouble(0) === 0.0 && got(1).getDouble(0) === 11.0 &&
        got(2).isNullAt(0))
    }
  }

  test("cosine with precomputed norms == per-pair cosine (embeddingPairs path)") {
    import graft.ann.Ann
    val e = spark.read.parquet(s"$sfSmall/embeddings.parquet")
      .select(col("vec_id"), Ann.toDouble(col("embedding")).as("v"))
      .withColumn("n", Ann.norm(col("v")))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(5000)
    val bad = pairs.select(
      (Ann.dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n"))).as("pre"),
      Ann.cosine(col("a.v"), col("b.v")).as("inline"))
      .where(!(col("pre") === col("inline"))).count()
    assert(bad === 0, "precomputed-norm cosine must be bit-identical")
  }

  test("WinnowHashes kernel == declarative winnow over corpus + edges") {
    inBothModes {
      import graft.text.TextHash
      val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
        .select(col("doc_id"), col("text"))
        .unionByName(Seq((-1L, ""), (-2L, "short"), (-3L, "exactly8"),
          (-4L, "aaaaaaaaaaaaaaaa"), (-5L, "ab"),
          (-6L, "mixed é世界 unicode text with runs runs runs"))
          .toDF("doc_id", "text"))
      val bad = docs.select(
        TextHash.winnow(col("text"), 8, 4).as("nat"),
        TextHash.winnowDeclarative(col("text"), 8, 4).as("dec"))
        .where(!(col("nat") === col("dec"))).count()
      assert(bad === 0, "winnow kernel diverges from declarative twin")
      // w = 1 (every gram selected) and w > gram count (single global min)
      val bad2 = docs.select(
        TextHash.winnow(col("text"), 2, 1).as("n1"),
        TextHash.winnowDeclarative(col("text"), 2, 1).as("d1"),
        TextHash.winnow(col("text"), 3, 1000).as("n2"),
        TextHash.winnowDeclarative(col("text"), 3, 1000).as("d2"))
        .where(!(col("n1") === col("d1")) || !(col("n2") === col("d2"))).count()
      assert(bad2 === 0, "winnow boundary rules diverge")
    }
  }

  test("WindowHashes kernel == declarative window-hash frame (k=8 and k=13)") {
    inBothModes {
      import graft.text.Spans
      val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
        .select(col("doc_id"), col("text"))
        .unionByName(Seq((-1L, ""), (-2L, "one two"),
          (-3L, "exactly eight tokens here to hit the boundary"))
          .toDF("doc_id", "text"))
      for (k <- Seq(8, 13)) {
        val nat = Spans.duplicateSpans(docs, "doc_id", "text", k)
          .collect().map(_.toSeq).toSet
        val natFrame = Spans.winHashFrame(docs, "doc_id", "text", k)
          .collect().map(_.toSeq).toSet
        val decFrame = Spans.winHashFrameDeclarative(docs, "doc_id", "text", k)
          .collect().map(_.toSeq).toSet
        assert(natFrame === decFrame, s"window-hash rows diverge at k=$k")
        assert(nat.nonEmpty || k == 13) // sanity: k=8 finds the corpus dups
      }
    }
  }

  test("bloomPairOf: two-pass codegen sketches admit every corpus key") {
    import graft.text.Dedup
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet").limit(400)
    Dedup.withCache {
      val prep = Dedup.signatures(docs, "doc_id", "text", col("lang"), 3)
      val (dg, sh) = Dedup.bloomPairOf(prep, 0.03)
      // the correctness contract: NO false negatives — every corpus
      // digest and every corpus shingle must probe positive (admission
      // equality in the incremental operators depends on exactly this;
      // the sketch SIZE only tunes the realized fpp)
      val missDg = prep.where(
        !org.apache.spark.sql.GraftBridge.mightContain(dg, xxhash64(col("__md5")))).count()
      val missSh = prep.select(explode(col("sh")).as("k"))
        .where(!org.apache.spark.sql.GraftBridge.mightContain(sh, col("k"))).count()
      assert(missDg === 0, s"$missDg digests rejected by their own sketch")
      assert(missSh === 0, s"$missSh shingles rejected by their own sketch")
      // and the bytes are the SAME BloomFilterImpl serialization the
      // stat.bloomFilter path writes (version header + bitmap) — a
      // stat-built filter over identical keys with identical (n, numBits)
      // would be byte-identical; here we pin format compatibility by
      // reading it back through the sketch library
      val back = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(sh))
      assert(back.bitSize() > 0)
    }
  }

  test("Bpe.encode whole-row merge pass == per-word pass (corpus + edges)") {
    import graft.text.Bpe
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (-1L, ""), (-2L, "   "), (-3L, "table"),
        (-4L, "ta ta table tab err or"),
        (-5L, "aaa aaaa scan scanner"),
        (-6L, "T TA TABLE tAbLe"),
        (-7L, "x.y,z table! (scan)"))
        .toDF("doc_id", "text"))
    val merges = graft.SparkEntry.bpeMerges
    val a = Bpe.encode(docs, "doc_id", "text", merges)
      .collect().map(_.toSeq).toSet
    val b = Bpe.encodePerWord(docs, "doc_id", "text", merges)
      .collect().map(_.toSeq).toSet
    assert(a === b, "whole-row BPE encode diverges from per-word twin")
  }

  test("rowStats static fold == HOF array form (q17 inputs)") {
    import graft.featurize.UnionPool
    val li = spark.read.parquet(s"$sfSmall/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val ins = Seq("l_quantity", "l_extendedprice", "l_discount")
    // both forms over the SAME row in one projection ((l_orderkey,
    // l_linenumber) is not unique in the synthetic lineitem, so a re-join
    // compare would pair wrong rows) — the round-5 HOF form inlined
    val arr = array(ins.map(col): _*)
    val n = lit(ins.size.toDouble)
    val mean = aggregate(arr, lit(0.0), _ + _) / n
    val m2 = aggregate(arr, lit(0.0), (acc, x) => acc + x * x) / n
    val both = UnionPool.rowStats(li, ins)
      .withColumn("h_mean", mean)
      .withColumn("h_std", sqrt(m2 - mean * mean))
      .withColumn("h_min", array_min(arr))
      .withColumn("h_max", array_max(arr))
    val bad = both.where(
      !(col("row_mean") === col("h_mean")) ||
        !(col("row_std") === col("h_std")) ||
        !(col("row_min") === col("h_min")) ||
        !(col("row_max") === col("h_max"))).count()
    assert(bad === 0, "static-fold rowStats diverges from the HOF form")
  }

  test("lineDedup single-scan form: hand-built truth table still holds") {
    import graft.text.Dedup
    // 6 docs; line "b" appears in 5 distinct docs -> boilerplate at
    // minDocFreq=5; doc 6 is ALL boilerplate and must keep an empty string
    val docs = Seq(
      (1L, "a1\nb\nc1"), (2L, "b\na2"), (3L, "a3\nb"),
      (4L, "b\nb\na4"), (5L, "a5\nb\na5b"), (6L, "b")).toDF("id", "t")
    val out = Dedup.withCache {
      Dedup.lineDedup(docs, "id", "t", 5L)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    }
    assert(out(1L) === ((3L, 2L, "a1\nc1")))
    assert(out(2L) === ((2L, 1L, "a2")))
    assert(out(4L) === ((3L, 1L, "a4"))) // duplicate line inside ONE doc both stripped
    assert(out(5L) === ((3L, 2L, "a5\na5b")))
    assert(out(6L) === ((1L, 0L, ""))) // all-boilerplate doc: n_lines from its own rows
  }

  test("blocklist rarest-token banding: candidates bounded, verdicts unchanged") {
    import graft.text.Blocklist
    // corpus: "the" in EVERY doc; "zebra" in exactly 2 docs
    val docs = (1L to 200L).map(i =>
      (i, s"the quick doc $i has the common words" +
        (if (i <= 2) " the zebra runs" else ""))).toDF("doc_id", "text")
    // 1000 stop-word-initial phrases sharing tok0 = "the"; one matches
    val phrases = ((1 to 999).map(i => s"the zz$i never") :+ "the zebra")
      .toDF("term")
    val out = Blocklist.scoreJoin(docs, "doc_id", col("text"), phrases)
      .select(col("doc_id"), col("n_phrase_hits"), col("blocked"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1, true)) && out(2L) === ((1, true)))
    assert((3L to 200L).forall(i => out(i) === ((0, false))))
    // banding: every phrase must band on its RAREST corpus token, so the
    // candidate join stays O(docs containing that token), not O(docs)
    val canon = phrases.select(lower(trim(col("term"))).as("__term"))
    val base = docs.select(col("doc_id").as("__bid"),
      array_distinct(graft.text.TextHash.lowerTokens(col("text"))).as("__tk"))
    val toks = base.select(col("__bid"), explode(col("__tk")).as("__tok"))
    val banded = Blocklist.bandPhrases(canon, toks)
    // "the zebra" bands on "zebra" (df=2), never "the" (df=200)
    val zb = banded.where(col("__term") === "the zebra")
      .select(col("__band")).head().getString(0)
    assert(zb === "zebra")
    // unmatched phrases band on their df=0 token -> ZERO candidates
    val cands = toks.join(broadcast(banded), col("__tok") === col("__band"))
    assert(cands.count() === 2L,
      "rarity banding must generate candidates only for docs holding the rare token")
  }

  test("CC driver finishes order string ids by UTF-8 bytes (non-BMP ids)") {
    import graft.text.Dedup
    // U+FFFF sorts BELOW U+10000 in UTF-8/Spark binary order but ABOVE the
    // surrogate-coded U+10000 in Java UTF-16 code-unit order — the keeper
    // must follow Spark's order on BOTH the shortcut and the BSP path
    val hi = "𐀀" // U+10000 (surrogate pair in UTF-16)
    val lo = "￿" // U+FFFF
    val pairs = Seq((hi, lo)).toDF("id_a", "id_b")
    val viaShortcut = Dedup.resolveClusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaBsp = Dedup.resolveClusters(pairs, driverFinishEdges = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaShortcut === viaBsp, "shortcut and BSP keepers diverge")
    assert(viaShortcut(hi) === lo && viaShortcut(lo) === lo,
      "keeper must be the UTF-8 minimum (U+FFFF), not the UTF-16 one")
  }
}

class Round6RegistrySpec extends GraftSuite {

  test("registry wquantileGrouped (window path) == buffered wquantile aggregate") {
    import graft.stats.{StatRegistry, WeightedStats}
    val li = spark.read.parquet(s"$sfSmall/lineitem.parquet")
    val viaRegistry = StatRegistry.wquantileGrouped(
      li, Seq("l_returnflag"), col("l_extendedprice"), col("l_quantity"),
      Seq("wquantile::0.5", "wquantile::0.25"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val agg = li.groupBy(col("l_returnflag")).agg(
      StatRegistry("wquantile::0.5")(col("l_extendedprice"), col("l_quantity"))
        .as("q50"),
      StatRegistry("wquantile::0.25")(col("l_extendedprice"), col("l_quantity"))
        .as("q25"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(viaRegistry.keySet === agg.keySet)
    viaRegistry.foreach { case (k, (a, b)) =>
      assert(a === agg(k)._1 && b === agg(k)._2,
        s"group $k: window route diverges from buffered aggregate")
    }
  }
}

class Round6IngestSpec extends GraftSuite {

  test("3-day indexed ingest loop: every day's admissions == monolithic recompute") {
    import graft.text.Dedup
    val root = "/tmp/graft_ingest_loop_spec"
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    def slice(d: Long) = docs.where(pmod(col("doc_id"), lit(4L)) === d)
    Dedup.writeIndex(slice(0), "doc_id", "text", col("lang"), 3, root,
      nBuckets = 4, bloomFpp = Some(0.03))
    var admittedSoFar = Seq.empty[org.apache.spark.sql.DataFrame]
    for (day <- 1 to 3) {
      val batch = slice(day.toLong)
      val viaIndex = Dedup.withCache {
        Dedup.dedupIncrementalBloomIndexed(batch, root,
          "doc_id", "text", col("lang"), 3, 0.7)
          .collect().map(_.getLong(0)).toSet
      }
      // append admitted rows + refresh blobs; next day reads the grown index
      val admDocs = batch.where(col("doc_id").isin(viaIndex.toSeq: _*))
      Dedup.appendIndex(admDocs, "doc_id", "text", col("lang"), 3, root,
        nBuckets = 4, bloomFpp = Some(0.03))
      val corpusSoFar = admittedSoFar.foldLeft(slice(0))(_ unionByName _)
      val recomputed = Dedup.withCache {
        Dedup.dedupIncremental(batch, corpusSoFar,
          "doc_id", "text", col("lang"), 3, 0.7)
          .collect().map(_.getLong(0)).toSet
      }
      assert(viaIndex === recomputed,
        s"day $day: indexed admissions diverge from monolithic recompute")
      admittedSoFar :+= admDocs
    }
  }
}
