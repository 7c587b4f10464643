package graft

import org.apache.spark.sql.functions._

/** Round-5 additions: persisted ingest Bloom sketches, shared prefix
  * frames, and the edge-behavior fixes from the round-4 advisory.
  */
class Round5Spec extends GraftSuite {
  import spark.implicits._

  test("bloom-from-index: persisted sketches drive ingest; admissions == dedupIncremental") {
    import graft.text.Dedup
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val root = "/tmp/dedup_index_bloom_spec"
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    // index build persists BOTH sketches as snapshot blobs
    Dedup.writeIndex(corpus, "doc_id", "text", col("lang"), 3, root,
      nBuckets = 8, bloomFpp = Some(0.03))
    assert(graft.lake.IcebergLite.getBlob(root, "bloom-digest").exists(_.nonEmpty))
    assert(graft.lake.IcebergLite.getBlob(root, "bloom-shingle").exists(_.nonEmpty))
    // the index carries signatures only — never the document text — and
    // the lake table committed a snapshot with lineage
    assert(!Dedup.readIndex(spark, root).columns.contains("text"),
      "index must not store corpus text")
    assert(graft.lake.IcebergLite.readSnapshot(root).exists(
      _.lineage.exists(_.contains("dedup-index"))))
    // ingest consumes the sketches: zero bloom builds, zero corpus text
    // access, admitted set identical to the from-scratch path
    val viaIndex = Dedup.withCache {
      Dedup.dedupIncrementalBloomIndexed(batch, root,
        "doc_id", "text", col("lang"), 3, 0.7).as[Long].collect().toSet
    }
    val recomputed = Dedup.withCache {
      Dedup.dedupIncremental(batch, corpus,
        "doc_id", "text", col("lang"), 3, 0.7).as[Long].collect().toSet
    }
    assert(viaIndex == recomputed,
      s"indexed-bloom admissions must equal recomputed: ${viaIndex.size} vs ${recomputed.size}")
  }

  test("dedupIncrementalBloomIndexed refuses an index written without sketches") {
    import graft.text.Dedup
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet").limit(50)
    val root = "/tmp/dedup_index_nobloom_spec"
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    Dedup.writeIndex(docs, "doc_id", "text", col("lang"), 3, root, nBuckets = 4)
    val e = intercept[IllegalStateException] {
      Dedup.dedupIncrementalBloomIndexed(docs, root, "doc_id", "text", col("lang"))
    }
    assert(e.getMessage.contains("bloom"))
  }

  test("hashedBow native kernel == declarative fold over the real corpus + edges") {
    inBothModes {
      val docs = spark.read.parquet(s"$sfSmall/documents.parquet").limit(300)
        .select(col("doc_id"), col("text"))
        .unionByName(Seq(
          (-1L, ""), (-2L, "   "), (-3L, "one"),
          (-4L, "a b c a b a"), (-5L, "\ttabs\nand newlines  mixed\t"))
          .toDF("doc_id", "text"))
      for (dim <- Seq(2, 16, 256)) {
        val bad = docs.select(
          graft.text.TextHash.hashedBow(col("text"), dim).as("nat"),
          graft.text.TextHash.hashedBowDeclarative(col("text"), dim).as("dec"))
          .where(not(col("nat") === col("dec")))
          .count()
        assert(bad === 0, s"native/declarative hashedBow diverge at dim=$dim")
      }
      // null text: both forms null-propagate
      val n = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
        .select(graft.text.TextHash.hashedBow(col("text"), 8).as("nat"),
          graft.text.TextHash.hashedBowDeclarative(col("text"), 8).as("dec"))
        .head()
      assert(n.isNullAt(0) && n.isNullAt(1))
    }
  }

  test("blocklist: broadcast-join path == literal path on a seeded corpus") {
    // real corpus + planted rows that hit each rule class: whole-token
    // word, mid-token non-hit, multi-space phrase, shared-first-token
    // phrases, case folding
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet").limit(200)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (-1L, "this has dup inside"), (-2L, "duplicate is not dup-licate"),
        (-3L, "a SORT   merge here"), (-4L, "sort scan and sort merge both"),
        (-5L, "sortmerge glued misses"), (-6L, "Table  Scan case folds"),
        (-7L, ""), (-8L, "slow"),
        (-9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val terms = Seq("dup", "slow", "sort merge", "sort scan", "Table  Scan")
    val lit_ = graft.text.Blocklist.score(docs, col("text"), terms)
      .select(col("doc_id"), col("n_word_hits"), col("n_phrase_hits"), col("blocked"))
    val join_ = graft.text.Blocklist.scoreJoin(docs, "doc_id", col("text"),
        terms.toDF("term"))
      .select(col("doc_id"), col("n_word_hits"), col("n_phrase_hits"), col("blocked"))
    assert(lit_.except(join_).count() === 0 && join_.except(lit_).count() === 0,
      "literal and broadcast-join blocklists must give identical verdicts")
    // sanity on the planted rows
    val m = join_.where(col("doc_id") < 0).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(m(-1L) == ((1, 0, true)) && m(-2L) == ((0, 0, false)))
    assert(m(-3L) == ((0, 1, true)) && m(-4L) == ((0, 2, true)))
    assert(m(-5L) == ((0, 0, false)) && m(-6L) == ((0, 1, true)))
    assert(m(-7L) == ((0, 0, false)) && m(-8L) == ((1, 0, true)))
    // null text scores ZERO hits on BOTH paths (un-coalesced size(null)
    // used to null the literal path's counts and poison `blocked`)
    assert(m(-9L) == ((0, 0, false)))
  }

  test("weighted quantile: window path == buffered aggregate on real groups") {
    import graft.stats.WeightedStats
    val li = spark.read.parquet(s"$sfSmall/lineitem.parquet")
    val agg = li.groupBy(col("l_returnflag")).agg(
      WeightedStats.weightedQuantile(
        col("l_extendedprice"), col("l_quantity"), 0.5).as("wq50"),
      WeightedStats.weightedQuantile(
        col("l_extendedprice"), col("l_quantity"), 0.25).as("wq25"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val win = WeightedStats.weightedQuantilesGrouped(li, Seq("l_returnflag"),
      col("l_extendedprice"), col("l_quantity"),
      Seq("wq50" -> 0.5, "wq25" -> 0.25))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(win.keySet == agg.keySet)
    win.keySet.foreach { k =>
      assert(approx(win(k)._1, agg(k)._1) && approx(win(k)._2, agg(k)._2),
        s"window/aggregate quantiles diverge for $k: ${win(k)} vs ${agg(k)}")
    }
  }

  test("weighted quantile window path: a 10^6-row SINGLE group, checked against a driver replay") {
    import graft.stats.WeightedStats
    // one mega-group — the shape whose collected buffer makes the
    // aggregate form uncomfortable; the window path is O(1) state/row.
    // Deterministic integral values/weights → exact double arithmetic.
    val n = 1000000
    val df = spark.range(n).select(
      lit("g").as("g"),
      pmod(xxhash64(col("id")), lit(10000L)).cast("double").as("v"),
      (pmod(xxhash64(col("id"), lit(1)), lit(9L)) + 1L).cast("double").as("w"))
    val got = WeightedStats.weightedQuantilesGrouped(df, Seq("g"),
      col("v"), col("w"), Seq("wq50" -> 0.5, "wq90" -> 0.9))
      .head()
    // driver replay of the same virtual-index walk
    val rows = df.select(col("v"), col("w")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sorted
    val tw = rows.map(_._2).sum
    def replay(q: Double): Double = {
      val h = q * (tw - 1.0)
      var cum = 0.0; var vlo = Double.NaN; var vhi = Double.NaN
      rows.foreach { case (v, w) =>
        cum += w
        if (vlo.isNaN && cum > math.floor(h)) vlo = v
        if (vhi.isNaN && cum > math.ceil(h)) vhi = v
      }
      vlo + (h - math.floor(h)) * (vhi - vlo)
    }
    assert(approx(got.getDouble(1), replay(0.5), 1e-12),
      s"wq50 ${got.getDouble(1)} != ${replay(0.5)}")
    assert(approx(got.getDouble(2), replay(0.9), 1e-12),
      s"wq90 ${got.getDouble(2)} != ${replay(0.9)}")
  }

  test("resolveClusters convergence bound: a 10^5-edge chain closes within log2(n)+1 rounds") {
    // the long chain is CC's worst case (diameter = edge count); pointer
    // jumping must keep rounds logarithmic. The 10^7-edge evidence run is
    // recorded in BASELINE.md §6; this pins the same bound at spec scale,
    // driver finish DISABLED so the bound tests pure BSP propagation.
    // resolveClusters throws when it does not converge within maxRounds,
    // so maxRounds = bound IS the assertion.
    val n = 100000L
    val pairs = spark.range(n)
      .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
    val bound = (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 1
    val out = graft.text.Dedup.resolveClusters(pairs, maxRounds = bound,
      driverFinishEdges = 0)
    val agg = out.agg(count_distinct(col("cluster_id")), max(col("cluster_id")),
      count(lit(1))).head()
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 0L && agg.getLong(2) == n + 1)
  }

  test("Aho-Corasick automaton: classic overlap set + distinct-count semantics") {
    import graft.functions.AcAutomaton
    // the textbook fail-chain stress: patterns that are suffixes/prefixes
    // of each other must all fire from one pass
    val ac = new AcAutomaton(Array("he", "she", "his", "hers"))
    assert(ac.countDistinct("ushers") === 3)   // she, he, hers
    assert(ac.countDistinct("his hers") === 3) // his, he, hers
    assert(ac.countDistinct("h e l l o") === 0)
    assert(ac.countDistinct("") === 0)
    assert(ac.countDistinct("hehehe") === 1)   // distinct, not occurrences
    // the automaton ships to executors inside the serialized plan on a
    // real cluster (local mode never exercises that path) — roundtrip it
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(ac)
    val ac2 = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[graft.functions.AcAutomaton]
    assert(ac2.countDistinct("ushers") === 3 && ac2.countDistinct("x") === 0)
  }

  test("Aho-Corasick: randomized differential vs String.contains over a 2-char alphabet") {
    // tiny alphabet maximizes shared prefixes/suffixes — the hardest case
    // for goto/fail construction; seeded, so failures reproduce
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 1 to 50) {
      val pats = (1 to (2 + rnd.nextInt(8))).map(_ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => if (rnd.nextBoolean()) 'a' else 'b')
          .mkString).distinct.toArray
      val ac = new graft.functions.AcAutomaton(pats)
      for (_ <- 1 to 20) {
        val text = (0 until rnd.nextInt(40)).map(_ =>
          if (rnd.nextBoolean()) 'a' else 'b').mkString
        val expected = pats.count(text.contains(_))
        val got = ac.countDistinct(text)
        assert(got === expected,
          s"trial $trial: patterns=${pats.mkString(",")} text=$text: ac=$got contains=$expected")
      }
    }
  }

  test("blocklist phrase gate: automaton == declarative contains on corpus + adversarial phrases") {
    inBothModes {
      // phrases sharing prefixes/suffixes and nested phrases — the shapes a
      // broken fail chain miscounts
      val phrases = Seq("sort merge", "sort merge join", "merge join",
        "join order", "order by x", "a b", "b a")
      val docs = spark.read.parquet(s"$sfSmall/documents.parquet").limit(300)
        .select(col("doc_id"), col("text"))
        .unionByName(Seq(
          (-1L, "a sort merge join order by x here"),
          (-2L, "sort  merge   join"), (-3L, "a b a b a"),
          (-4L, "SORT MERGE"), (-5L, "")).toDF("doc_id", "text"))
      val canon = phrases.map(_.trim.toLowerCase.split("\\s+").mkString(" "))
      val out = docs.select(col("doc_id"),
        graft.functions.MultiContainsCount(
          concat(lit(" "),
            regexp_replace(lower(trim(col("text"))), "\\s+", " "), lit(" ")),
          canon.sorted.map(p => s" $p ")).as("ac"),
        graft.text.Blocklist.phraseHitsDeclarative(col("text"), canon).as("dec"))
      assert(out.where(col("ac") =!= col("dec")).count() === 0,
        "automaton and contains-per-phrase must count identically")
      val m = out.where(col("doc_id") < 0).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // -1: "sort merge", "sort merge join", "merge join", "join order",
      //     "order by x", "a b" (from "a sort"? no — whole-token: " a b "
      //     needs tokens a,b adjacent — not present) → 5
      assert(m(-1L) === 5, s"got ${m(-1L)}")
      assert(m(-2L) === 3) // whitespace canonicalization folds runs
      assert(m(-3L) === 2) // "a b" and "b a"
      assert(m(-4L) === 1) // case folds
      assert(m(-5L) === 0)
    }
  }

  test("winnow: null text selects nothing (empty array), matching the shorter-than-k rule") {
    val df = Seq((1L, "abcdefghij"), (2L, null.asInstanceOf[String]), (3L, "ab"))
      .toDF("id", "text")
    val out = df.select(col("id"),
      graft.text.TextHash.winnow(col("text"), k = 4, w = 3).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L).nonEmpty, "long doc must fingerprint")
    assert(out(2L) != null && out(2L).isEmpty, "null text must select nothing")
    assert(out(3L) != null && out(3L).isEmpty, "short text must select nothing")
  }
}
