package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based parity of native kernels against their declarative
  * twins over generated arrays and text the bench never makes: empty
  * arrays, null elements, null, empty and whitespace-only text, surrogate
  * pairs, and kernel parameters outside the bench's. Draws come from a
  * fixed seed, so a failure reproduces; each kernel is checked in one
  * Spark job over all draws.
  */
class KernelParitySpec extends GraftSuite {
  import spark.implicits._

  private def arrays[T](elem: Gen[T], maxLen: Int): Gen[Seq[Option[T]]] =
    Gen.choose(0, maxLen).flatMap(n => Gen.listOfN(n,
      Gen.frequency(1 -> Gen.const(None), 6 -> elem.map(Option(_)))))

  /** Null, empty and whitespace-only text, and text from a small alphabet
    * (so windows and k-grams repeat) with mixed case, whitespace runs and
    * surrogate-pair code points.
    */
  private val texts: Gen[Option[String]] = {
    val piece = Gen.frequency(
      6 -> Gen.oneOf("a", "b", "ab", "ba", "Ab", "the", "THE", "x"),
      3 -> Gen.oneOf(" ", "  ", "\t", "\n "),
      2 -> Gen.oneOf("\uD83D\uDE00", "\uD834\uDD1E", "é", "ß", "日"))
    Gen.frequency(1 -> Gen.const(None),
      10 -> Gen.choose(0, 24).flatMap(Gen.listOfN(_, piece)).map(p => Some(p.mkString)))
  }
  private val textEdges = Seq(None, Some(""), Some(" "), Some("\uD83D\uDE00"),
    Some("\uD83D\uDE00 \uD83D\uDE00 \uD834\uDD1E"), Some("ab ab ab"))

  test("MinhashBandKeys == bandKeys(minhashSig(sh)) over generated arrays") {
    import graft.functions.MinhashBandKeys
    import graft.text.TextHash
    // shingle hashes live in [0, 2^32): the twin's pmod stays ANSI-safe
    val hash = Gen.frequency(
      6 -> Gen.choose(0L, TextHash.M - 1),
      1 -> Gen.oneOf(0L, 1L, TextHash.M - 1))
    val rows = draws(arrays(hash, 24), 300) ++
      Seq(Seq.empty, Seq(None), Seq(None, None), Seq(Some(7L), None))
    val df = rows.map(Tuple1(_)).toDF("sh")
    // (numHashes, bands): the bench runs only (8, 4)
    val params = Seq((1, 1), (3, 3), (6, 2), (10, 5), (16, 1), (24, 8))
    inBothModes {
      val got = df.select(params.flatMap { case (h, b) => Seq(
        MinhashBandKeys(col("sh"), h, b),
        TextHash.bandKeys(TextHash.minhashSig(col("sh"), h), b, h / b))
      }: _*).collect()
      for ((r, i) <- got.zipWithIndex; ((h, b), p) <- params.zipWithIndex) {
        val (nat, dec) = (r.getSeq[Any](2 * p), r.getSeq[Any](2 * p + 1))
        assert(nat === dec, s"numHashes=$h bands=$b sh=${rows(i)}")
      }
      // null elements are skipped, not read as hash 0
      val skip = Seq(Seq(Some(5L), None)).toDF("sh").select(
        MinhashBandKeys(col("sh"), 4, 2), MinhashBandKeys(array(lit(5L)), 4, 2))
        .head()
      assert(skip.getSeq[Long](0) === skip.getSeq[Long](1))
    }
  }

  test("SignBucketD == zip_with/aggregate sign fold over generated vectors") {
    import graft.ann.Ann
    val x = Gen.frequency(
      8 -> Gen.choose(-1e3, 1e3),
      1 -> Gen.oneOf(0.0, -0.0, 1e-300, -1e-300, 1e300))
    val rows = draws(arrays(x, 40), 300) ++
      Seq(Seq.empty, Seq(None), Seq(Some(1.0), None))
    val df = rows.map(Tuple1(_)).toDF("v")
    // the bench runs only 4 and 6 planes
    val planes = Seq(1, 2, 13, 31, 62)
    inBothModes {
      val got = df.select(planes.flatMap(p => Seq(
        graft.functions.SignBucketD(col("v"), p),
        Ann.signBucketDeclarative(col("v"), p))): _*).collect()
      for ((r, i) <- got.zipWithIndex; (p, j) <- planes.zipWithIndex)
        assert(r.getLong(2 * j) === r.getLong(2 * j + 1),
          s"planes=$p v=${rows(i)}")
      assert(got.exists(_.getLong(2 * planes.indexOf(62)) > (1L << 40)),
        "no draw set a high bit: the 62-plane case was not exercised")
    }
  }

  test("SortedIntersectCount == size(array_intersect) over sorted distinct arrays") {
    import graft.functions.SortedIntersectCount
    // a narrow value range so generated pairs share elements
    val set = Gen.listOf(Gen.choose(-30L, 30L)).map(_.distinct.sorted)
    val rows = draws(Gen.zip(set, set), 300) ++ Seq(
      (Nil, Nil), (Nil, List(1L)), (List(1L), Nil), (List(4L), List(4L)),
      (List(Long.MinValue, 0L, Long.MaxValue), List(Long.MinValue, Long.MaxValue)))
    val df = rows.toDF("a", "b")
    inBothModes {
      val got = df.select(SortedIntersectCount(col("a"), col("b")),
        size(array_intersect(col("a"), col("b")))).collect()
      for ((r, i) <- got.zipWithIndex)
        assert(r.getInt(0) === r.getInt(1), s"(a, b) = ${rows(i)}")
      assert(got.exists(_.getInt(0) >= 3), "no draw shared three elements")
      // a null side is a null count, never a call
      val n = Seq((Seq(1L), null.asInstanceOf[Seq[Long]])).toDF("a", "b")
        .select(SortedIntersectCount(col("a"), col("b"))).head()
      assert(n.isNullAt(0))
      // hand value: {1, 3, 9} ∩ {3, 9, 11} = {3, 9}
      assert(spark.range(1).select(SortedIntersectCount(
        array(lit(1L), lit(3L), lit(9L)), array(lit(3L), lit(9L), lit(11L))))
        .head().getInt(0) == 2)
    }
  }

  test("Erf == commons-math3 erf within the A&S 7.1.26 bound over generated doubles") {
    import org.apache.commons.math3.special.{Erf => Exact}
    val x = Gen.frequency(
      6 -> Gen.choose(-3.0, 3.0),
      2 -> Gen.choose(-40.0, 40.0),
      1 -> Gen.oneOf(0.0, -0.0, 1e-300, -1e-300, 1e300, -1e300,
        Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN))
    val rows = draws(Gen.option(x), 400) ++
      Seq(None, Some(0.0), Some(-0.0), Some(Double.PositiveInfinity),
        Some(Double.NegativeInfinity), Some(Double.NaN))
    val df = rows.map(Tuple1(_)).toDF("x")
    inBothModes {
      val got = df.select(graft.functions.Erf(col("x"))).collect()
      for ((r, i) <- got.zipWithIndex) rows(i) match {
        case None => assert(r.isNullAt(0), "null in, null out")
        case Some(v) if v.isNaN => assert(r.getDouble(0).isNaN, "NaN in, NaN out")
        case Some(v) =>
          assert(math.abs(r.getDouble(0) - Exact.erf(v)) <= 1.5e-7, s"x=$v")
      }
      val inf = Seq(Double.PositiveInfinity, Double.NegativeInfinity).toDF("x")
        .select(graft.functions.Erf(col("x"))).as[Double].collect()
      assert(inf.toSeq == Seq(1.0, -1.0))
    }
  }

  test("DotProductD == zip_with/aggregate fold over generated vector pairs") {
    import graft.ann.Ann
    val x = Gen.frequency(
      8 -> Gen.choose(-1e3, 1e3),
      1 -> Gen.oneOf(0.0, -0.0, 1e-300, 1e300, Double.NaN, Double.PositiveInfinity))
    // equal lengths half the time, independent (mostly mismatched) otherwise
    val pair = Gen.oneOf(
      Gen.choose(0, 12).flatMap(n => Gen.zip(
        Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None), 8 -> x.map(Option(_)))),
        Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None), 8 -> x.map(Option(_)))))),
      Gen.zip(arrays(x, 12), arrays(x, 12)))
    val rows = draws(pair, 400) ++ Seq(
      (Nil, Nil), (Seq(Some(1.0)), Nil), (Seq(None), Seq(None)),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), Some(4.0))))
    val df = rows.toDF("a", "b")
    inBothModes {
      val got = df.select(Ann.dot(col("a"), col("b")), Ann.dotDeclarative(col("a"), col("b")),
        Ann.dot(col("a"), lit(null).cast("array<double>"))).collect()
      for ((r, i) <- got.zipWithIndex) {
        assert(r.isNullAt(0) === r.isNullAt(1), s"(a, b) = ${rows(i)}")
        if (!r.isNullAt(0)) assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)), s"(a, b) = ${rows(i)}")
        assert(r.isNullAt(2), "a null vector has no dot")
      }
      assert(got.count(_.isNullAt(0)) > 50 && got.count(!_.isNullAt(0)) > 50,
        "draws did not mix null and non-null results")
      assert(got(rows.size - 4).getDouble(0) == 0.0 && got(rows.size - 1).getDouble(0) == 11.0)
    }
  }

  test("WindowHashes == declarative window-hash frame over generated text") {
    import graft.text.Spans
    val rows = draws(texts, 300) ++ textEdges
    val docs = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // the bench runs only k = 8 and 13
    inBothModes {
      for (k <- Seq(2, 3, 5, 21)) {
        val nat = Spans.winHashFrame(docs, "doc_id", "text", k).collect().map(_.toSeq)
        val dec = Spans.winHashFrameDeclarative(docs, "doc_id", "text", k)
          .collect().map(_.toSeq)
        assert(nat.sortBy(_.mkString(",")) === dec.sortBy(_.mkString(",")), s"k=$k")
        if (k <= 5) assert(nat.nonEmpty, s"no draw had $k tokens")
      }
    }
  }

  test("WinnowHashes == declarative winnow over generated text") {
    import graft.text.TextHash
    val rows = draws(texts, 300) ++ textEdges
    val df = rows.map(Tuple1(_)).toDF("text")
    // (k, w): the bench runs only (8, 4); w = 1 selects every gram, and
    // w past the gram count selects the one global minimum
    val params = Seq((2, 1), (2, 3), (3, 2), (5, 7), (4, 40))
    inBothModes {
      val got = df.select(params.flatMap { case (k, w) => Seq(
        TextHash.winnow(col("text"), k, w), TextHash.winnowDeclarative(col("text"), k, w))
      }: _*).collect()
      for ((r, i) <- got.zipWithIndex; ((k, w), p) <- params.zipWithIndex)
        assert(r.getSeq[Long](2 * p) === r.getSeq[Long](2 * p + 1),
          s"k=$k w=$w text=${rows(i)}")
      assert(got.exists(_.getSeq[Long](0).size >= 5), "no draw had five 2-grams")
    }
  }

  test("CharEntropy == declarative entropy fold over generated text") {
    import graft.text.TextQuality
    val rows = draws(texts, 300) ++ textEdges
    val df = rows.map(Tuple1(_)).toDF("text")
    inBothModes {
      val got = df.select(TextQuality.charEntropy(col("text")),
        TextQuality.charEntropyDeclarative(col("text"))).collect()
      for ((r, i) <- got.zipWithIndex) {
        assert(r.isNullAt(0) === rows(i).isEmpty && r.isNullAt(1) === rows(i).isEmpty,
          s"text=${rows(i)}")
        if (!r.isNullAt(0)) assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)), s"text=${rows(i)}")
      }
    }
  }

  test("PolyHash == code-point fold (h·31 + cp) mod 2^32 over generated text") {
    import graft.text.TextHash
    def fold(t: String): Long =
      t.codePoints().toArray.foldLeft(0L)((h, cp) => (h * 31 + cp) % (1L << 32))
    val rows = draws(texts, 300) ++ textEdges
    val df = rows.map(Tuple1(_)).toDF("text")
    inBothModes {
      val got = df.select(graft.functions.PolyHash(col("text")),
        TextHash.polyHash(col("text"))).collect()
      for ((r, i) <- got.zipWithIndex) rows(i) match {
        case None =>
          assert(r.isNullAt(0) && r.getLong(1) == 0L, "null text: null kernel, polyHash 0")
        case Some(t) =>
          assert(r.getLong(0) == fold(t) && r.getLong(1) == fold(t), s"text=$t")
      }
      assert(rows.flatten.exists(t => t.codePointCount(0, t.length) < t.length),
        "no draw had a surrogate pair")
    }
  }

  test("HashedBow == declarative per-token bucket fold over generated text") {
    import graft.text.TextHash
    val rows = draws(texts, 300) ++ textEdges
    val df = rows.map(Tuple1(_)).toDF("text")
    // the bench runs only dim = 256; dim = 1 puts every token in one bucket
    val dims = Seq(1, 3, 7, 100, 255)
    inBothModes {
      val got = df.select(dims.flatMap(dim => Seq(
        TextHash.hashedBow(col("text"), dim), TextHash.hashedBowDeclarative(col("text"), dim))
      ): _*).collect()
      for ((r, i) <- got.zipWithIndex; (dim, p) <- dims.zipWithIndex) {
        assert(r.isNullAt(2 * p) === rows(i).isEmpty && r.isNullAt(2 * p + 1) === rows(i).isEmpty,
          s"dim=$dim text=${rows(i)}")
        if (rows(i).nonEmpty) assert(r.getSeq[Double](2 * p) === r.getSeq[Double](2 * p + 1),
          s"dim=$dim text=${rows(i)}")
      }
      assert(got.exists(r => !r.isNullAt(2) && r.getSeq[Double](2).exists(math.abs(_) >= 2.0)),
        "no draw put two same-signed tokens in one of 3 buckets")
    }
  }

  test("SimHashParts == declarative per-bit vote fold over generated text") {
    import graft.text.TextHash
    val rows = draws(texts, 300) ++ textEdges
    val df = rows.map(Tuple1(_)).toDF("text")
    // the bench runs only words = 2; 8 is the cap. One select per width
    // keeps the declarative twin's 32·words folds per plan small.
    inBothModes {
      for (words <- Seq(1, 5, 8)) {
        val got = df.select(TextHash.simhashParts(col("text"), words),
          TextHash.simhashPartsDeclarative(col("text"), words)).collect()
        // null text: the kernel returns null; the twin's folds read it as
        // no votes (all-zero parts), so only non-null text is compared
        for ((r, i) <- got.zipWithIndex) rows(i) match {
          case None => assert(r.isNullAt(0), s"words=$words: null text, null parts")
          case Some(t) => assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"words=$words text=$t")
        }
        assert(got.exists(r => !r.isNullAt(0) && r.getSeq[Long](0).last != 0L),
          s"words=$words: no draw set a bit of the last part")
      }
    }
  }

  test("NfcNormalize == java.text.Normalizer NFC over generated decomposed text") {
    import java.text.Normalizer
    // decomposed and composable sequences beside the plain pieces: e +
    // combining acute, A + ring, Hangul jamo, the Ångström sign (a
    // singleton that NFC maps to Å), marks out of canonical order
    val decomposed = Gen.oneOf("e\u0301", "A\u030A", "\u1100\u1161\u11A8", "\u212B",
      "a\u0307\u0323", "\u0301", "o\u0308\u0304")
    val nfcTexts = Gen.frequency(1 -> Gen.const(None), 10 -> Gen.choose(0, 16).flatMap(
      Gen.listOfN(_, Gen.frequency(3 -> texts.map(_.getOrElse("")), 2 -> decomposed)))
      .map(p => Some(p.mkString)))
    val rows = draws(nfcTexts, 300) ++ textEdges ++ Seq(Some("e\u0301"), Some("\u0301"))
    val df = rows.map(Tuple1(_)).toDF("text")
    inBothModes {
      val got = df.select(graft.functions.NfcNormalize(col("text"))).collect()
      for ((r, i) <- got.zipWithIndex) rows(i) match {
        case None => assert(r.isNullAt(0), "null in, null out")
        case Some(t) =>
          assert(r.getString(0) === Normalizer.normalize(t, Normalizer.Form.NFC), s"text=$t")
      }
      assert(rows.flatten.count(t => !Normalizer.isNormalized(t, Normalizer.Form.NFC)) > 50,
        "draws did not exercise the composing path")
    }
  }

  test("MultiContainsCount == declarative contains-per-pattern count over generated patterns") {
    // overlapping, nested and repeated patterns over the text alphabet,
    // surrogate pairs included; a repeated pattern counts once per copy
    val pattern = Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(
      "a", "b", "ab", "ba", "aa", "th", "the", "e", " ", "\uD83D\uDE00", "\u00E9", "\u65E5")))
      .map(_.mkString)
    // the bench runs only its own phrase lists; these range from one
    // pattern to sixty
    val sets = draws(Gen.choose(1, 60).flatMap(Gen.listOfN(_, pattern)), 6) :+ List("a", "a")
    val rows = draws(texts, 300) ++ textEdges
    val df = rows.map(Tuple1(_)).toDF("text")
    inBothModes {
      val got = df.select(sets.flatMap(ps => Seq(
        graft.functions.MultiContainsCount(col("text"), ps),
        size(filter(lit(ps.toArray), p => contains(col("text"), p))))): _*).collect()
      for ((r, i) <- got.zipWithIndex; (ps, s) <- sets.zipWithIndex) rows(i) match {
        case None => assert(r.isNullAt(2 * s), "null text: null count")
        case Some(t) => assert(r.getInt(2 * s) === r.getInt(2 * s + 1),
          s"patterns=$ps text=$t")
      }
      val last = 2 * (sets.size - 1)
      assert(got.exists(r => !r.isNullAt(last) && r.getInt(last) == 2),
        "the repeated pattern never matched")
    }
  }

  /** Packed sums against [[ScalarSums]] on one partition (bit for bit)
    * and on three (1e-12 relative, NaN and ±Inf equal), with every count
    * equal.
    */
  private def sameSums(a: Seq[Double], b: Seq[Double], exact: Boolean, what: => String): Unit = {
    assert(a.size === b.size, what)
    for ((x, y) <- a.zip(b)) assert(
      if (exact) java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
      else x == y || approx(x, y, 1e-12), s"$what: $x vs $y\n$a\n$b")
  }
  private def partitionings(df: org.apache.spark.sql.DataFrame) =
    Seq(true -> df.coalesce(1), false -> df.repartition(3, col("id")))

  /** A frame of `rows` rows: id, then the given columns; `cell(c)` draws
    * column c's values.
    */
  private def frame(names: Seq[String], rows: Int, cell: Int => Gen[Option[Double]]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val gen = Gen.sequence[Seq[Option[Double]], Option[Double]](names.indices.map(cell))
    val data = draws(gen, rows).zipWithIndex.map { case (v, i) =>
      Row.fromSeq(i.toLong +: v.map(_.map(Double.box).orNull))
    }
    val schema = StructType(StructField("id", LongType) +:
      names.map(StructField(_, DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
  }
  private def value(bad: Int): Gen[Option[Double]] = Gen.frequency(
    bad -> Gen.oneOf(None, Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity)),
    40 -> Gen.choose(-10.0, 10.0).map(Some(_)))

  test("packed Gram sums == scalar-sum twin: d 1..20, nulls, NaN, ±Inf, keys, 16 weights") {
    import graft.expr.Gram
    // per d: rows (0 = the empty frame), bad-value weight, key, weighted
    // (few d: the twin plans one sum per slot, 16·(d+1)(d+2)/2 of them)
    val cases = (1 to 20).map(d =>
      (d, if (d % 7 == 3) 0 else 5 + 3 * d, d % 3, d % 4 == 1, Set(2, 5, 6).contains(d)))
    for ((d, rows, bad, keyed, weighted) <- cases) {
      val zs = (0 until d).map(i => s"z$i"); val ws = (0 until 16).map(b => s"w$b")
      // bootstrap-like weights 0/1/2, sometimes null; w7 is null on every row
      val w: Gen[Option[Double]] = Gen.frequency(1 -> Gen.const(None),
        8 -> Gen.choose(0, 2).map(k => Some(k.toDouble)))
      val df = frame(zs ++ ws :+ "k", rows, c =>
        if (c < d) value(bad)
        else if (c == d + 7) Gen.const(None)
        else if (c < d + 16) w
        // key: null, or fold 0, 1 or 3 (fold 2 is empty)
        else Gen.oneOf(None, Some(0.0), Some(1.0), Some(3.0)))
      val z = zs.map(col) :+ lit(1.0)
      val weights = if (weighted) ws.map(col) else Nil
      val key = if (keyed) Some(col("k").cast("int")) else None
      for ((exact, part) <- partitionings(df)) {
        val twin = ScalarSums.gram(part, z, weights, key)
        val packed = Gram.sums(part, z, weights, key).collect().map { r =>
          (if (keyed) r.get(0) else null) -> (r.getLong(key.size), r.getSeq[Double](key.size + 1))
        }.toMap
        val what = s"d=$d rows=$rows bad=$bad keyed=$keyed weighted=$weighted exact=$exact"
        assert(packed.keySet === twin.keySet, what)
        for ((k, (n, s)) <- twin) {
          assert(packed(k)._1 === n, s"$what key=$k")
          sameSums(packed(k)._2.toSeq, s, exact, s"$what key=$k")
        }
        if (keyed && rows > 0) assert(!packed.contains(2) && packed.contains(null), what)
      }
    }
  }

  test("packed candidate sums == scalar-sum twin: null y, all-bad and half-bad candidates") {
    import graft.expr.Scoring
    for ((nc, rows) <- Seq((1, 0), (1, 30), (4, 17), (9, 40), (20, 25))) {
      val fs = (0 until nc).map(c => s"f$c")
      // column c > 0 is candidate c − 1: clean, half bad or all bad by (c − 1) % 3;
      // y is sometimes null or NaN
      val df = frame("y" +: fs, rows, {
        case 0 => Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)),
          20 -> Gen.choose(-10.0, 10.0).map(Some(_)))
        case c => (c - 1) % 3 match {
          case 0 => value(0)
          case 1 => Gen.oneOf(value(0), value(1000))
          case _ => value(1000).map(_.filter(v => v.isNaN || v.isInfinite))
        }
      })
      for ((exact, part) <- partitionings(df)) {
        val what = s"candidates=$nc rows=$rows exact=$exact"
        val packed = Scoring.sums(part, col("y"), fs.map(col)).head().getSeq[Double](0)
        val twin = ScalarSums.score(part, col("y"), fs.map(col))
        sameSums(packed.toSeq, twin, exact, what)
        // the counts: every n and the total are whole and equal
        for (i <- (0 until nc).map(6 * _) :+ 6 * nc) assert(packed(i) == twin(i), s"$what slot $i")
      }
    }
  }

  test("a kernel over a column Spark cannot cast to its input type fails at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq(1L, 2L)).toDF("a").select(graft.functions.PolyHash(col("a")))
    }
    assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), e.getMessage)
  }
}
