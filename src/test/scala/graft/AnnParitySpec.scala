package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.ann.Ann
import graft.ann.Ann.PqModel

/** Literal-expression twins of Ann's IVF/PQ kernels: every centroid and
  * codeword is inlined into the plan as literal subexpressions, so the plan
  * grows O(nList·dim). Kept only as the parity reference for
  * [[graft.functions.NearestCentroids]], [[graft.functions.PqCodes]] and
  * [[graft.functions.PqLut]].
  */
object AnnLiteral {
  import Ann.{dot, norm}

  /** Literal-expression assignment (the parity reference for the native
    * kernel).
    */
  private[graft] def assignCentroidLiteral(
      df: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val sims = centroids.map { ctr =>
      val carr = array(ctr.map(lit(_)): _*)
      dot(col("cv"), carr) / (norm(col("cv")) * lit(math.sqrt(ctr.map(x => x * x).sum)))
    }
    val best = sims.zipWithIndex.map { case (s, i) =>
      struct(s.as("s"), lit(-i).as("ni"))
    }
    df.withColumn("__list", (-greatest(best: _*).getField("ni")).cast("int"))
  }

  /** Per-query probe lists (nProbe nearest centroids, ties → larger id,
    * by `reverse(array_sort(...))`) as an
    * array<int> column.
    */
  private[graft] def probeListsLiteral(
      qv: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val sims = centroids.zipWithIndex.map { case (ctr, i) =>
      val carr = array(ctr.map(lit(_)): _*)
      struct((dot(qv, carr) /
        (norm(qv) * lit(math.sqrt(ctr.map(x => x * x).sum)))).as("s"),
        lit(i).as("li"))
    }
    transform(slice(reverse(array_sort(array(sims: _*))), 1, nProbe),
      p => p.getField("li"))
  }

  /** Ascending-fold L2 distance between a sliced subvector and a literal
    * codeword — the parity reference for the kernel's loop order.
    */
  private def l2Literal(sub: Column, cw: Array[Double]): Column =
    aggregate(
      zip_with(sub, array(cw.map(lit(_)): _*), (x, c) => (x - c) * (x - c)),
      lit(0.0), _ + _)

  /** Literal-expression PQ encode (parity reference). */
  private[graft] def pqEncodeLiteral(df: DataFrame, model: PqModel): DataFrame = {
    val codes = (0 until model.m).map { j =>
      val sub = slice(col("cv"), j * model.dsub + 1, model.dsub)
      // argmin distance, ties → smaller code index: least by (d asc, i asc)
      val cands = model.books(j).zipWithIndex.map { case (cw, i) =>
        struct(l2Literal(sub, cw).as("d"), lit(i).as("i"))
      }
      least(cands: _*).getField("i")
    }
    df.withColumn("__codes", array(codes: _*))
  }

  /** Literal flat ADC LUT (ascending (j, i) layout — entry j·nCodes+i). */
  private[graft] def pqLutLiteral(qv: Column, model: PqModel): Column =
    array((for {
      j <- 0 until model.m
      (cw, _) <- model.books(j).zipWithIndex
    } yield l2Literal(slice(qv, j * model.dsub + 1, model.dsub), cw)): _*)
}

/** Ann's IVF/PQ kernels (NearestCentroids, PqCodes, PqLut — constant plan
  * size at any nList and codebook) against their [[AnnLiteral]] twins:
  * bit-identical assignments, probes, codes and LUTs on the bench vectors
  * and on generated ones at the sizes the bench runs and past them; and
  * the one contract every size keeps for null and ragged vectors.
  */
class AnnParitySpec extends GraftSuite {
  import spark.implicits._
  import AnnLiteral._

  private lazy val vecs = spark.read.parquet(s"$sfSmall/embeddings.parquet")
    .select(col("vec_id").as("cid"), Ann.toDouble(col("embedding")).as("cv"))

  private lazy val centroids128 = vecs.orderBy(col("cid")).limit(128)
    .collect().map(_.getSeq[Double](1).toArray)

  // generated inputs: non-null, dim 8, with NaN, ±0.0 and 1e±300 among
  // ordinary values; every third row of a centroid matrix or codebook
  // repeats the row before it, so exact score ties occur
  private val dim = 8
  private val x = Gen.frequency(
    8 -> Gen.choose(-1e3, 1e3),
    1 -> Gen.oneOf(Double.NaN, 0.0, -0.0, 1e300, -1e300, 1e-300, -1e-300))
  private def matrix(n: Int, width: Int, from: Int): Array[Array[Double]] = {
    val rows = draws(Gen.listOfN(width, x), from + n).drop(from).map(_.toArray)
    Array.tabulate(n)(i => if (i % 3 == 2) rows(i - 1) else rows(i))
  }
  private lazy val generated = matrix(300, dim, 0).toSeq

  /** (cid, cv): the generated vectors, and `exact` rows (vectors a tie is
    * built from) with their doubles.
    */
  private def genFrame(exact: Seq[Array[Double]]): DataFrame =
    (generated ++ exact ++ exact.map(_.map(_ * 2)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("cid", "cv")

  private val nLists = Seq(2, 8, 17, 128)

  private def mismatches(df: DataFrame, a: Column, b: Column): Long =
    df.where(!(a <=> b)).count()

  test("assignment parity: native kernel == literal expressions at nList=128") {
    inBothModes {
      val lit128 = assignCentroidLiteral(vecs, centroids128)
        .select(col("cid"), col("__list"))
      val nat128 = vecs.withColumn("__list",
        element_at(graft.functions.NearestCentroids(
          col("cv"), centroids128, 1, tieLargerIdx = false), 1))
        .select(col("cid"), col("__list").as("__nlist"))
      val diff = lit128.join(nat128, Seq("cid"))
        .where(col("__list") =!= col("__nlist")).count()
      assert(diff == 0, s"$diff of ${vecs.count()} assignments diverge")
      for (n <- nLists) {
        val cents = matrix(n, dim, 1000 + n)
        val both = assignCentroidLiteral(genFrame(cents.take(4).toSeq), cents)
          .withColumn("nat", element_at(graft.functions.NearestCentroids(
            col("cv"), cents, 1, tieLargerIdx = false), 1))
        assert(mismatches(both, col("__list"), col("nat")) == 0, s"nList=$n")
      }
      // the zero vector has no cosine: the twin's division throws under
      // ANSI, while the kernel's all-NaN tie picks list 0
      val zero = Seq(Tuple1(Array.fill(dim)(0.0))).toDF("cv")
      val cents = matrix(8, dim, 1008)
      val e = intercept[Exception](assignCentroidLiteral(zero, cents).collect())
      assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
      assert(zero.select(graft.functions.NearestCentroids(col("cv"), cents, 1,
        tieLargerIdx = false)).as[Seq[Int]].head() == Seq(0))
    }
  }

  test("probe parity: native top-nProbe == literal reverse(array_sort) at nList=128") {
    inBothModes {
      val q = vecs.where(col("cid") < 50).select(col("cid"), col("cv").as("qv"))
      val both = q.select(col("cid"),
        probeListsLiteral(col("qv"), centroids128, 4).as("lit"),
        graft.functions.NearestCentroids(col("qv"), centroids128, 4,
          tieLargerIdx = true).as("nat"))
      assert(both.where(col("lit") =!= col("nat")).count() == 0)
      for (n <- nLists) {
        val cents = matrix(n, dim, 1000 + n)
        val gen = genFrame(cents.take(4).toSeq).select(
          probeListsLiteral(col("cv"), cents, 3).as("lit"),
          graft.functions.NearestCentroids(col("cv"), cents, 3,
            tieLargerIdx = true).as("nat"))
        assert(mismatches(gen, col("lit"), col("nat")) == 0, s"nList=$n")
      }
    }
  }

  test("native assignment plan: pure projection — no join, no exchange, constant size") {
    val df = vecs.withColumn("__list",
      element_at(graft.functions.NearestCentroids(
        col("cv"), centroids128, 1, tieLargerIdx = false), 1))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "centroid assignment must not join")
    assert(!p.contains("Exchange"), "centroid assignment must not shuffle")
    // the 128x64 centroid matrix must NOT appear as plan literals
    assert(p.length < 20000, s"plan is ${p.length} chars — centroids leaked into the plan")
  }

  test("PQ parity: kernel codes/LUT == literal expressions at 128 codewords") {
    inBothModes {
      // m=4 × nCodes=32 = 128 codewords on the bench vectors: the literal
      // twin on the same model must be bit-identical
      val corpus = vecs.select(col("cid"), col("cv").as("vec"))
      val pq = Ann.pqTrain(corpus, m = 4, nCodes = 32, iterations = 0)
      val litCodes = pqEncodeLiteral(vecs, pq)
        .select(col("cid"), col("__codes").as("lit"))
      val natCodes = vecs
        .withColumn("nat", graft.functions.PqCodes(col("cv"), pq.books))
        .select(col("cid"), col("nat"))
      assert(litCodes.join(natCodes, Seq("cid"))
        .where(col("lit") =!= col("nat")).count() == 0, "encode paths diverge")
      val luts = vecs.where(col("cid") < 50).select(col("cid"),
        pqLutLiteral(col("cv"), pq).as("lit"),
        graft.functions.PqLut(col("cv"), pq.books).as("nat"))
      assert(luts.where(col("lit") =!= col("nat")).count() == 0, "LUT paths diverge")
      // generated vectors at m·nCodes = 8, 32 and 128; some queries are
      // built from codewords, so distance ties are exact
      for ((m, nCodes) <- Seq((2, 4), (4, 8), (4, 32))) {
        val dsub = dim / m
        val pq = PqModel(Array.tabulate(m)(j => matrix(nCodes, dsub, 2000 + 100 * j)))
        val fromCodewords = (0 until 4).map(i =>
          Array.tabulate(m)(j => pq.books(j)((i + j) % nCodes)).flatten)
        val gen = pqEncodeLiteral(genFrame(fromCodewords), pq)
          .select(col("__codes").as("lit"),
            graft.functions.PqCodes(col("cv"), pq.books).as("nat"),
            pqLutLiteral(col("cv"), pq).as("litLut"),
            graft.functions.PqLut(col("cv"), pq.books).as("natLut"))
        assert(mismatches(gen, col("lit"), col("nat")) == 0, s"codes m=$m nCodes=$nCodes")
        assert(mismatches(gen, col("litLut"), col("natLut")) == 0,
          s"LUT m=$m nCodes=$nCodes")
      }
    }
  }

  test("PQ encode plan: pure projection, codebook not inlined as literals") {
    val corpus = vecs.select(col("cid"), col("cv").as("vec"))
    val pq = Ann.pqTrain(corpus, m = 4, nCodes = 32, iterations = 0)
    val df = vecs.withColumn("__codes", graft.functions.PqCodes(col("cv"), pq.books))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"))
    assert(p.length < 20000, s"plan is ${p.length} chars — codebook leaked into the plan")
  }

  test("PQ self-encoding: codebook source rows quantize to themselves with zero ADC error") {
    // the 8 LCG-seeded rows ARE the codewords, so each encodes to the code
    // whose codeword equals its own subvector and its ADC distance to
    // itself is exactly 0 in every subspace
    val corpus = vecs.select(col("cid"), col("cv").as("vec"))
    val pq = Ann.pqTrain(corpus, m = 4, nCodes = 8, iterations = 0)
    val seededIds = vecs
      .withColumn("__draw", pmod(
        pmod(col("cid"), lit(2147483647L)) * 1103515245L + 12345L, lit(1L << 31)))
      .orderBy(col("__draw"), col("cid")).limit(8)
      .select(col("cid"), col("cv"))
    val enc = Ann.pqEncode(seededIds, pq)
    val zeroDist = enc.select(col("cid"), col("cv"), col("__codes"))
      .withColumn("lut", pqLutLiteral(col("cv"), pq))
      .withColumn("adc", (0 until 4).map(j =>
        element_at(col("lut"),
          (lit(j * 8) + element_at(col("__codes"), j + 1) + 1).cast("int")))
        .reduce(_ + _))
    assert(zeroDist.where(col("adc") =!= 0.0).count() == 0,
      "a codebook source row must have zero quantization error")
  }

  test("IVF-PQ refinement: iterations=1 does not increase total quantization error") {
    val corpus = vecs.select(col("cid"), col("cv").as("vec"))
    val pq0 = Ann.pqTrain(corpus, m = 4, nCodes = 8, iterations = 0)
    val pq1 = Ann.pqTrain(corpus, m = 4, nCodes = 8, iterations = 1)
    def err(pq: Ann.PqModel): Double = {
      Ann.pqEncode(vecs, pq)
        .withColumn("lut", pqLutLiteral(col("cv"), pq))
        .withColumn("adc", (0 until pq.m).map(j =>
          element_at(col("lut"),
            (lit(j * pq.nCodes) + element_at(col("__codes"), j + 1) + 1).cast("int")))
          .reduce(_ + _))
        .agg(sum(col("adc"))).collect()(0).getDouble(0)
    }
    val (e0, e1) = (err(pq0), err(pq1))
    assert(e1 <= e0 * (1.0 + 1e-9), s"Lloyd step worsened PQ error: $e0 -> $e1")
  }

  test("end-to-end IVF at nList=24 trains and probes") {
    val corpus = vecs
    val queries = vecs.where(col("cid") < 10)
      .select(col("cid").as("qid"), col("cv").as("vec"))
    val model = Ann.ivfTrain(
      corpus.select(col("cid"), col("cv").as("vec")), nCentroids = 24, iterations = 1)
    assert(model.nList == 24)
    val out = Ann.ivfTopK(queries,
      corpus.select(col("cid"), col("cv").as("vec")), model, k = 3, nProbe = 3)
    val byQ = out.groupBy(col("qid")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 3).count()
    assert(byQ == 0, "every query must get exactly k results")
    // self-exclusion + rank sanity
    assert(out.where(col("qid") === col("cid")).count() == 0)
  }

  test("null and ragged vectors: one behaviour at nList 8 and 24, codebooks of 32 and 128") {
    // 48 complete vectors, a null vector (cid 100) and one with a null
    // element (cid 101): neither gets a list, codes or result rows, and
    // semantic dedup keeps both documents; a vector of another dim throws
    val complete = draws(Gen.listOfN(dim, Gen.choose(-1.0, 1.0)), 48)
      .zipWithIndex.map { case (v, i) => (i.toLong, v.map(Option(_))) }
    val corpus = (complete ++ Seq((100L, null: Seq[Option[Double]]),
      (101L, Seq(Some(1.0), None) ++ (3 to dim).map(i => Some(i.toDouble)))))
      .toDF("cid", "vec")
    val queries = corpus.where(col("cid") < 4 || col("cid") >= 100)
      .select(col("cid").as("qid"), col("vec"))
    val ragged = Seq((200L, Seq(1.0, 2.0, 3.0))).toDF("cid", "vec")
    def throwsIllegalArgument(df: => DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
    }
    for ((nList, nCodes) <- Seq((8, 8), (24, 32))) {
      val model = Ann.ivfTrain(corpus, nList, iterations = 1)
      val pq = Ann.pqTrain(corpus, m = 4, nCodes, iterations = 1)
      val sizes = s"nList=$nList m·nCodes=${4 * nCodes}"
      inBothModes {
        val coded = Ann.pqEncode(Ann.assign(corpus, model), pq)
          .select(col("cid"), col("__list"), col("__codes"))
          .as[(Long, Option[Int], Option[Seq[Int]])].collect()
        assert(coded.length == 50, sizes)
        for ((cid, list, codes) <- coded)
          assert(list.isDefined == cid < 100 && codes.isDefined == cid < 100,
            s"$sizes cid=$cid list=$list codes=$codes")
        val ivf = Ann.ivfTopK(queries, corpus, model, k = 3)
        val ivfPq = Ann.ivfPqTopK(queries, corpus, model, pq, k = 3)
        for ((name, out) <- Seq("ivfTopK" -> ivf, "ivfPqTopK" -> ivfPq)) {
          val qids = out.select(col("qid"), col("cid")).as[(Long, Long)].collect()
          assert(qids.nonEmpty && qids.forall { case (q, c) => q < 100 && c < 100 },
            s"$name $sizes")
        }
        val kept = graft.text.Dedup.semanticDedup(
          corpus.select(col("cid").as("id"), col("vec").as("emb")), "id", "emb", nList)
          .as[Long].collect().toSet
        assert(kept.contains(100L) && kept.contains(101L), s"$sizes kept=$kept")
        throwsIllegalArgument(Ann.assign(ragged, model))
        throwsIllegalArgument(Ann.pqEncode(ragged.select(col("cid"), col("vec").as("cv")), pq))
        throwsIllegalArgument(Ann.ivfTopK(ragged.select(col("cid").as("qid"), col("vec")),
          corpus, model, k = 3))
        throwsIllegalArgument(Ann.ivfPqTopK(ragged.select(col("cid").as("qid"), col("vec")),
          corpus, model, pq, k = 3))
      }
    }
  }

  test("zero and null vectors: no cosine, so no pair and no top-k row in any cosine pass") {
    val dim = 8
    val (zero, nul) = (100L, 101L)
    // 32 complete vectors, one zero vector and one null vector; threshold
    // -1 and one plane make every scored pair qualify, so a zero vector
    // that got a cosine would show up in every pass
    val corpus = (draws(Gen.listOfN(dim, Gen.choose(-1.0, 1.0)), 32)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((zero, Seq.fill(dim)(0.0)), (nul, null: Seq[Double]))).toDF("cid", "vec")
    val queries = corpus.where(col("cid") < 4 || col("cid") >= zero)
      .select(col("cid").as("qid"), col("vec"))
    val model = Ann.ivfTrain(corpus, 4, iterations = 1)
    def pairs(df: DataFrame): Array[(Long, Long)] =
      df.select(df.columns.take(2).map(col): _*).as[(Long, Long)].collect()
    for ((name, out) <- Seq(
        "bruteTopK" -> Ann.bruteTopK(queries, corpus, k = 3),
        "lshTopK" -> Ann.lshTopK(queries, corpus, k = 3, planes = 1),
        "ivfTopK" -> Ann.ivfTopK(queries, corpus, model, k = 3, nProbe = 4),
        "embeddingPairs" -> graft.text.Dedup.embeddingPairs(
          corpus, "cid", "vec", planes = 1, threshold = -1.0))) {
      val got = pairs(out)
      assert(got.nonEmpty && got.forall { case (a, b) => a < zero && b < zero },
        s"$name: ${got.filter { case (a, b) => a >= zero || b >= zero }.toSeq}")
    }
    // the zero vector shares a list with others yet pairs with none, so it
    // stays its own cluster's keeper
    val kept = graft.text.Dedup.semanticDedup(
      corpus.select(col("cid").as("id"), col("vec").as("emb")), "id", "emb", 2,
      threshold = -1.0).as[Long].collect().toSet
    assert(kept.contains(zero) && kept.contains(nul), s"kept=$kept")
    assert(kept.size < corpus.count(), "complete vectors in one list must merge")
  }
}
