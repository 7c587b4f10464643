package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann

/** Scale-safe IVF assignment: the native NearestCentroids kernel (constant
  * plan size at any nList) must return bit-identical assignments/probes to
  * the literal-expression path it replaces past `literalMaxCentroids`.
  */
class AnnParitySpec extends GraftSuite {

  private lazy val vecs = spark.read.parquet(s"$sfSmall/embeddings.parquet")
    .select(col("vec_id").as("cid"), Ann.toDouble(col("embedding")).as("cv"))

  private lazy val centroids128 = vecs.orderBy(col("cid")).limit(128)
    .collect().map(_.getSeq[Double](1).toArray)

  test("assignment parity: native kernel == literal expressions at nList=128") {
    inBothModes {
      val lit128 = Ann.assignCentroidLiteral(vecs, centroids128)
        .select(col("cid"), col("__list"))
      val nat128 = vecs.withColumn("__list",
        element_at(graft.functions.NearestCentroids(
          col("cv"), centroids128, 1, tieLargerIdx = false), 1))
        .select(col("cid"), col("__list").as("__nlist"))
      val diff = lit128.join(nat128, Seq("cid"))
        .where(col("__list") =!= col("__nlist")).count()
      assert(diff == 0, s"$diff of ${vecs.count()} assignments diverge")
    }
  }

  test("probe parity: native top-nProbe == literal reverse(array_sort) at nList=128") {
    inBothModes {
      val q = vecs.where(col("cid") < 50).select(col("cid"), col("cv").as("qv"))
      val both = q.select(col("cid"),
        Ann.probeListsLiteral(col("qv"), centroids128, 4).as("lit"),
        graft.functions.NearestCentroids(col("qv"), centroids128, 4,
          tieLargerIdx = true).as("nat"))
      assert(both.where(col("lit") =!= col("nat")).count() == 0)
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

  test("PQ parity: kernel codes/LUT == literal expressions above the codeword ceiling") {
    inBothModes {
      // m=4 × nCodes=32 = 128 codewords > literalMaxCodewords → kernel path;
      // force the literal path on the same model and demand bit-identity
      val corpus = vecs.select(col("cid"), col("cv").as("vec"))
      val pq = Ann.pqTrain(corpus, m = 4, nCodes = 32, iterations = 0)
      assert(pq.m * pq.nCodes > Ann.literalMaxCodewords)
      val litCodes = Ann.pqEncodeLiteral(vecs, pq)
        .select(col("cid"), col("__codes").as("lit"))
      val natCodes = vecs
        .withColumn("nat", graft.functions.PqCodes(col("cv"), pq.books))
        .select(col("cid"), col("nat"))
      assert(litCodes.join(natCodes, Seq("cid"))
        .where(col("lit") =!= col("nat")).count() == 0, "encode paths diverge")
      val luts = vecs.where(col("cid") < 50).select(col("cid"),
        Ann.pqLutLiteral(col("cv"), pq).as("lit"),
        graft.functions.PqLut(col("cv"), pq.books).as("nat"))
      assert(luts.where(col("lit") =!= col("nat")).count() == 0, "LUT paths diverge")
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
      .withColumn("lut", Ann.pqLutLiteral(col("cv"), pq))
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
        .withColumn("lut", Ann.pqLutLiteral(col("cv"), pq))
        .withColumn("adc", (0 until pq.m).map(j =>
          element_at(col("lut"),
            (lit(j * pq.nCodes) + element_at(col("__codes"), j + 1) + 1).cast("int")))
          .reduce(_ + _))
        .agg(sum(col("adc"))).collect()(0).getDouble(0)
    }
    val (e0, e1) = (err(pq0), err(pq1))
    assert(e1 <= e0 * (1.0 + 1e-9), s"Lloyd step worsened PQ error: $e0 -> $e1")
  }

  test("end-to-end IVF above the literal ceiling trains and probes") {
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
}
