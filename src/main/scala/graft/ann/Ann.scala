package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, per the scale doctrine:
  *  - [[bruteTopK]]: exact cosine top-k. The join is blocked (queries ×
  *    corpus) — correct baseline, O(|Q|·|C|); use only when one side is
  *    small or as the verifier of the approximate path.
  *  - [[lshTopK]]: random-hyperplane sign buckets (deterministic LCG
  *    hyperplanes — reproducible anywhere, no RNG state), candidates only
  *    within matching buckets ± multi-probe, exact rerank inside buckets.
  *    At 100 TB the bucket join replaces the full cross product.
  *
  * The IVF and IVF-PQ paths ([[ivfTopK]], [[ivfPqTopK]]) add inverted
  * lists and product-quantized codes. Vector math runs in the native
  * kernels of `graft.functions` (one codegen loop per row, the centroid
  * matrix and codebooks riding as reference objects) — no UDFs. A null
  * vector, or one with a null element, gets no list, no codes and no
  * result rows; a vector whose dim differs from the model's throws.
  */
object Ann {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-fold dot product — same summation order as the SQL oracle.
    * Native one-loop kernel ([[graft.functions.DotProductD]]); the HOF
    * form it replaces allocated a zipped array per evaluation and walked
    * it through interpreted lambdas — the dominant per-pair cost inside
    * every quadratic rerank/near-dup step (guide §4). IEEE-op-identical
    * (Round6Spec pins the parity against [[dotDeclarative]]).
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProductD(a, b)

  /** HOF twin of [[dot]] — kept ONLY as the parity-spec reference. */
  private[graft] def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** ‖a‖ via the same left fold: acc + x·x in index order (dot(a, a)). */
  def norm(a: Column): Column = sqrt(graft.functions.DotProductD(a, a))

  /** THE cosine of every rerank and near-dup pass, over precomputed norms
    * `na`, `nb`. A zero-norm side has no cosine: the result is null
    * (`try_divide`, never DIVIDE_BY_ZERO), so the pair forms no row — a
    * threshold filter drops it, and so does [[rankTopK]].
    */
  private[graft] def cosine(va: Column, na: Column, vb: Column, nb: Column): Column =
    try_divide(dot(va, vb), na * nb)

  def cosine(a: Column, b: Column): Column = cosine(a, norm(a), b, norm(b))

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * LCG over the flattened index, shifted to [-0.5, 0.5). Same closed form
    * generates the oracle SQL — no shared RNG state needed.
    */
  def planeComponent(plane: Int, dim: Column): Column = {
    // stride 2^20, not the vector width: with stride 64, plane p+1's
    // weight stream was plane p's shifted by 64 indices, so above 64 dims
    // consecutive hyperplanes shared almost every coefficient and sign
    // bits correlated (bucket collapse). 2^20 keeps planes disjoint for
    // any realistic dim; idx*a stays < 2^57, ANSI-safe.
    val idx = lit(plane.toLong * 1048576L) + dim
    (pmod(idx * 1103515245L + 12345L, lit(1L << 31)).cast("double") /
      lit((1L << 31).toDouble)) - 0.5
  }

  /** Sign-bucket key: bit p = 1 iff dot(v, plane_p) > 0. Native one-pass
    * kernel ([[graft.functions.SignBucketD]]) — the HOF twin below is the
    * parity-spec reference (identical LCG planes and fold order).
    */
  def signBucket(v: Column, planes: Int): Column =
    graft.functions.SignBucketD(v, planes)

  private[graft] def signBucketDeclarative(v: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val d = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeComponent(p, i.cast("long"))),
        lit(0.0), _ + _)
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact cosine top-k: for each query row, the k nearest corpus rows.
    * Ties broken by corpus id for full determinism; scores rounded before
    * ranking so cross-engine float noise cannot flip the order.
    *
    * `excludeSelf` (default true, all topK variants): drop candidates with
    * `cid == qid` — correct when queries ARE corpus rows (self-join dedup,
    * leave-one-out eval). For CROSS-TABLE retrieval where id spaces are
    * unrelated, pass false: otherwise corpus row i silently vanishes from
    * query i's candidates. Ids must be non-null (null ids never match any
    * filter and would vanish without error).
    */
  def bruteTopK(
      queries: DataFrame, // (qid, vec)
      corpus: DataFrame, // (cid, vec)
      k: Int,
      roundTo: Int = 6,
      excludeSelf: Boolean = true
  ): DataFrame = {
    // norms precomputed ONCE per row (not once per pair): cos(a,b) =
    // dot/(na*nb) with na/nb the identical norm subexpressions evaluated
    // before the quadratic step — bit-identical output, O(rows) instead of
    // O(pairs) norm folds (guide §2.3: shuffle/compute the light proxy)
    val q = queries.select(col("qid"), toDouble(col("vec")).as("qv"))
      .withColumn("__qn", norm(col("qv")))
    val c = vectors(corpus).withColumn("__cn", norm(col("cv")))
    rankTopK(q.crossJoin(c), excludeSelf, cosScore(roundTo), k)
  }

  /** (cid, cv): a (cid, vec) frame with its vectors as array<double>. */
  private def vectors(corpus: DataFrame): DataFrame =
    corpus.select(col("cid"), toDouble(col("vec")).as("cv"))

  /** Rounded cosine of a joined (qv, __qn) × (cv, __cn) pair. */
  private def cosScore(roundTo: Int): Column =
    round(cosine(col("qv"), col("__qn"), col("cv"), col("__cn")), roundTo)

  /** The tail every top-k shares: drop self pairs if asked, keep
    * (qid, cid, `name` = score), and rank each query's candidates by
    * (score, cid asc), keeping `rank <= k`. A null score (a null or zero
    * vector has no cosine) sorts last and forms no row, so it never takes
    * a rank from a scored candidate.
    */
  private def rankTopK(pairs: DataFrame, excludeSelf: Boolean, score: Column, k: Int,
      name: String = "cos", descending: Boolean = true): DataFrame = {
    val order = if (descending) col(name).desc_nulls_last else col(name).asc_nulls_last
    val w = Window.partitionBy(col("qid")).orderBy(order, col("cid").asc)
    pairs.where(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .select(col("qid"), col("cid"), score.as(name))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k && col(name).isNotNull)
  }

  /** LSH-bucketed approximate top-k: candidates share a sign-bucket with the
    * query (plus optional multi-probe), exact cosine rerank within
    * candidates.
    *
    * @param probes number of 1-bit-flip probe buckets per query (0 = exact
    *               bucket only). Probing the `probes` nearest buckets
    *               recovers neighbors that fall across a single hyperplane —
    *               recall improves at the cost of `probes+1`× candidate
    *               fan-out, still never a cross product. Probe keys are
    *               distinct by construction (bkey ^ 2^p), so a candidate can
    *               match at most one probe — no dedup pass needed.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      planes: Int = 6,
      roundTo: Int = 6,
      probes: Int = 0,
      excludeSelf: Boolean = true
  ): DataFrame = {
    require(probes <= planes, "cannot probe more bits than planes")
    val q0 = queries.select(col("qid"), toDouble(col("vec")).as("qv"))
      .withColumn("__qn", norm(col("qv")))
      .withColumn("bkey", signBucket(col("qv"), planes))
    val q =
      if (probes <= 0) q0
      else q0.select(col("qid"), col("qv"), col("__qn"),
        explode(array((col("bkey") +: (0 until probes).map(p =>
          col("bkey").bitwiseXOR(lit(1L << p)))): _*)).as("bkey"))
    // per-row (not per-pair) norms, as in bruteTopK — value-identical
    val c = vectors(corpus)
      .withColumn("__cn", norm(col("cv")))
      .withColumn("bkey", signBucket(col("cv"), planes))
    rankTopK(q.join(c, Seq("bkey")), excludeSelf, cosScore(roundTo), k)
  }

  /** IVF (inverted-file) coarse quantizer: `nCentroids` centroids trained by
    * a fixed number of Lloyd iterations, seeded deterministically (initial
    * centroids = the corpus rows with the `nCentroids` smallest
    * pmod(id·LCG) draws — no RNG state, same result at any parallelism).
    * Each iteration is ONE crossJoin-free pass: corpus × centroid
    * assignment uses a broadcast centroid array (driver-held, tiny) and a
    * groupBy mean — the standard scalable shape.
    */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def nList: Int = centroids.length
  }

  def ivfTrain(
      corpus: DataFrame, // (cid, vec)
      nCentroids: Int,
      iterations: Int = 5
  ): IvfModel = {
    val c = trainable(corpus)
    // fail loudly like pqTrain: silently training fewer lists than asked
    // violates the caller's bucket-sizing math (|corpus|/nList per bucket)
    var centroids = seedRows(c, nCentroids, "nCentroids")
    var it = 0
    while (it < iterations) {
      it += 1
      val assigned = assignCentroid(c, centroids)
      val means = assigned
        .select(col("__list"), posexplode(col("cv")).as(Seq("__pos", "__x")))
        .groupBy(col("__list"), col("__pos"))
        .agg(avg(col("__x")).as("__m"))
        .groupBy(col("__list"))
        .agg(map_from_entries(collect_list(struct(col("__pos"), col("__m"))))
          .as("__mm"))
        .collect()
      val next = centroids.clone()
      means.foreach { r =>
        val li = r.getInt(0)
        val mm = r.getMap[Int, Double](1)
        next(li) = Array.tabulate(centroids(li).length)(i => mm(i))
      }
      centroids = next
    }
    IvfModel(centroids)
  }

  /** (cid, cv) rows a quantizer may train on: the vector and every element
    * non-null. A null vector has no list and no codes, so it can neither
    * seed a centroid or codeword nor pull a Lloyd mean.
    */
  private def trainable(corpus: DataFrame): DataFrame =
    vectors(corpus).where(forall(col("cv"), _.isNotNull))

  /** The seeding rule IVF and PQ share: the vectors of the `n` rows with the
    * smallest pmod(id·LCG) draw (ties by cid) — no RNG state, the same rows
    * at any parallelism, and exact integer arithmetic the oracle replays.
    * Fails when fewer than `n` rows exist.
    */
  private def seedRows(c: DataFrame, n: Int, what: String): Array[Array[Double]] = {
    // bound the id BEFORE the LCG multiply: raw cid·1103515245 overflows a
    // long under ANSI once ids pass ~8e9
    val rows = c
      .withColumn("__draw", pmod(
        pmod(col("cid"), lit(2147483647L)) * 1103515245L + 12345L, lit(1L << 31)))
      .orderBy(col("__draw"), col("cid"))
      .limit(n)
      .select(col("cv"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.length == n, s"corpus has ${rows.length} rows < $what=$n")
    rows
  }

  /** Nearest-centroid assignment — no shuffle, no join, no UDF: a single
    * projection over the [[graft.functions.NearestCentroids]] kernel, whose
    * centroid matrix rides as one reference object, so the plan is
    * constant-size at any nList.
    */
  private def assignCentroid(df: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2, "IVF needs at least two centroids")
    df.withColumn("__list", element_at(
      graft.functions.NearestCentroids(col("cv"), centroids, 1, tieLargerIdx = false), 1))
  }

  /** Public nearest-centroid assignment over a (cid, vec) frame — the
    * bucketing step consumers like [[graft.text.Dedup.semanticDedup]]
    * compose with; returns (cid, cv, __list).
    */
  def assign(corpus: DataFrame, model: IvfModel): DataFrame =
    assignCentroid(vectors(corpus), model.centroids)

  /** IVF top-k: corpus rows are bucketed by nearest centroid (the inverted
    * lists); each query probes only its `nProbe` nearest lists and reranks
    * exactly inside them. Candidate fan-out is |corpus|·nProbe/nList — the
    * classic IVF trade — and the probe join stays a hash equi-join on the
    * list id.
    */
  def ivfTopK(
      queries: DataFrame, // (qid, vec)
      corpus: DataFrame, // (cid, vec)
      model: IvfModel,
      k: Int,
      nProbe: Int = 2,
      roundTo: Int = 6,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val c = assign(corpus, model).withColumn("__cn", norm(col("cv")))
    // each query's nProbe nearest lists; cosine ties → larger list id
    val q = queries.select(col("qid"), toDouble(col("vec")).as("qv"))
      .withColumn("__qn", norm(col("qv")))
      .withColumn("__list", explode(graft.functions.NearestCentroids(
        col("qv"), model.centroids, nProbe, tieLargerIdx = true)))
    // per-row (not per-pair) norms, as in bruteTopK — value-identical
    rankTopK(q.join(c, Seq("__list")), excludeSelf, cosScore(roundTo), k)
  }

  // ----------------------------------------------------------------------
  // Product quantization (the FAISS IVFPQ shape, by_residual=false)
  // ----------------------------------------------------------------------

  /** PQ codebook: `books(j)(i)` is codeword i of subspace j (dsub doubles).
    * At 100 TB scale this is the memory story for ANN: a 64-dim float
    * vector (256 B) compresses to m code bytes (m=4 → 64× smaller), so the
    * inverted lists the probe join scans carry codes, not vectors, and the
    * exact vectors never shuffle. Distances against codes are looked up
    * from a per-query LUT — O(m) per candidate instead of O(dim).
    */
  final case class PqModel(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def nCodes: Int = books(0).length
    def dsub: Int = books(0)(0).length
  }

  /** Deterministic sampling quantizer for PQ, sharing the IVF seeding rule:
    * the codewords of every subspace come from the `nCodes` corpus rows
    * with the smallest pmod(id·LCG) draw, sliced into m contiguous
    * subvectors. iterations=0 is the exactly-oracle-able path (the SQL twin
    * replays the same integer draws); iterations>0 runs per-subspace Lloyd
    * refinement (one distributed pass per iteration, means collected
    * driver-side — codebooks are m·nCodes·dsub doubles, driver-sized by
    * construction).
    */
  def pqTrain(
      corpus: DataFrame, // (cid, vec)
      m: Int,
      nCodes: Int,
      iterations: Int = 0
  ): PqModel = {
    val c = trainable(corpus)
    val rows = seedRows(c, nCodes, "nCodes")
    val dim = rows(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => rows.map(_.slice(j * dsub, (j + 1) * dsub)))
    var it = 0
    while (it < iterations) {
      it += 1
      val enc = pqEncode(c, PqModel(books))
      // per (subspace, code, pos) mean of the raw subvector component
      val means = enc
        .select(explode(sequence(lit(0), lit(m - 1))).as("__j"),
          col("__codes"), col("cv"))
        .select(col("__j"),
          element_at(col("__codes"), col("__j") + 1).as("__code"),
          posexplode(slice(col("cv"), col("__j") * dsub + 1, lit(dsub)))
            .as(Seq("__pos", "__x")))
        .groupBy(col("__j"), col("__code"), col("__pos"))
        .agg(avg(col("__x")).as("__mn"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      books = next
    }
    PqModel(books)
  }

  /** PQ encode: adds `__codes` (array<int>, one code per subspace) to a
    * frame with a `cv` array<double> column. Pure projection — no shuffle,
    * no join; the [[graft.functions.PqCodes]] kernel keeps the plan
    * constant-size at any codebook.
    */
  def pqEncode(df: DataFrame, model: PqModel): DataFrame =
    df.withColumn("__codes", graft.functions.PqCodes(col("cv"), model.books))

  /** IVF-PQ top-k: corpus rows are bucketed by coarse centroid and carry
    * only their m PQ codes through the probe join; each query probes its
    * `nProbe` nearest coarse lists and scores candidates by ADC — the sum
    * over subspaces of LUT[j·nCodes + code_j], m lookups per candidate.
    * Asymmetric distance on RAW vectors (FAISS `by_residual=false`): the
    * query side is exact, only the corpus side is quantized — chosen over
    * residual encoding because every arithmetic step stays replayable in
    * ANSI SQL, which keeps the whole operator oracle-verifiable.
    * Smaller ADC distance = nearer; ties → smaller cid.
    */
  def ivfPqTopK(
      queries: DataFrame, // (qid, vec)
      corpus: DataFrame, // (cid, vec)
      coarse: IvfModel,
      pq: PqModel,
      k: Int,
      nProbe: Int = 2,
      roundTo: Int = 6,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val c = pqEncode(assign(corpus, coarse), pq)
      .select(col("cid"), col("__list"), col("__codes"))
    val q = queries.select(col("qid"), toDouble(col("vec")).as("qv"))
      .withColumn("__lut", graft.functions.PqLut(col("qv"), pq.books))
      .withColumn("__list", explode(graft.functions.NearestCentroids(
        col("qv"), coarse.centroids, nProbe, tieLargerIdx = true)))
      .select(col("qid"), col("__lut"), col("__list"))
    val adc = (0 until pq.m).map { j =>
      element_at(col("__lut"),
        (lit(j * pq.nCodes) + element_at(col("__codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    rankTopK(q.join(c, Seq("__list")), excludeSelf, round(adc, roundTo), k, "adc",
      descending = false)
  }
}
