package graft.search

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.Gram

/** Feature-subset selection suite: the reference's `featurebox/selection/`
  * re-architected per SURVEY §2.10 — Spark computes the data-heavy
  * sufficient statistics (correlation matrix, fold Grams) in single passes;
  * the combinatorial search itself is seeded driver-side logic.
  */
object Corr {

  /** Pearson correlation matrix of the given columns — the reference's
    * np.corrcoef (selection/corr.py:58-73), NaN → 0 normalization kept.
    * The Gram sums every column shifted by its value in the first row the
    * Gram keeps (the shifted-data algorithm: one row, no second pass), so
    * a large mean cannot cancel the spread, and a constant column is
    * exactly 0 and correlates 0 with everything.
    */
  def matrix(df: DataFrame, cols: Seq[String]): Array[Array[Double]] = {
    val d = cols.size
    val x = cols.map(n => col(n).cast("double"))
    // the rows Gram.build keeps: no null in any column
    val first = df.where(x.map(_.isNotNull).reduce(_ && _)).select(x: _*).head(1)
    val shift = first.headOption.fold(Seq.fill[Any](d)(0.0))(_.toSeq)
    // the constant column's row of the Gram holds the (shifted) column sums
    val g = Gram.of(df, x.zip(shift).map { case (c, k) => c - lit(k) } :+ lit(1.0))
    val (p, n) = (g.m, g.n.toDouble)
    def s(i: Int) = p(i, d)
    Array.tabulate(d, d) { (i, j) =>
      val cov = p(i, j) / n - s(i) / n * s(j) / n
      val vi = p(i, i) / n - s(i) / n * s(i) / n
      val vj = p(j, j) / n - s(j) / n * s(j) / n
      val r = cov / math.sqrt(vi * vj)
      if (r.isNaN) 0.0 else r
    }
  }

  /** Threshold graph: per feature, the set of |r| ≥ t partners
    * (corr.py:128-147).
    */
  def countCof(m: Array[Array[Double]], t: Double): Array[Seq[Int]] =
    m.indices.map(i =>
      m(i).indices.filter(j => j != i && math.abs(m(i)(j)) >= t)).toArray

  /** Greedy independent-set selection among correlated clusters, traversed in
    * the SEEDED SHUFFLED order — the reference seeds random(0) and shuffles
    * before the greedy sweep (corr.py:149-182), so which member of a
    * correlated cluster survives depends on the seed, reproducibly.
    */
  def removeCoef(m: Array[Array[Double]], t: Double, seed: Long = 0L): Seq[Int] = {
    val rnd = new Random(seed)
    val partners = countCof(m, t)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    val banned = scala.collection.mutable.Set.empty[Int]
    for (i <- rnd.shuffle(m.indices.toList)) {
      if (!banned(i)) {
        kept += i
        banned ++= partners(i)
      }
    }
    kept.sorted.toSeq
  }

  /** Binned mutual information matrix — the engine's MIC variant of
    * `Corr.fit(pre_cal="mic")` (corr.py:41-56; the reference delegates to
    * minepy's MINE statistic, a native library — here the same role is
    * filled by equi-width binned MI, normalized to [0,1] by ln(bins)).
    *
    * Exactly TWO Spark passes regardless of d:
    *  1. min/max of every column (one agg);
    *  2. every pair's joint histogram as one count per grid cell
    *     ([[gridCounts]]; map-side combined, the grid is tiny).
    * MI assembly is exact-integer-count driver arithmetic.
    */
  def micMatrix(df: DataFrame, cols: Seq[String], bins: Int = 4): Array[Array[Double]] = {
    val mi = binnedMI(df, cols, bins)
    val norm = math.log(bins.toDouble)
    Array.tabulate(cols.size, cols.size) { (i, j) =>
      if (i == j) 1.0 else math.max(0.0, math.min(1.0, mi(i)(j) / norm))
    }
  }

  /** Raw binned mutual information (nats) per column pair; diag = marginal
    * entropy. See [[micMatrix]] for the pass structure.
    */
  def binnedMI(df: DataFrame, cols: Seq[String], bins: Int = 4): Array[Array[Double]] = {
    val d = cols.size
    val counts = gridCounts(df, cols, bins).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val n = counts(-1L).toDouble
    val grids = pairs(d).zipWithIndex.map { case (ij, p) =>
      ij -> Array.tabulate(bins, bins)((bi, bj) => counts((p.toLong * bins + bi) * bins + bj))
    }.toMap
    val out = Array.fill(d, d)(0.0)
    for ((i, j) <- pairs(d)) {
      val grid = grids((i, j))
      val ri = (0 until bins).map(bi => grid(bi).sum.toDouble)
      val cj = (0 until bins).map(bj => (0 until bins).map(bi => grid(bi)(bj)).sum.toDouble)
      var mi = 0.0
      for (bi <- 0 until bins; bj <- 0 until bins if grid(bi)(bj) > 0) {
        val cc = grid(bi)(bj).toDouble
        mi += (cc / n) * math.log(cc * n / (ri(bi) * cj(bj)))
      }
      out(i)(j) = mi; out(j)(i) = mi
    }
    // diag: marginal entropy from any pair's marginals (d >= 2 in practice)
    for (i <- 0 until d) {
      val j = if (i == 0) 1 else 0
      val grid = grids((math.min(i, j), math.max(i, j)))
      val marg =
        if (i < j) (0 until bins).map(bi => grid(bi).sum.toDouble)
        else (0 until bins).map(bj => (0 until bins).map(bi => grid(bi)(bj)).sum.toDouble)
      out(i)(i) = -marg.filter(_ > 0).map(p => (p / n) * math.log(p / n)).sum
    }
    out
  }

  /** Column pairs i < j in row-major order; pair p owns grid cells
    * [p·bins², (p+1)·bins²).
    */
  private def pairs(d: Int): IndexedSeq[(Int, Int)] =
    for (i <- 0 until d; j <- (i + 1) until d) yield (i, j)

  /** The grid pass of [[binnedMI]] (after its range pass): one `(cell,
    * count)` row per non-empty cell. Cell (p·bins + bi)·bins + bj counts
    * the rows whose column pair p falls in bins (bi, bj); cell −1 counts
    * every row (`n`). Each row explodes to one cell id per pair, so the
    * plan holds one count whatever d and bins are. Every bucket is in
    * [0, bins); a null value lands in the last bin, as `least` skips it
    * (bin 0 for a constant column).
    */
  private[graft] def gridCounts(df: DataFrame, cols: Seq[String], bins: Int): DataFrame = {
    val d = cols.size
    require(d >= 2, "binnedMI needs at least two columns")
    val c = cols.map(n => col(n).cast("double"))
    // pass 1: ranges
    val rangeAggs = c.zipWithIndex.flatMap { case (x, i) =>
      Seq(min(x).as(s"lo_$i"), max(x).as(s"hi_$i"))
    }
    val rrow = df.agg(rangeAggs.head, rangeAggs.tail: _*).head()
    val lo = (0 until d).map(i => rrow.getAs[Double](s"lo_$i"))
    val hi = (0 until d).map(i => rrow.getAs[Double](s"hi_$i"))
    def bucket(i: Int): Column =
      if (hi(i) <= lo(i)) lit(0)
      else least(floor((c(i) - lit(lo(i))) / lit(hi(i) - lo(i)) * bins),
        lit((bins - 1).toDouble)).cast("int")
    val cells = pairs(d).zipWithIndex.map { case ((i, j), p) =>
      lit(p.toLong * bins * bins) + col(s"b_$i") * bins + col(s"b_$j")
    }
    // pass 2: every pair's joint grid in one aggregation
    df.select((0 until d).map(i => bucket(i).as(s"b_$i")): _*)
      .select(explode(array(lit(-1L) +: cells: _*)).as("cell"))
      .groupBy("cell").count()
  }

  /** Group collapse of a correlation/MIC matrix over coupled (muti_grade)
    * column groups — `Corr._shrink_coef` (corr.py:75-102): for each offset
    * 1..g take the submatrix of (singles ∪ group-member-at-offset) and
    * aggregate the g submatrices elementwise by mean or max.
    *
    * @param mutiGrade group size g (consecutive columns form a group)
    * @param mutiIndex [from, until) column range containing the groups
    */
  def shrinkCoef(
      m: Array[Array[Double]],
      mutiGrade: Int,
      mutiIndex: (Int, Int),
      method: String = "mean"
  ): Array[Array[Double]] = {
    val d = m.length
    val (gFrom, gUntil) = mutiIndex
    require((gUntil - gFrom) % mutiGrade == 0, "muti range must tile by grade")
    val singles = (0 until d).filter(i => i < gFrom || i >= gUntil)
    val groupStarts = (gFrom until gUntil by mutiGrade).toSeq
    val subs = (1 to mutiGrade).map { off =>
      val idx = (singles ++ groupStarts.map(_ + off - 1)).sorted.toArray
      Array.tabulate(idx.length, idx.length)((a, b) => m(idx(a))(idx(b)))
    }
    val k = subs.head.length
    Array.tabulate(k, k) { (a, b) =>
      val vs = subs.map(s => s(a)(b))
      if (method == "max") vs.max else vs.sum / vs.size
    }
  }
}

/** Exhaustive subset search (selection/exhaustion.py:58-121): enumerate
  * C(features, k) for k in nSelect, score each by CV on the precomputed fold
  * Grams (zero extra data passes), return ranked results.
  */
object Exhaustion {
  final case class Result(subset: Seq[Int], score: Double)

  def search(grams: FoldGrams, nSelect: Seq[Int]): Seq[Result] = {
    val all = nSelect.flatMap(k =>
      grams.features.indices.combinations(k).map(_.toSeq))
    all.map(s => Result(s, grams.cvR2(s)))
      .sortBy(r => (-r.score, r.subset.mkString(",")))
  }
}

/** Greedy BackForward search (selection/backforward.py:95-211): seeded random
  * initial half, then one forward pass over the remaining features in seeded
  * order, each add followed by a backward sweep (`sub_slice`) that ACCEPTS
  * any drop whose score stays within `tolerance` of the running best — drops
  * may lower the score; shrinking while "close enough" is the operator's
  * entire point. The add itself is kept without the sweep only when it beats
  * both baselines by more than 2·tolerance (add_slice, :98-115).
  */
object BackForward {
  def search(
      grams: FoldGrams,
      seed: Long = 0L,
      tolerance: Double = 0.01,
      primaryFeature: Option[Int] = None
  ): (Seq[Int], Double) = {
    val rnd = new Random(seed)
    val d = grams.features.size
    // reference parity: score_pri (backforward.py:160-163) returns -inf for
    // subsets of size <= 1, so the search can never settle on a singleton
    def score(s: Seq[Int]): Double =
      if (s.size <= 1) graft.expr.Scoring.worst else grams.cvR2(s)

    // sub_slice (backforward.py:117-133): tolerance-accepting backward sweep
    def subSlice(s: List[Int]): (List[Int], Double) = {
      var cur = s
      var best = score(cur)
      for (sub <- rnd.shuffle(s) if cur.size > 1) {
        val cand = cur.filterNot(_ == sub)
        val t = score(cand)
        if (t > best - tolerance) { best = t; cur = cand }
      }
      (cur, best)
    }

    var slice1 = rnd.shuffle((0 until d).toList)
      .take(math.max(1, primaryFeature.getOrElse(d / 2)))
    var best = score(slice1)
    val slice2 = rnd.shuffle(((0 until d).toSet -- slice1).toList.sorted)
    for (add <- slice2) {
      val withAdd = slice1 :+ add
      val test = score(withAdd)
      val (swept, sweptScore) = subSlice(withAdd)
      if (sweptScore >= math.max(best, test)) {
        slice1 = swept; best = sweptScore
      } else if (test > math.max(best, sweptScore) + 2 * tolerance) {
        slice1 = withAdd; best = test
      } // else: reject the add
    }
    // final backward sweep so within-tolerance shrink applies even when the
    // forward phase made no move (e.g. every feature landed in the seed half)
    val (finalSlice, finalScore) = subSlice(slice1)
    (finalSlice.sorted, finalScore)
  }
}

/** BackForwardCV (selection/backforward.py:337-385): run BackForward once
  * per held-out fold variant and keep the support with the best overall CV
  * score — all on the precomputed Grams, zero extra data passes.
  */
object BackForwardCV {
  def search(grams: FoldGrams, tolerance: Double = 0.01): (Seq[Int], Double) = {
    val variants = grams.folds.indices.map { held =>
      val reduced = FoldGrams(grams.features,
        grams.folds.zipWithIndex.collect { case (g, i) if i != held => g })
      BackForward.search(reduced, seed = held.toLong, tolerance = tolerance)._1
    }
    variants.distinct
      .map(s => (s, grams.cvR2(s)))
      .maxBy(_._2)
  }
}

/** Binary-mask genetic algorithm (selection/ga.py:90-123 + eaSimple loop
  * :13-79): tournament selection, two-point crossover, shuffle-index
  * mutation, hall of fame, 15-generation plateau early stop.
  */
object GaSelect {
  final case class Config(
      popSize: Int = 50,
      nGen: Int = 20,
      cxPb: Double = 0.5,
      mutPb: Double = 0.2,
      tournament: Int = 3,
      plateau: Int = 15,
      seed: Long = 42L
  )

  def search(grams: FoldGrams, cfg: Config = Config()): (Seq[Int], Double) = {
    val rnd = new Random(cfg.seed)
    val d = grams.features.size
    def score(mask: Vector[Boolean]): Double = {
      val subset = mask.zipWithIndex.collect { case (true, i) => i }
      if (subset.isEmpty) graft.expr.Scoring.worst else grams.cvR2(subset)
    }
    var pop = Vector.fill(cfg.popSize)(Vector.fill(d)(rnd.nextBoolean()))
    var fitness = pop.map(score)
    var hallMask = pop(fitness.indexOf(fitness.max))
    var hallScore = fitness.max
    val recent = scala.collection.mutable.Queue.empty[Double]
    var gen = 0
    var stop = false
    while (gen < cfg.nGen && !stop) {
      gen += 1
      // tournament selection
      val selected = Vector.fill(cfg.popSize) {
        val idx = Vector.fill(cfg.tournament)(rnd.nextInt(cfg.popSize))
        idx.maxBy(fitness)
      }.map(pop)
      // two-point crossover
      val crossed = selected.grouped(2).flatMap {
        case Vector(a, b) if rnd.nextDouble() < cfg.cxPb && d > 2 =>
          val Seq(p1, p2) = Seq(rnd.nextInt(d), rnd.nextInt(d)).sorted
          val c1 = a.patch(p1, b.slice(p1, p2), p2 - p1)
          val c2 = b.patch(p1, a.slice(p1, p2), p2 - p1)
          Vector(c1, c2)
        case v => v
      }.toVector
      // bit-flip mutation
      pop = crossed.map { ind =>
        if (rnd.nextDouble() < cfg.mutPb) {
          val i = rnd.nextInt(d)
          ind.updated(i, !ind(i))
        } else ind
      }
      fitness = pop.map(score)
      val genBest = fitness.max
      if (genBest > hallScore) {
        hallScore = genBest
        hallMask = pop(fitness.indexOf(genBest))
      }
      recent.enqueue(hallScore)
      if (recent.size > cfg.plateau) {
        recent.dequeue()
        if (recent.head == recent.last) stop = true // plateau early stop
      }
    }
    (hallMask.zipWithIndex.collect { case (true, i) => i }, hallScore)
  }
}
