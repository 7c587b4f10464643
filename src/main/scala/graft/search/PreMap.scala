package graft.search

import scala.util.Random

/** Terminal-preference matrix biasing GP generation — the reference's
  * `PreMap` (featurebox/symbol/probability/preference.py:17-357): an
  * (n × n) row-directed matrix whose entry (i,j) encodes how much terminal i
  * "likes" co-occurring with j in one expression. Row-normalized sampling
  * probabilities; bind/penalize edits; online update from elite expressions
  * with noise; row-sum conservation (test_preference.py:11-18 invariant).
  */
final class PreMap private (val m: Array[Array[Double]]) {
  val n: Int = m.length

  /** Conditional probabilities of partners given `i` (get_ind_value). */
  def conditional(i: Int): Array[Double] = {
    val row = m(i).clone()
    row(i) = 0.0
    val s = row.sum
    if (s <= 0) Array.fill(n)(if (n > 1) 1.0 / (n - 1) else 0.0)
    else row.map(_ / s)
  }

  /** Strengthen the (i,j) association by `delta`: raise m(i)(j) and m(j)(i)
    * and shrink the other entries of each affected ROW proportionally so
    * every row's sum is conserved (down_other_point :51-87 — the matrix is
    * row-directed: row i is i's sampling distribution).
    */
  def bind(i: Int, j: Int, delta: Double): Unit = {
    require(i != j)
    def raiseInRow(r: Int, c: Int): Unit = {
      val others = (0 until n).filter(k => k != c && k != r)
      val rest = others.map(m(r)).sum
      if (rest > delta) {
        val scale = (rest - delta) / rest
        others.foreach(k => m(r)(k) *= scale)
        m(r)(c) += delta
      }
    }
    raiseInRow(i, j)
    raiseInRow(j, i)
  }

  /** Online update from an elite expression's terminal index set: every
    * co-occurring pair is reinforced proportionally to `rate`, with seeded
    * noise (update :191-217).
    */
  def update(terminals: Seq[Int], rate: Double, rnd: Random): Unit = {
    val pairs = for {
      a <- terminals; b <- terminals if a < b
    } yield (a, b)
    pairs.foreach { case (a, b) =>
      bind(a, b, rate * (1.0 + 0.1 * rnd.nextGaussian()))
    }
  }

  /** Sample a partner terminal for `i` (probability-weighted). */
  def samplePartner(i: Int, rnd: Random): Int = {
    val p = conditional(i)
    val u = rnd.nextDouble()
    var acc = 0.0
    var k = 0
    while (k < n - 1 && acc + p(k) < u) { acc += p(k); k += 1 }
    if (k == i) (k + 1) % n else k
  }

  def rowSum(i: Int): Double = m(i).sum

  /** Grow the matrix for one freshly-added terminal (the reference's
    * `premap.add_new()` after `add_tree_to_features`, base.py:744): the new
    * terminal gets a uniform row; every old row donates proportionally so
    * its sum stays conserved (old off-diag mass × n−1/n + 1/n = 1).
    */
  def addNew(): PreMap = {
    val g = Array.fill(n + 1, n + 1)(0.0)
    for (i <- 0 until n) {
      val s = m(i).sum
      // old rows donate 1/(n+1) of their mass to the new terminal's column,
      // everything else scales by n/(n+1): row sum conserved exactly
      for (j <- 0 until n if j != i) g(i)(j) = m(i)(j) * n / (n + 1.0)
      g(i)(n) = s / (n + 1.0)
    }
    for (j <- 0 until n) g(n)(j) = 1.0 / n // new row: uniform
    new PreMap(g)
  }
}

object PreMap {
  /** Uniform initialization (from_shape :30-49). */
  def uniform(n: Int): PreMap =
    new PreMap(Array.tabulate(n, n)((i, j) => if (i == j) 0.0 else 1.0 / (n - 1)))
}
