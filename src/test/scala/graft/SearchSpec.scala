package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.expr._
import graft.search.{Corr, Ego, GramCV, SymbolicSearch}

/** The search layer's shared machinery off the bench path: the Gram
  * core's null rule, the correlation matrix's shift, fold-key validation,
  * the bootstrap weight of a null row key, the GP search's caching of its
  * input, and GP tree surgery over group (array) nodes.
  */
class SearchSpec extends GraftSuite {
  import spark.implicits._

  private def rows(seed: Int) = {
    val rnd = new Random(seed)
    (1 to 90).map { i =>
      val x0 = rnd.nextDouble() * 10; val x1 = rnd.nextDouble() * 5
      (i.toLong, Option(x0), Option(x1), Option(3.0 * x0 - 2.0 * x1 + 1.0 + rnd.nextGaussian()))
    }
  }

  test("a row with a null in any Gram column is left out of every sum and of n") {
    val clean = rows(5)
    val cleanDf = clean.toDF("id", "x0", "x1", "y")
    val feats = Seq("x0", "x1")
    def close(a: Double, b: Double, what: String) =
      assert(approx(a, b, 1e-12), s"$what: $a vs $b")
    for ((extra, what) <- Seq(
        (91L, Some(4.0), Some(2.0), None) -> "null y",
        (92L, Some(4.0), None, Some(9.0)) -> "null feature")) {
      val df = (clean :+ extra).toDF("id", "x0", "x1", "y")
      val (m, m0) = (Corr.matrix(df, feats :+ "y"), Corr.matrix(cleanDf, feats :+ "y"))
      for (i <- m.indices; j <- m.indices) close(m(i)(j), m0(i)(j), s"$what corr($i, $j)")
      val (g, g0) = (GramCV.fit(df, feats, "y", 3, Seq(col("id"))),
        GramCV.fit(cleanDf, feats, "y", 3, Seq(col("id"))))
      for (s <- Seq(Seq(0), Seq(1), Seq(0, 1))) {
        close(g.cvR2(s), g0.cvR2(s), s"$what cvR2 $s")
        close(g.fitR2(s), g0.fitR2(s), s"$what fitR2 $s")
        g.coefficients(s).toArray.zip(g0.coefficients(s).toArray)
          .foreach { case (a, b) => close(a, b, s"$what beta $s") }
      }
      val terms = feats.map(col)
      val ((w, b), (w0, b0)) = (CoefFit.linearTerms(df, col("y"), terms),
        CoefFit.linearTerms(cleanDf, col("y"), terms))
      w.toArray.zip(w0.toArray).foreach { case (a, c) => close(a, c, s"$what W") }
      close(b, b0, s"$what B")
    }
  }

  test("Corr.matrix: a shifted frame keeps its r and a constant column reads 0") {
    val rnd = new Random(8)
    val base = (1 to 1000).map { _ =>
      val a = rnd.nextDouble(); (a, 2.0 * a + 0.05 * rnd.nextGaussian())
    }
    val m0 = Corr.matrix(base.toDF("a", "b"), Seq("a", "b"))
    assert(m0(0)(1) > 0.99 && m0(0)(1) < 1.0, s"r = ${m0(0)(1)}")
    // raw sums cancel here: x'x/n and (Σx/n)² agree to ~16 digits at 1e8
    val shifted = base.map { case (a, b) => (a + 1e8, b + 1e8) }.toDF("a", "b")
    val m1 = Corr.matrix(shifted, Seq("a", "b"))
    for (i <- 0 to 1; j <- 0 to 1)
      assert(math.abs(m1(i)(j) - m0(i)(j)) <= 1e-9, s"r($i, $j): ${m1(i)(j)} vs ${m0(i)(j)}")
    // 3.0 sums exactly; a thousand 0.1s do not, so their mean is inexact
    val withConst = base.map { case (a, b) => (a, b, 3.0, 0.1) }.toDF("a", "b", "c3", "c01")
    val mc = Corr.matrix(withConst, Seq("a", "b", "c3", "c01"))
    for (i <- 0 to 3; j <- 2 to 3)
      assert(mc(i)(j) == 0.0 && mc(j)(i) == 0.0, s"r($i, $j) = ${mc(i)(j)}, r($j, $i) = ${mc(j)(i)}")
    assert(mc(0)(1) == m0(0)(1))
  }

  test("a null or out-of-range fold key fails loudly, naming the keys") {
    val base = rows(6).map { case (id, x0, _, y) => (id, x0, y, Option((id % 3).toInt)) }
    val df = (base ++ Seq((91L, Some(1.0), Some(2.0), None), (92L, Some(3.0), Some(4.0), Some(5))))
      .toDF("id", "x0", "y", "fold")
    val e = intercept[IllegalArgumentException](
      GramCV.fitWithFold(df, Seq("x0"), "y", 3, col("fold")))
    assert(e.getMessage.contains("null") && e.getMessage.contains("5"), e.getMessage)
    val nullOnly = (base :+ ((91L, Some(1.0), Some(2.0), None))).toDF("id", "x0", "y", "fold")
    intercept[IllegalArgumentException](
      GramCV.fitWithFold(nullOnly, Seq("x0"), "y", 3, col("fold")))
    // the keys Scoring.foldCol makes are always in range
    assert(GramCV.fitWithFold(df, Seq("x0"), "y", 3, Scoring.foldCol(Seq(col("id")), 3))
      .folds.map(_.n).sum == df.count())
  }

  test("a row with a null row key is in no bootstrap draw") {
    val clean = rows(7).map { case (id, x0, x1, y) => (Option(id), x0, x1, y) }
    val cleanDf = clean.toDF("id", "x0", "x1", "y")
    // far off the plane, so any weight it got would move every beta
    val df = (clean :+ ((None, Some(4.0), Some(2.0), Some(500.0))))
      .toDF("id", "x0", "x1", "y")
    def betas(m: Ego.Model) = m.betas.toSeq.map(_.toArray.toSeq)
    def same(a: Seq[Seq[Double]], b: Seq[Seq[Double]], what: String) =
      for ((ra, rb) <- a.zip(b); (x, y) <- ra.zip(rb))
        assert(approx(x, y, 1e-12), s"$what: $a vs $b")
    same(betas(Ego.fitBootstrap(df, Seq("x0", "x1"), "y", col("id"), b = 8)),
      betas(Ego.fitBootstrap(cleanDf, Seq("x0", "x1"), "y", col("id"), b = 8)),
      "fitBootstrap")
    def exact(d: org.apache.spark.sql.DataFrame) = betas(Ego.fitBootstrapExact(
      d, "x", floor(col("x0") * 10.0), floor(col("y") * 100.0), col("id"), b = 8))
    same(exact(df), exact(cleanDf), "fitBootstrapExact")
  }

  test("SymbolicSearch.fit leaves its caller's cache in place and caches nothing else") {
    import org.apache.spark.storage.StorageLevel
    val reg = Registry(terminals = Map(
      "x0" -> (col("x0"), Dim.dless), "x1" -> (col("x1"), Dim.dless)))
    val cfg = SymbolicSearch.Config(popSize = 6, nGen = 1, maxHeight = 2)
    val cached = rows(3).toDF("id", "x0", "x1", "y").persist()
    try {
      cached.count()
      SymbolicSearch.fit(cached, reg, col("y"), cfg)
      assert(cached.storageLevel != StorageLevel.NONE, "fit uncached its caller's frame")
    } finally cached.unpersist()
    val plain = rows(3).toDF("id", "x0", "x1", "y")
    SymbolicSearch.fit(plain, reg, col("y"), cfg)
    assert(plain.storageLevel == StorageLevel.NONE, "fit left its own cache behind")
  }

  test("GP tree surgery over group nodes: fixed-seed renders") {
    val tree: FeatureExpr = Binary("-",
      GroupReduce("MAdd", GroupMap("sqrt", Terminal("g"))),
      Binary("*", Unary("neg", Terminal("x0")),
        GroupReduce("MSub", GroupReduce("Conv", Terminal("h")))))
    val other: FeatureExpr = Binary("/", GroupReduce("MMul", Terminal("h")),
      Binary("+", Terminal("x0"), Unary("abs", Terminal("x0"))))
    val both = Binary("+", tree, other)
    assert((tree.height, tree.size, tree.terminals) == ((4, 10, Seq("g", "x0", "h"))))
    assert((both.height, both.size, both.terminals) ==
      ((5, 18, Seq("g", "x0", "h", "h", "x0", "x0"))))
    val rnd = new Random(11)
    val out = (1 to 5).flatMap { _ =>
      val (c1, c2) = SymbolicSearch.crossover(rnd, tree, other)
      Seq(c1, c2, SymbolicSearch.mutShrink(rnd, tree), SymbolicSearch.mutNode(rnd, tree),
        SymbolicSearch.mutNode(rnd, both),
        SymbolicSearch.mutDifferentReplacement(rnd, Seq("g", "h", "x0", "x1"), both))
    }
    assert(out.map(_.render) == Seq(
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(abs(x0))))",
      "(MMul(h) / (x0 + Conv(h)))",
      "(g - (neg(x0) * MSub(Conv(h))))",
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h)))) + (MMul(h) / (x0 + abs(x0))))",
      "((MAdd(map_sqrt(g)) - (neg(g) * MSub(Conv(h)))) + (MMul(x1) / (x0 + abs(x0))))",
      "(MAdd(map_sqrt(g)) - (neg(x0) * h))",
      "(MMul(MSub(Conv(h))) / (x0 + abs(x0)))",
      "(MAdd(map_sqrt(g)) - x0)",
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h)))) + (MMul(h) / (x0 + abs(x0))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(g)))) + (MMul(h) / (x1 + abs(x0))))",
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(h)))",
      "(MMul(Conv(h)) / (x0 + abs(x0)))",
      "(MAdd(map_sqrt(g)) - (x0 * MSub(Conv(h))))",
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h)))) + (MMul(h) / (x0 + abs(x0))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(x1)))) + (MMul(h) / (g + abs(x0))))",
      "(MAdd(map_sqrt(g)) - x0)",
      "(MMul(h) / ((neg(x0) * MSub(Conv(h))) + abs(x0)))",
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h))))",
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h)))) + (MMul(h) / (x0 / abs(x0))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h)))) + (MMul(x1) / (g + abs(x0))))",
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv((MMul(h) / (x0 + abs(x0)))))))",
      "h",
      "(MAdd(g) - (neg(x0) * MSub(Conv(h))))",
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h)))) + (MMul(h) / (x0 + sqrt(x0))))",
      "((MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(g)))) + (MMul(h) / (x0 + abs(x1))))"))
    // the surgery consumed a fixed number of draws
    assert(rnd.nextInt(1000000) == 127794)
    assert(SymbolicSearch.depart(both).map(_.render) == Seq(
      "(MAdd(map_sqrt(g)) - (neg(x0) * MSub(Conv(h))))",
      "(neg(x0) * MSub(Conv(h)))",
      "(MMul(h) / (x0 + abs(x0)))",
      "(x0 + abs(x0))"))
  }
}
