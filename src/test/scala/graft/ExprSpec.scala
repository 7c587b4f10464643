package graft

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.expr._
import graft.search.{BackForward, Corr, Ego, Exhaustion, GaSelect, GramCV, SymbolicSearch}

class ExprSpec extends GraftSuite {
  import spark.implicits._

  private lazy val reg = Registry(terminals = Map(
    "x0" -> (col("x0"), Dim.of(0 -> 1.0)), // e.g. length
    "x1" -> (col("x1"), Dim.of(0 -> 1.0)),
    "x2" -> (col("x2"), Dim.of(1 -> 1.0)), // e.g. mass
    "x3" -> (col("x3"), Dim.dless)
  ))

  test("dim algebra: reference truth table (test_dim.py style)") {
    val L = Dim.of(0 -> 1.0); val M = Dim.of(1 -> 1.0)
    assert(L + L == L)
    assert((L + M).isNan)
    assert(L * M == Dim(Vector(1, 1, 0, 0, 0, 0, 0)))
    assert(L / L == Dim.dless)
    assert(L.pow(2.0) == Dim(Vector(2, 0, 0, 0, 0, 0, 0)))
    assert(L.transcendental.isNan)
    assert(Dim.dless.transcendental == Dim.dless)
    assert((DNan * L).isNan && (DNan + L).isNan)
  }

  test("compiler: expression evaluates exactly; dim typecheck prunes") {
    val df = Seq((1.0, 2.0, 3.0, 4.0), (5.0, 6.0, 7.0, 8.0))
      .toDF("x0", "x1", "x2", "x3")
    // (x0+x1)*(x2-x3) — the reference's height_2.py target expression
    val e = Binary("*", Binary("+", Terminal("x0"), Terminal("x1")),
      Binary("-", Terminal("x2"), Terminal("x3")))
    val got = df.select(Compiler.compile(e, reg).as("v")).as[Double]
      .collect().sorted
    assert(got.sameElements(
      Array((1.0 + 2.0) * (3.0 - 4.0), (5.0 + 6.0) * (7.0 - 8.0)).sorted))
    // dim: (L+L)*(M−dless) → NaN (M-dless illegal)
    assert(Compiler.dimOf(e, reg).isNan)
    val ok = Binary("/", Binary("+", Terminal("x0"), Terminal("x1")), Terminal("x0"))
    assert(Compiler.dimOf(ok, reg) == Dim.dless)
    // ln of dimensioned input is ill-typed; ln of dimensionless is fine
    assert(Compiler.dimOf(Unary("ln", Terminal("x2")), reg).isNan)
    assert(Compiler.dimOf(Unary("ln", Terminal("x3")), reg) == Dim.dless)
  }

  test("render + height + staticLimit guard") {
    val e = Binary("+", Unary("pow2", Terminal("x0")), ConstE(2.0))
    assert(e.render == "(pow2(x0) + 2)")
    assert(e.height == 2 && e.size == 4)
    val deep = (1 to 100).foldLeft[FeatureExpr](Terminal("x0"))((a, _) =>
      Unary("neg", a))
    intercept[IllegalArgumentException](Compiler.compile(deep, reg))
  }

  test("scoreBatch: exact r2 for linear relation, error containment for bad exprs") {
    val df = (1 to 50).map(i => (i.toDouble, 2.0 * i + 3.0)).toDF("x", "y")
    val scores = Scoring.scoreBatch(df, col("y"), Seq(
      "lin" -> col("x"), // y = 2x+3 exactly
      "bad" -> try_divide(lit(1.0), col("x") - col("x")), // div by zero -> null rows
      "lnneg" -> log(negate(col("x"))) // NaN rows
    ))
    assert(approx(scores("lin").r2, 1.0))
    assert(approx(scores("lin").a, 2.0) && approx(scores("lin").b, 3.0))
    assert(scores("bad").r2 == Scoring.worst)
    assert(scores("lnneg").r2 == Scoring.worst)
  }

  test("scoreBatch: a null target takes its row out of every candidate's sums") {
    // y = f on ten rows; the eleventh has f = 5 and no y
    val df = ((1 to 10).map(i => (i.toDouble, Option(i.toDouble))) :+ ((5.0, None)))
      .toDF("f", "y")
    val fit = Scoring.scoreBatch(df, col("y"), Seq("f" -> col("f")))("f")
    assert(fit.n == 10 && approx(fit.r2, 1.0), fit)
  }

  test("GramCV: fold grams reproduce OLS CV r2 computed by hand") {
    val rnd = new Random(7)
    val rows = (1 to 200).map { i =>
      val x0 = rnd.nextDouble() * 10; val x1 = rnd.nextDouble() * 5
      val noise = rnd.nextGaussian() * 0.01
      (i.toLong, x0, x1, 3.0 * x0 - 2.0 * x1 + 1.0 + noise)
    }
    val df = rows.toDF("id", "x0", "x1", "y")
    val grams = GramCV.fit(df, Seq("x0", "x1"), "y", 3, Seq(col("id")))
    val full = grams.cvR2(Seq(0, 1))
    assert(full > 0.999, s"cv r2 $full")
    val beta = grams.coefficients(Seq(0, 1))
    assert(approx(beta(0), 3.0, 1e-2) && approx(beta(1), -2.0, 1e-2))
    // single feature fits worse
    assert(grams.cvR2(Seq(0)) < full)
    // exhaustion ranks the full subset first among size-2 subsets
    val ranked = Exhaustion.search(grams, Seq(1, 2))
    assert(ranked.head.subset == Seq(0, 1))
  }

  test("GramCV: a singular subset scores worst; any other error propagates") {
    // z0 and z1 are two identical never-firing columns: every Gram over
    // them is exactly singular. (Identical NON-zero columns are only
    // numerically singular — LU rounding leaves a tiny pivot, and breeze
    // solves instead of throwing.)
    val df = (1 to 60).map(i => (i.toLong, i.toDouble, 0.0, 0.0, 2.0 * i + (i % 7)))
      .toDF("id", "x0", "z0", "z1", "y")
    val grams = GramCV.fit(df, Seq("x0", "z0", "z1"), "y", 3, Seq(col("id")))
    assert(grams.cvR2(Seq(1, 2)) == Scoring.worst)
    assert(grams.fitR2(Seq(1, 2)) == Scoring.worst)
    assert(grams.cvR2(Seq(0)) > 0.9)
    // a feature index past the Gram is a caller bug, not a bad subset
    intercept[IndexOutOfBoundsException](grams.cvR2(Seq(7)))
    intercept[IndexOutOfBoundsException](grams.fitR2(Seq(7)))
  }

  test("selection suite: corr filter, backforward, GA find the signal") {
    val rnd = new Random(11)
    val rows = (1 to 300).map { i =>
      val x0 = rnd.nextDouble()
      val x1 = x0 * 0.999 + rnd.nextGaussian() * 1e-4 // near-duplicate of x0
      val x2 = rnd.nextDouble()
      val noise = rnd.nextGaussian() * 0.001
      (i.toLong, x0, x1, x2, 5.0 * x0 + 2.0 * x2 + noise)
    }
    val df = rows.toDF("id", "x0", "x1", "x2", "y")
    val m = Corr.matrix(df, Seq("x0", "x1", "x2"))
    assert(m(0)(0) == 1.0 || approx(m(0)(0), 1.0))
    assert(m(0)(1) > 0.99) // the planted near-duplicate
    assert(math.abs(m(0)(2)) < 0.3)
    val kept = Corr.removeCoef(m, 0.95)
    assert(kept.contains(2) && kept.size == 2) // one of {x0,x1} dropped
    val grams = GramCV.fit(df, Seq("x0", "x1", "x2"), "y", 3, Seq(col("id")))
    val (bfSubset, bfScore) = BackForward.search(grams)
    assert(bfScore > 0.999 && bfSubset.contains(2))
    val (gaSubset, gaScore) = GaSelect.search(grams,
      GaSelect.Config(popSize = 20, nGen = 10))
    assert(gaScore > 0.999 && gaSubset.contains(2))
  }

  test("symbolic search recovers a planted expression family") {
    val rnd = new Random(3)
    val rows = (1 to 200).map { i =>
      val x0 = 1.0 + rnd.nextDouble(); val x1 = 1.0 + rnd.nextDouble()
      (x0, x1, x0 * x1) // target: y = x0*x1
    }
    val df = rows.toDF("x0", "x1", "y")
    val r = Registry(terminals = Map(
      "x0" -> (col("x0"), Dim.dless), "x1" -> (col("x1"), Dim.dless)))
    val res = SymbolicSearch.fit(df, r, col("y"),
      SymbolicSearch.Config(popSize = 40, nGen = 6, maxHeight = 3, seed = 5))
    assert(res.best.score > 0.999, s"best=${res.best.expr.render} ${res.best.score}")
  }

  test("EGO: bootstrap EI ranking prefers the known-better region") {
    val rnd = new Random(13)
    val train = (1 to 150).map { i =>
      val x = rnd.nextDouble() * 10
      (i.toLong, x, 2.0 * x + rnd.nextGaussian() * 0.1)
    }.toDF("id", "x", "y")
    val model = Ego.fitBootstrap(train, Seq("x"), "y", col("id"), b = 8)
    val space = Ego.searchSpace(spark, Seq("x" -> (0 to 20).map(_.toDouble)))
    val ranked = Ego.rank(space, model, yStar = 20.0).collect()
    // best EI should be at the largest x (predicted y ≈ 2x > y* only there)
    assert(ranked.head.getAs[Double]("x") >= 19.0)
    // pareto front of a simple 2-objective set
    val front = Ego.paretoFront(Array(
      Array(1.0, 5.0), Array(2.0, 4.0), Array(0.5, 0.5), Array(3.0, 1.0)))
    assert(front.toSet == Set(0, 1, 3))
  }

  test("egoSearch: single-objective EGO/KG/MaxP acquisitions (ego.py:37-117)") {
    inBothModes {
      import breeze.linalg.DenseVector
      val model = Ego.Model(Array(
        DenseVector(1.0, 0.0), DenseVector(1.2, 0.1),
        DenseVector(0.8, -0.1), DenseVector(1.0, 0.2)), Seq("x"))
      val space = Seq(0.0, 1.0, 2.0).toDF("x")
      val r = Ego.egoSearch(space, model, yMax = 1.5, rankway = "ego").collect()
      // ASCENDING argsort by ei_ego (reference order, ego.py:106-110)
      assert(r.map(_.getAs[Double]("x")).toSeq == Seq(0.0, 1.0, 2.0))
      // expected values computed independently with exact math.erf
      val top = r.last
      assert(approx(top.getAs[Double]("pred_mean"), 2.05, 1e-9))
      assert(approx(top.getAs[Double]("pred_std"), 0.3640054944640263, 1e-9))
      assert(approx(top.getAs[Double]("ei_ego"), 0.560403975026175, 1e-5))
      assert(approx(top.getAs[Double]("ei_kg"), 0.14521718204012973, 1e-5))
      assert(approx(top.getAs[Double]("max_p"), 0.06932464389460541, 1e-5))
      assert(approx(r(1).getAs[Double]("ei_ego"), 0.002141554512412297, 1e-5))
      // the codegen erf kernel against exact reference values
      import graft.functions.MathX
      assert(math.abs(MathX.erf(0.5) - 0.5204998778130465) < 2e-7)
      assert(math.abs(MathX.normCdf(1.0) - 0.8413447460685429) < 2e-7)
      assert(math.abs(MathX.normCdf(-1.0) - 0.15865525393145705) < 2e-7)
    }
  }

  test("DimPolicy: the five score_dim modes (scores.py:280-301)") {
    import graft.expr.{Dim, DimPolicy, DNan}
    val len = Dim.of(0 -> 1.0)           // e.g. metres
    val len2 = Dim.of(0 -> 2.0)          // metres^2 (same base, powered)
    val halfLen = Dim.of(0 -> 0.5)       // metres^0.5 (same base, fractional)
    val speed = Dim.of(0 -> 1.0, 2 -> -1.0)
    // None: everything passes, even the NaN sentinel
    assert(DimPolicy.any(len) && DimPolicy.any(DNan))
    // 'integer': integral exponents only; dnan fails
    assert(DimPolicy.integer(len) && DimPolicy.integer(len2))
    assert(!DimPolicy.integer(halfLen) && !DimPolicy.integer(DNan))
    assert(DimPolicy.integer(Dim.dless))
    // 'coef': anything but the NaN sentinel
    assert(DimPolicy.coef(len) && DimPolicy.coef(halfLen) && !DimPolicy.coef(DNan))
    // exact (fuzzy=False)
    assert(DimPolicy.exact(len)(len))
    assert(!DimPolicy.exact(len)(len2) && !DimPolicy.exact(len)(DNan))
    // fuzzy same-base: any power of the base passes, other bases fail;
    // dless is same-base with everything (reference is_same_base parity)
    assert(DimPolicy.sameBase(len)(len2) && DimPolicy.sameBase(len)(halfLen))
    assert(!DimPolicy.sameBase(len)(speed) && !DimPolicy.sameBase(len)(DNan))
    assert(DimPolicy.sameBase(len)(Dim.dless))
    // reference parity quirk (dimfunc.py:250 exact float compare): the
    // multi-axis base (1,1) REJECTS its own cube (3,3) by one ulp of the
    // irrational norms — bit-for-bit what the reference does
    val ab = Dim.of(0 -> 1.0, 1 -> 1.0)
    val ab3 = Dim.of(0 -> 3.0, 1 -> 3.0)
    assert(!DimPolicy.sameBase(ab)(ab3), "parity: exact-float same-base misses (3,3)")
    // sameBaseRobust: true mathematical parallelism (cross-multiplication,
    // no irrational norm) — accepts the cube, rejects anti-parallel/other
    assert(DimPolicy.sameBaseRobust(ab)(ab3))
    assert(DimPolicy.sameBaseRobust(len)(len2) && DimPolicy.sameBaseRobust(len)(halfLen))
    assert(!DimPolicy.sameBaseRobust(ab)(Dim.of(0 -> -1.0, 1 -> -1.0)),
      "anti-parallel is a different base (reference rejects it too)")
    assert(!DimPolicy.sameBaseRobust(len)(speed) && !DimPolicy.sameBaseRobust(len)(DNan))
    assert(DimPolicy.sameBaseRobust(ab)(Dim.dless))
    // list form: exact membership
    val inList = DimPolicy.oneOf(Seq(len, speed))
    assert(inList(len) && inList(speed) && !inList(len2) && !inList(DNan))
  }
}
