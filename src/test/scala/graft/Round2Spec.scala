package graft

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.expr._
import graft.search.{BackForward, Corr, GramCV, PreMap, SumConsensus, SymbolicSearch, UnionGrouping}

/** Round-2 operators: Conv group op, genFull/ramped init, duplicate-terminal
  * mutation, elite-subtree re-add, scoreBatch chunking, BackForward tolerance
  * semantics, MIC (binned MI) + shrink_coef, dedup cluster resolution, LSH
  * multi-probe, UGS union + SUM consensus.
  */
class Round2Spec extends GraftSuite {
  import spark.implicits._

  test("Conv group op: k=2 swap, identity otherwise (test_function.py:135-138)") {
    val df = Seq((Seq(3.0, 7.0), Seq(1.0, 2.0, 4.0))).toDF("g2", "g3")
    val reg = Registry(
      terminals = Map.empty,
      groups = Map(
        "g2" -> (col("g2"), Dim.dless, 2),
        "g3" -> (col("g3"), Dim.dless, 3)))
    // MSub(Conv(g2)) = g2[2] - g2[1]
    val e = GroupReduce("MSub", GroupReduce("Conv", Terminal("g2")))
    val got = df.select(Compiler.compile(e, reg).as("v")).as[Double].head()
    assert(got == 7.0 - 3.0)
    // Conv on k=3 is identity: MAdd unchanged
    val e3 = GroupReduce("MAdd", GroupReduce("Conv", Terminal("g3")))
    assert(df.select(Compiler.compile(e3, reg).as("v")).as[Double].head() == 7.0)
    // dim propagation unchanged by Conv
    assert(Compiler.dimOf(GroupReduce("Conv", Terminal("g2")), reg) == Dim.dless)
  }

  test("genFull puts every leaf at exactly the requested depth") {
    val rnd = new Random(7)
    val names = Seq("x0", "x1", "x2")
    for (h <- 1 to 4; _ <- 1 to 10) {
      val e = SymbolicSearch.full(rnd, names, h)
      assert(e.height == h, s"full($h) produced height ${e.height}")
    }
  }

  test("depart: proper subtrees with >= 1 operator and >= 2 terminal slots") {
    val e = Binary("*", Binary("+", Terminal("x0"), Terminal("x1")),
      Unary("pow2", Terminal("x2")))
    val subs = SymbolicSearch.depart(e)
    val renders = subs.map(_.render)
    assert(renders.contains("(x0 + x1)"))
    assert(!renders.contains(e.render)) // proper subtrees only
    assert(!renders.exists(_ == "x0")) // bare terminals excluded
    assert(!renders.contains("pow2(x2)")) // single terminal slot excluded
  }

  test("mutDifferentReplacement diversifies duplicated terminals") {
    val rnd = new Random(1)
    val names = Seq("x0", "x1", "x2", "x3")
    val e = Binary("+", Binary("*", Terminal("x0"), Terminal("x0")), Terminal("x0"))
    val mutated = SymbolicSearch.mutDifferentReplacement(rnd, names, e)
    assert(mutated.size == e.size) // structure preserved
    val ters = mutated.terminals
    assert(ters.exists(_ != "x0"), s"no diversification: $ters")
    // small trees untouched (gp.py guard len < 4)
    val tiny = Binary("+", Terminal("x0"), Terminal("x0"))
    assert(SymbolicSearch.mutDifferentReplacement(rnd, names, tiny) == tiny)
    // no duplicates -> untouched
    val nodup = Binary("+", Terminal("x0"), Unary("pow2", Terminal("x1")))
    assert(SymbolicSearch.mutDifferentReplacement(rnd, names, nodup) == nodup)
  }

  test("elite-subtree re-add: departed subtree registers, compiles, evaluates " +
    "(test_symbol_base.py:76-87 analog)") {
    // direct mechanics: depart an elite, withDerived-register the subtree,
    // compile the derived terminal and check it equals the subtree's value
    val df = Seq((1.0, 2.0, 3.0), (4.0, 5.0, 6.0)).toDF("x0", "x1", "x2")
    val reg0 = Registry(terminals = Map(
      "x0" -> (col("x0"), Dim.dless),
      "x1" -> (col("x1"), Dim.dless),
      "x2" -> (col("x2"), Dim.dless)))
    val elite = Binary("*", Binary("+", Terminal("x0"), Terminal("x1")), Terminal("x2"))
    val sub = SymbolicSearch.depart(elite).head
    val reg1 = reg0.withDerived(sub.render,
      Compiler.compile(sub, reg0), Compiler.dimOf(sub, reg0))
    val viaDerived = df.select(
      Compiler.compile(Terminal(sub.render), reg1).as("v")).as[Double].collect()
    val direct = df.select(
      Compiler.compile(sub, reg0).as("v")).as[Double].collect()
    assert(viaDerived.sameElements(direct))

    // end-to-end: a GP run with reTree > 0 grows its registry
    val rnd = new Random(2)
    val rows = (1 to 150).map { _ =>
      val a = 1.0 + rnd.nextDouble(); val b = 1.0 + rnd.nextDouble()
      val c = 1.0 + rnd.nextDouble()
      (a, b, c, (a + b) * c)
    }
    val data = rows.toDF("x0", "x1", "x2", "y")
    val res = SymbolicSearch.fit(data, reg0, col("y"),
      SymbolicSearch.Config(popSize = 24, nGen = 4, maxHeight = 3, reTree = 2, seed = 9))
    assert(res.registry.terminals.size > reg0.terminals.size,
      "re-add never registered a derived terminal")
    // every hall expression compiles under the returned registry
    res.hall.foreach(h => Compiler.compile(h.expr, res.registry))
  }

  test("scoreBatch chunks: 1000 candidates score without codegen blowup " +
    "(reference production shape find2.py:84-90)") {
    val df = spark.range(200)
      .select(col("id").cast("double").as("x"),
        (col("id").cast("double") * 2.0 + 3.0).as("y"))
      .persist()
    try {
      val cands = (0 until 1000).map(i => s"c_$i" -> (col("x") + lit(i.toDouble)))
      val fits = Scoring.scoreBatch(df, col("y"), cands)
      assert(fits.size == 1000)
      // every shifted-linear candidate fits y exactly under A·f+B
      assert(fits.values.forall(f => approx(f.r2, 1.0, 1e-9)))
      assert(fits.values.forall(_.n == 200))
    } finally df.unpersist()
  }

  test("BackForward accepts within-tolerance drops (backforward.py:117-133)") {
    val rnd = new Random(33)
    val rows = (1 to 300).map { _ =>
      val x0 = rnd.nextDouble(); val x1 = rnd.nextDouble(); val x2 = rnd.nextDouble()
      (x0, x1, x2, x0 + x2 + rnd.nextGaussian() * 1e-6)
    }
    val df = rows.toDF("x0", "x1", "x2", "y")
    val grams = GramCV.fit(df, Seq("x0", "x1", "x2"), "y", 3,
      Seq(col("x0"))) // deterministic fold hash of x0
    // x1 is pure noise: a tolerance-accepting backward sweep MUST drop it
    // (the old strict-improvement guard kept it forever). Reference parity
    // (score_pri, backforward.py:160-163): size<=1 scores -inf, so the
    // sweep can never shrink the support below two features.
    val (subset, score) = BackForward.search(grams, seed = 0L, tolerance = 0.01)
    assert(subset == Seq(0, 2), s"expected within-tolerance drop of x1, got $subset")
    assert(score > 0.99)
  }

  test("removeCoef traverses the seeded shuffle order (corr.py:149-182)") {
    // two perfectly correlated features: which one survives depends on the
    // seed — and both outcomes are reachable (the seed is live, not inert)
    val m = Array(
      Array(1.0, 0.99, 0.0),
      Array(0.99, 1.0, 0.0),
      Array(0.0, 0.0, 1.0))
    val survivors = (0L until 16L).map(s => Corr.removeCoef(m, 0.95, s)).distinct
    assert(survivors.forall(k => k.size == 2 && k.contains(2)))
    assert(survivors.toSet == Set(Seq(0, 2), Seq(1, 2)),
      s"seed must select the cluster survivor: $survivors")
  }

  test("shrinkCoef collapses coupled-column groups (corr.py:75-102)") {
    // cols: 0 single, {1,2} one group of grade 2, 3 single
    val m = Array(
      Array(1.0, 0.2, 0.4, 0.6),
      Array(0.2, 1.0, 0.9, 0.1),
      Array(0.4, 0.9, 1.0, 0.3),
      Array(0.6, 0.1, 0.3, 1.0))
    val mean = Corr.shrinkCoef(m, 2, (1, 3), "mean")
    // offset submatrices use indices [0,1,3] and [0,2,3]
    assert(mean.length == 3)
    assert(approx(mean(0)(1), (m(0)(1) + m(0)(2)) / 2)) // 0 vs group
    assert(approx(mean(0)(2), m(0)(3))) // 0 vs 3 unchanged
    assert(approx(mean(1)(2), (m(1)(3) + m(2)(3)) / 2)) // group vs 3
    val mx = Corr.shrinkCoef(m, 2, (1, 3), "max")
    assert(approx(mx(0)(1), math.max(m(0)(1), m(0)(2))))
  }

  test("binned MI: exact hand-computed grid (perfect dependence vs independence)") {
    // a == b (MI = ln 2); c independent of a (MI = 0 exactly by construction)
    val rows = (0 until 100).map { i =>
      val a = (i % 2).toDouble
      val c = (if (i % 4 < 2) 0 else 1).toDouble
      (a, a, c)
    }
    val df = rows.toDF("a", "b", "c")
    val mi = Corr.binnedMI(df, Seq("a", "b", "c"), bins = 2)
    assert(approx(mi(0)(1), math.log(2.0)))
    assert(approx(mi(0)(2), 0.0, 1e-12))
    val mic = Corr.micMatrix(df, Seq("a", "b", "c"), bins = 2)
    assert(approx(mic(0)(1), 1.0))
    assert(approx(mic(0)(2), 0.0, 1e-12))
    assert(mic(0)(0) == 1.0 && mic(2)(2) == 1.0)
    // MIC sees nonlinear dependence Pearson misses: y = (x-0.5)^2
    val rnd = new Random(5)
    val nl = (1 to 2000).map { _ =>
      val x = rnd.nextDouble()
      (x, (x - 0.5) * (x - 0.5), rnd.nextDouble())
    }.toDF("x", "y", "z")
    val micNl = Corr.micMatrix(nl, Seq("x", "y", "z"), bins = 4)
    val pearson = Corr.matrix(nl, Seq("x", "y", "z"))
    assert(micNl(0)(1) > 0.3 && math.abs(pearson(0)(1)) < 0.15,
      s"mic=${micNl(0)(1)} pearson=${pearson(0)(1)}")
    assert(micNl(0)(2) < 0.05) // independent stays low
  }

  test("resolveClusters: connected components label min id per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = graft.text.Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // long path (chain of 20): pointer jumping still converges to the min
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gotChain = graft.text.Dedup.resolveClusters(chain)
      .as[(Long, Long)].collect().toMap
    assert((1L to 20L).forall(i => gotChain(i) == 1L))
    // the hybrid driver finish must be exactly equivalent to pure BSP
    // (driverFinishEdges = 0) — long chain, forks, and multiple components
    val tangled = ((1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 140L), (140L, 120L), (120L, 100L), (200L, 201L)))
      .toDF("id_a", "id_b")
    val viaFinish = graft.text.Dedup.resolveClusters(tangled)
      .as[(Long, Long)].collect().toMap
    val pureBsp = graft.text.Dedup
      .resolveClusters(tangled, driverFinishEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaFinish == pureBsp, "driver finish diverged from pure BSP")
    assert((1L to 40L).forall(viaFinish(_) == 1L))
    assert(Seq(100L, 120L, 140L).forall(viaFinish(_) == 100L))
    // STRING/UUID doc ids (common in real training pipelines): the observe()
    // convergence counter is type-agnostic — the round-2 decimal-cast
    // fixpoint would silently null out here and return wrong clusters
    val sPairs = Seq(
      ("doc-b", "doc-c"), ("doc-a", "doc-b"),
      ("7f9e1c2a-x", "7f9e1c2a-y"), ("7f9e1c2a-y", "7f9e1c2a-z"))
      .toDF("id_a", "id_b")
    val gotS = graft.text.Dedup.resolveClusters(sPairs)
      .as[(String, String)].collect().toMap
    assert(gotS == Map(
      "doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "7f9e1c2a-x" -> "7f9e1c2a-x", "7f9e1c2a-y" -> "7f9e1c2a-x",
      "7f9e1c2a-z" -> "7f9e1c2a-x"), s"got $gotS")
  }

  test("LSH multi-probe strictly improves recall vs exact-bucket at fixed planes") {
    val e = spark.read.parquet(s"$sfSmall/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("vec"))
    val q = e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("vec"))
    val c = e.select(col("vec_id").as("cid"), col("vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("cid")).as[(Long, Long)].collect().toSet
    val truth = pairs(graft.ann.Ann.bruteTopK(q, c, k = 3))
    val single = pairs(graft.ann.Ann.lshTopK(q, c, k = 3, planes = 6))
    val multi = pairs(graft.ann.Ann.lshTopK(q, c, k = 3, planes = 6, probes = 6))
    val rSingle = (single & truth).size.toDouble / truth.size
    val rMulti = (multi & truth).size.toDouble / truth.size
    assert(rMulti > rSingle, s"recall single=$rSingle multi=$rMulti")
    // 1-bit probes only recover single-plane misses; ~0.3 at 6 planes on
    // this corpus (vs exact-bucket below it) — the point is the strict gain
    assert(rMulti >= 0.25)
  }

  test("IVF ANN: probing all lists is exact; nProbe trades recall for fan-out") {
    val e = spark.read.parquet(s"$sfSmall/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("vec"))
    val q = e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("vec"))
    val c = e.select(col("vec_id").as("cid"), col("vec"))
    val model = graft.ann.Ann.ivfTrain(c, nCentroids = 8, iterations = 3)
    assert(model.nList == 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("cid")).as[(Long, Long)].collect().toSet
    val truth = pairs(graft.ann.Ann.bruteTopK(q, c, k = 3))
    // probing EVERY list covers the whole corpus → identical to brute force
    val exact = pairs(graft.ann.Ann.ivfTopK(q, c, model, k = 3, nProbe = 8))
    assert(exact == truth, "nProbe = nList must reproduce the exact top-k")
    // the approximate setting keeps useful recall at 4x less fan-out
    val approxRecall = (pairs(graft.ann.Ann.ivfTopK(q, c, model, k = 3, nProbe = 2))
      & truth).size.toDouble / truth.size
    assert(approxRecall >= 0.5, s"ivf nProbe=2 recall $approxRecall")
    // given a model, the query path is partitioning-invariant (a per-row
    // nearest-centroid kernel; training means are deterministic only up
    // to float-sum order, like any distributed mean)
    val again = pairs(graft.ann.Ann.ivfTopK(
      q.repartition(7), c.repartition(5), model, k = 3, nProbe = 8))
    assert(again == truth)
  }

  test("UGS union + SUM consensus across ridge estimators") {
    val rnd = new Random(17)
    val rows = (1 to 400).map { _ =>
      val x0 = rnd.nextDouble(); val x1 = rnd.nextDouble()
      val x2 = rnd.nextDouble()
      (x0, x1, x2, 3.0 * x0 + 2.0 * x2 + rnd.nextGaussian() * 0.01)
    }
    val df = rows.toDF("x0", "x1", "x2", "y")
    val grams = GramCV.fit(df, Seq("x0", "x1", "x2"), "y", 3, Seq(col("x0")))
    val subsets = Seq(Seq(0), Seq(2), Seq(0, 2), Seq(1), Seq(0, 1, 2))
    val ranked = UnionGrouping.run(grams, subsets, ridges = Seq(0.0, 1e-4))
    assert(ranked.nonEmpty)
    // ranking is minmax-scaled desc, and the signal subset {x0,x2} wins its group
    assert(ranked.map(_.score) == ranked.map(_.score).sorted.reverse)
    assert(ranked.head.site == 2, s"expected subset {x0,x2} first: $ranked")

    // SUM distance sweep on hand matrices: nodes enter in distance order
    val d = Array(
      Array(0.0, 1.0, 2.0),
      Array(1.0, 0.0, 3.0),
      Array(2.0, 3.0, 0.0))
    val scores = Array(1.0, 0.5, 0.2)
    val sweep = SumConsensus.distanceSweep(Seq(d, d), Seq(scores, scores))
    assert(sweep.map(_._1) == Seq(0, 1, 2))
    assert(sweep.head._2 == 0.0 && sweep(1)._2 >= 1.0 && sweep(2)._2 >= 2.0)

    // tournament groups: union of co-clustered members + noise singleton
    val groups = UnionGrouping.tournamentGroups(Seq(
      Array(0, 0, 1, -1, 1),
      Array(0, 1, 1, 1, -1)))
    assert(groups(0) == Seq(0, 1))
    assert(groups(1) == Seq(0, 1, 2, 3)) // union across the two estimators
    assert(groups(3) == Seq(1, 2, 3))
    assert(groups(4) == Seq(2, 4))
  }

  test("PreMap.addNew conserves old row sums and adds a uniform row") {
    val pm = PreMap.uniform(4)
    pm.bind(0, 1, 0.1)
    val before = (0 until 4).map(pm.rowSum)
    val grown = pm.addNew()
    assert(grown.n == 5)
    (0 until 4).foreach(i => assert(approx(grown.rowSum(i), before(i))))
    assert(approx(grown.rowSum(4), 1.0))
  }

  test("custom binary + group ops with keep flag (newfuncV/newfuncD)") {
    Compiler.registerBinaryOp("hypot",
      Compiler.CustomBinaryOp((l, r) => sqrt(l * l + r * r),
        (a, b) => if (a == b) a else DNan))
    // keep=false: reduces the group to one value (dim folds by size);
    // keep=true: maps the group to a same-size group
    Compiler.registerGroupOp("GRange",
      Compiler.CustomGroupOp(arr => array_max(arr) - array_min(arr),
        keep = false))
    Compiler.registerGroupOp("GScale2",
      Compiler.CustomGroupOp(arr => transform(arr, x => x * 2.0), keep = true))
    val df = Seq((3.0, 4.0, Seq(1.0, 5.0, 2.0))).toDF("a", "b", "g")
    val reg = Registry(
      terminals = Map(
        "a" -> (col("a"), Dim.of(0 -> 1.0)),
        "b" -> (col("b"), Dim.of(0 -> 1.0))),
      groups = Map("g" -> (col("g"), Dim.dless, 3)))
    val e = Binary("hypot", Terminal("a"), Terminal("b"))
    assert(df.select(Compiler.compile(e, reg).as("v")).as[Double].head() == 5.0)
    assert(Compiler.dimOf(e, reg) == Dim.of(0 -> 1.0))
    val g1 = GroupReduce("GRange", Terminal("g"))
    assert(df.select(Compiler.compile(g1, reg).as("v")).as[Double].head() == 4.0)
    assert(Compiler.groupSizeOf(g1, reg) == 1) // keep=false folds arity
    val g2 = GroupReduce("MAdd", GroupReduce("GScale2", Terminal("g")))
    assert(df.select(Compiler.compile(g2, reg).as("v")).as[Double].head() == 16.0)
    assert(Compiler.groupSizeOf(GroupReduce("GScale2", Terminal("g")), reg) == 3)
  }

  test("simplify folds identities; generalExpr expands groups (simple/general_expr)") {
    val reg = Registry(
      terminals = Map("x0" -> (col("x0"), Dim.dless)),
      groups = Map(
        "g1" -> (col("g1"), Dim.dless, 1),
        "g3" -> (col("g3"), Dim.dless, 3)))
    // self/neg∘neg/±0/·1 fold away
    val e1 = Binary("+", Unary("self", Unary("neg", Unary("neg", Terminal("x0")))),
      ConstE(0))
    assert(Compiler.simplify(e1, reg) == Terminal("x0"))
    // double Conv cancels; arity-1 group reduce degenerates to Self
    assert(Compiler.simplify(
      GroupReduce("Conv", GroupReduce("Conv", Terminal("g3"))), reg) == Terminal("g3"))
    assert(Compiler.simplify(GroupReduce("MAdd", Terminal("g1")), reg) ==
      GroupReduce("Self", Terminal("g1")))
    // semantics preserved on a real frame
    val df = Seq((7.0, Seq(2.0), Seq(1.0, 2.0, 3.0))).toDF("x0", "g1", "g3")
    val deep = Binary("*", Binary("+", Terminal("x0"), ConstE(0)),
      GroupReduce("MMul", Terminal("g1")))
    val s = Compiler.simplify(deep, reg)
    assert(s.size < deep.size)
    val (a, b) = (
      df.select(Compiler.compile(deep, reg).as("v")).as[Double].head(),
      df.select(Compiler.compile(s, reg).as("v")).as[Double].head())
    assert(a == b && a == 14.0)
    // general_expr expansion
    assert(Compiler.generalExpr(GroupReduce("MAdd", Terminal("g3")), reg) ==
      "(g3_1 + g3_2 + g3_3)")
    assert(Compiler.generalExpr(
      Binary("*", Terminal("x0"), GroupReduce("MMul", Terminal("g3"))), reg) ==
      "(x0 * (g3_1 * g3_2 * g3_3))")
  }

  test("loop strategies: OnePointMutate + DimForce (flow.py loop classes)") {
    val rnd = new Random(8)
    val rows = (1 to 150).map { _ =>
      val a = 1.0 + rnd.nextDouble(); val b = 1.0 + rnd.nextDouble()
      (a, b, a * b)
    }
    val df = rows.toDF("x0", "x1", "y")
    val reg = Registry(terminals = Map(
      "x0" -> (col("x0"), Dim.of(0 -> 1.0)),
      "x1" -> (col("x1"), Dim.of(0 -> 1.0))))
    val one = SymbolicSearch.fit(df, reg, col("y"),
      SymbolicSearch.Config(popSize = 20, nGen = 3, maxHeight = 3,
        strategy = SymbolicSearch.OnePointMutate))
    assert(one.hall.nonEmpty && one.best.score > 0.5)
    // DimForce: breeding pool restricted to dim-valid individuals — with
    // requireDimless there is no dimensionless expression over L-dim
    // terminals of height <= 1... but products/quotients qualify, so the
    // loop must still find breeders and every hall member is dim-valid
    val force = SymbolicSearch.fit(df, reg, col("y"),
      SymbolicSearch.Config(popSize = 30, nGen = 3, maxHeight = 3,
        strategy = SymbolicSearch.DimForce))
    assert(force.hall.nonEmpty)
    force.hall.foreach(h =>
      assert(!Compiler.dimOf(h.expr, force.registry).isNan))
  }

  test("multi-target EGO: Pi/L/Ei vs the Pareto front (multiplyego.py:166-216)") {
    import breeze.linalg.DenseVector
    // two targets, constant models (B=2 bootstrap draws) so Pi/L are exact:
    //   target0 preds: x*1+0  and x*1+1   target1 preds: x*0+5 and x*0+7
    val m0 = graft.search.Ego.Model(
      Array(DenseVector(1.0, 0.0), DenseVector(1.0, 1.0)), Seq("x"))
    val m1 = graft.search.Ego.Model(
      Array(DenseVector(0.0, 5.0), DenseVector(0.0, 7.0)), Seq("x"))
    val space = spark.createDataFrame(
      Seq(Tuple1(1.0), Tuple1(4.0), Tuple1(10.0))).toDF("x")
    // front point (4, 6): x=1 draws (1,5),(2,7): draw0 dominated (1<4,5<6),
    // draw1 not (7>6) → Pi=0.5; x=4 draws (4,5),(5,7): 4<4 is false →
    // never strictly dominated → Pi=1; x=10 never dominated → Pi=1
    val front = Array(Array(4.0, 6.0))
    val got = graft.search.Ego.rankMulti(space, Seq(m0, m1), front)
      .select(col("x"), col("pi"), col("l"), col("ei"))
      .as[(Double, Double, Double, Double)].collect().sortBy(_._1)
    val byX = got.map(r => r._1 -> r).toMap
    assert(byX(1.0)._2 == 0.5)
    assert(byX(4.0)._2 == 1.0)
    assert(byX(10.0)._2 == 1.0)
    // L at x=10: means (10.5, 6) → min(|10.5-4|, |6-6|) = 0 → Ei = 0
    assert(byX(10.0)._3 == 0.0 && byX(10.0)._4 == 0.0)
    // L at x=1: means (1.5, 6) → min(2.5, 0) = 0; x=4: means (4.5, 6) → 0
    assert(byX(1.0)._3 == 0.0)
    // a second front point away from target1 means makes L positive
    val got2 = graft.search.Ego.rankMulti(space, Seq(m0, m1),
      Array(Array(0.0, 0.0)))
      .select(col("x"), col("pi"), col("l")).as[(Double, Double, Double)]
      .collect().sortBy(_._1)
    // never dominated by (0,0) → Pi=1; L = min(|mean0-0|, |mean1-0|)
    assert(got2.forall(_._2 == 1.0))
    assert(approx(got2(0)._3, 1.5) && approx(got2(2)._3, 6.0))
  }

  test("dedupDocs: exact + near dups cluster, min id survives") {
    val docs = Seq(
      (1L, "the quick brown fox jumps", "en"),
      (2L, "the quick brown fox jumps", "en"), // exact dup of 1
      (3L, "the quick brown fox jumped", "en"), // near dup of 1
      (4L, "completely different text here", "en"),
      (5L, "unrelated german words", "de")
    ).toDF("doc_id", "text", "lang")
    val kept = graft.text.Dedup.dedupDocs(docs, "doc_id", "text",
      blockKey = col("lang"), shingleN = 3, threshold = 0.5)
      .as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 4L, 5L)), s"kept=${kept.toSeq}")
  }

  test("stratified sample: deterministic, parallelism-invariant, rate-accurate") {
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
    val rates = Map("en" -> 0.5, "zh" -> 0.3, "de" -> 0.25)
    val s1 = graft.text.Sampling.stratified(docs, "doc_id", "lang", rates, 0.1)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val s2 = graft.text.Sampling.stratified(docs.repartition(13), "doc_id", "lang",
      rates, 0.1).select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(s1 == s2, "sample must not depend on partitioning")
    // per-stratum rate roughly honored (hash-uniformity, 500 docs)
    val n = docs.where(col("lang") === "en").count().toDouble
    val k = graft.text.Sampling.stratified(docs, "doc_id", "lang", rates, 0.1)
      .where(col("lang") === "en").count().toDouble
    assert(math.abs(k / n - 0.5) < 0.15, s"en keep rate ${k / n}")
    // different salt → different (decorrelated) sample
    val sA = graft.text.Sampling.stratified(docs, "doc_id", "lang", rates, 0.1, "sA")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(sA != s1.toSet)
  }

  test("packGreedy: no-split packing — hand truth table + invariants") {
    import spark.implicits._
    import graft.text.Packing
    // single bucket so the greedy recurrence is fully determined by the
    // shuffle order; budget 10 with token sizes that force: fit, fit,
    // overflow->new bin, oversize->own bin, then a fresh bin
    val docs = Seq(("a", 4L), ("b", 5L), ("c", 3L), ("d", 12L), ("e", 2L))
      .toDF("doc_id", "toks")
    val packed = Packing.packGreedy(docs, "doc_id", "toks", budget = 10L,
      buckets = 1, seed = 7L).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    // replay the same greedy walk in the spec's own order
    val order = docs.select(col("doc_id"),
      Packing.shuffleOrder(col("doc_id"), 7L).as("o"))
      .orderBy(col("o"), col("doc_id")).as[(String, Long)].collect().map(_._1)
    val toks = Map("a" -> 4L, "b" -> 5L, "c" -> 3L, "d" -> 12L, "e" -> 2L)
    var seq = 0L; var used = 0L; var first = true
    val expect = order.map { id =>
      val t = toks(id); val oversize = t > 10L
      if (!first && (oversize || used + t > 10L)) { seq += 1; used = 0L }
      first = false; used += t
      val res = id -> (seq, oversize)
      if (oversize) { seq += 1; used = 0L; first = true }
      res
    }.toMap
    assert(packed == expect, s"got $packed expected $expect")
    // invariants on real documents: every doc exactly once; no non-oversize
    // bin exceeds the budget; oversize bins hold exactly one doc
    val real = spark.read.parquet(s"$sfSmall/documents.parquet")
      .withColumn("toks", size(graft.text.TextHash.tokens(col("text"))).cast("long"))
    val p = Packing.packGreedy(real, "doc_id", "toks", budget = 64L, buckets = 4)
    assert(p.count() == real.count())
    // packGreedy now returns the NATIVE-typed id (here: long) — join
    // directly, no cast; also pins the advice-fixed output type
    assert(p.schema("id").dataType == real.schema("doc_id").dataType)
    val sums = p.join(real.select(col("doc_id").as("id"), col("toks")), Seq("id"))
      .groupBy(col("bucket"), col("seq_id"))
      .agg(sum(col("toks")).as("t"), max(col("oversize").cast("int")).as("ov"),
        count(lit(1)).as("n")).collect()
    assert(sums.forall(r => r.getAs[Long]("t") <= 64L || r.getAs[Int]("ov") == 1))
    assert(sums.filter(_.getAs[Int]("ov") == 1).forall(_.getAs[Long]("n") == 1L))
  }

  test("mixByTokenBudget: realized token mass tracks the target mixture") {
    import graft.text.Sampling
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
      .withColumn("ntok", size(graft.text.TextHash.tokens(col("text"))).cast("long"))
    val weights = Map("en" -> 0.6, "zh" -> 0.3, "de" -> 0.1)
    val budget = 2000L
    val rates = Sampling.ratesForTokenBudget(docs, "lang", "ntok", weights, budget)
    // rates follow min(1, budget*w/tokens) exactly
    val totals = docs.groupBy(col("lang")).agg(sum(col("ntok")).as("t")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("t")).toMap
    weights.foreach { case (k, w) =>
      assert(rates(k) == math.min(1.0, budget * w / totals(k).toDouble))
    }
    val kept = Sampling.mixByTokenBudget(
      docs, "doc_id", "lang", "ntok", weights, budget)
    // unweighted strata are dropped entirely
    assert(kept.where(!col("lang").isin("en", "zh", "de")).count() == 0L)
    // realized token mass per stratum within 5 sigma of its allocation
    // (token-weighted Bernoulli; deterministic data, never flakes)
    val keptTok = kept.groupBy(col("lang")).agg(sum(col("ntok")).as("t"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("t")).toMap
    weights.foreach { case (k, w) =>
      val target = math.round(rates(k) * 1000.0) / 1000.0 * totals(k)
      val sigma = math.sqrt(rates(k) * (1 - rates(k))) *
        math.sqrt(totals(k).toDouble) * 8 // tokens clump per doc: ~64/doc max
      assert(math.abs(keptTok.getOrElse(k, 0L) - target) <= 5 * sigma + 64,
        s"$k kept=${keptTok.getOrElse(k, 0L)} target=$target sigma=$sigma")
    }
  }

  test("Redact + dupNgramFraction: hand-computed truth table") {
    import spark.implicits._
    import graft.text.{Redact, TextQuality}
    val df = Seq(
      (1L, "mail john.doe+x@sub.example.org or 10.0.0.255 now 123456789"),
      (2L, "no pii here, short digits 12345"),
      (3L, "a b a b a b"),
      (4L, "a b")
    ).toDF("id", "text")
    val r = df.select(col("id"),
      Redact.emailCount(col("text")).as("e"),
      Redact.ipv4Count(col("text")).as("i"),
      Redact.digitRunCount(col("text")).as("n"),
      Redact.redact(col("text")).as("c"),
      TextQuality.dupNgramFraction(col("text"), 2).as("d2"),
      TextQuality.dupNgramFraction(col("text"), 5).as("d5"))
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("e") == 1 && r(1L).getAs[Long]("i") == 1 &&
      r(1L).getAs[Long]("n") == 1)
    assert(r(1L).getAs[String]("c") == "mail <EMAIL> or <IP> now <NUM>")
    assert(r(2L).getAs[Long]("e") == 0 && r(2L).getAs[Long]("i") == 0 &&
      r(2L).getAs[Long]("n") == 0)
    assert(r(2L).getAs[String]("c") == "no pii here, short digits 12345")
    // [a b a b a b]: 5 bigrams {ab,ba} -> 1 - 2/5 = 0.6; 2 distinct 5-grams -> 0
    assert(math.abs(r(3L).getAs[Double]("d2") - 0.6) < 1e-12)
    assert(r(3L).getAs[Double]("d5") == 0.0)
    // genuinely short doc (2 tokens < n=5): the cnt<=0 guard must yield
    // exactly 0, never a negative/NaN fraction
    assert(r(4L).getAs[Double]("d5") == 0.0)
    assert(r(4L).getAs[Double]("d2") == 0.0) // 1 bigram, distinct
    // hasPii mirrors the three counts
    val pii = df.select(col("id"), graft.text.Redact.hasPii(col("text")).as("p"))
      .collect().map(x => x.getLong(0) -> x.getBoolean(1)).toMap
    assert(pii(1L) && !pii(2L) && !pii(3L) && !pii(4L))
  }

  test("bm25: hand-computed scores on a three-doc corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark joins data"), (2L, "spark spark spark"), (3L, "other words here"))
      .toDF("id", "text")
    val got = graft.text.Retrieval.bm25(docs, "id", "text", Seq("spark"))
      .select(col("id"), col("bm25")).as[(Long, Double)].collect().toMap
    // N=3, avgdl=3, df=2 -> idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6)
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def s(tf: Double) = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * 3.0 / 3.0))
    assert(math.abs(got(1L) - BigDecimal(s(1)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(got(2L) - BigDecimal(s(3)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(got(3L) == 0.0)
    assert(got(2L) > got(1L), "higher tf must score higher at equal dl")
  }

  test("unigramLogProb: hand-computed corpus LM scores") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a"), (3L, "")).toDF("id", "text")
    val got = graft.text.Retrieval.unigramLogProb(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    // c(a)=3, c(b)=1, T=4, V=2, denom=6: lp(a)=ln(4/6), lp(b)=ln(2/6)
    val lpa = math.log(4.0 / 6.0); val lpb = math.log(2.0 / 6.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1.contains(3L))
    assert(got(1L)._2.contains(r6((lpa + lpa + lpb) / 3.0)))
    assert(got(2L)._2.contains(r6(lpa)))
    assert(got(3L) == (None, None), "tokenless doc scores null")
  }

  test("assignSplit: exhaustive, exclusive, near-target split masses") {
    import spark.implicits._
    import graft.text.Sampling
    val ids = (1L to 2000L).toDF("id")
    val split = ids.withColumn("s", Sampling.assignSplit(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    val byName = split.groupBy(col("s")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row lands in exactly one split (exhaustive by construction)
    assert(byName.values.sum == 2000L && byName.keySet == Set("train", "val", "test"))
    // realized masses within 4 sigma of the quantized targets
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1).foreach { case (k, f) =>
      val sigma = math.sqrt(f * (1 - f) * 2000)
      assert(math.abs(byName(k) - f * 2000) <= 4 * sigma, s"$k: ${byName(k)}")
    }
    // re-run determinism
    assert(split.collect().toSet == ids.withColumn("s",
      Sampling.assignSplit(col("id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))).collect().toSet)
  }

  test("dedupIncremental: batch admitted iff no corpus/sibling duplicate") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "g", "the quick brown fox jumps over the lazy dog"),
      (2L, "g", "an utterly unrelated corpus document body")).toDF("id", "blk", "text")
    val batch = Seq(
      (10L, "g", "the quick brown fox jumps over the lazy dog"),  // exact corpus dup
      (11L, "g", "the quick brown fox jumps over the lazy cat"),  // near corpus dup
      (12L, "g", "completely novel batch content right here"),
      (13L, "g", "completely novel batch content right here"),    // sibling exact dup
      (14L, "g", "something else that is genuinely new too")).toDF("id", "blk", "text")
    val kept = graft.text.Dedup.dedupIncremental(
      batch, corpus, "id", "text", blockKey = col("blk"), threshold = 0.6)
      .as[Long].collect().sorted
    assert(kept.sameElements(Array(12L, 14L)), s"got ${kept.mkString(",")}")
  }

  test("edge cases: empty pair set, degenerate sampling rates") {
    import spark.implicits._
    // resolveClusters on an empty pair frame: converges immediately to an
    // empty labeling (observe() over zero rows yields a null sum -> 0)
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.text.Dedup.resolveClusters(empty).count() == 0L)
    // rate 0 keeps nothing, rate 1 keeps everything (quantization endpoints)
    val ids = (1L to 500L).toDF("id")
    assert(ids.where(graft.text.Sampling.keepAtRate(col("id"), 0.0, "s")).count() == 0L)
    assert(ids.where(graft.text.Sampling.keepAtRate(col("id"), 1.0, "s")).count() == 500L)
  }

  test("sampling: one quantization path; per-stratum rates within binomial bounds") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    // keepAtRate and a rate-uniform stratified sample MUST select the exact
    // same rows (shared keepCol — the drift the round-2 review flagged)
    val viaKeep = docs.where(graft.text.Sampling.keepAtRate(col("doc_id"), 0.3, "s1"))
      .select(col("doc_id")).as[Long].collect().toSet
    val viaStrat = graft.text.Sampling
      .stratified(docs, "doc_id", "lang", Map.empty, defaultRate = 0.3, salt = "s1")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(viaKeep == viaStrat)
    // realized per-stratum rate lands within 4σ of the 1/1000-quantized
    // target (binomial; deterministic data so this never flakes)
    val rates = Map("en" -> 0.2, "zh" -> 0.1)
    val kept = graft.text.Sampling.stratified(docs, "doc_id", "lang", rates, 0.15)
    val tot = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptN = kept.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tot.foreach { case (lang, n) =>
      val target = math.round(rates.getOrElse(lang, 0.15) * 1000.0) / 1000.0
      val sigma = math.sqrt(target * (1 - target) / n)
      val realized = keptN.getOrElse(lang, 0L).toDouble / n
      assert(math.abs(realized - target) <= 4 * sigma + 1e-9,
        s"$lang: realized $realized vs target $target (n=$n)")
    }
  }

  test("tokenCounts: one-pass sorted-run map matches naive counting") {
    val df = Seq("a b a c b a", "  x  ", "", "z z z").toDF("t")
    val got = df.select(graft.featurize.FormulaParser.tokenCounts(col("t")).as("m"))
      .as[Map[String, Double]].collect()
    assert(got(0) == Map("a" -> 3.0, "b" -> 2.0, "c" -> 1.0))
    assert(got(1) == Map("x" -> 1.0))
    assert(got(2) == Map.empty[String, Double])
    assert(got(3) == Map("z" -> 3.0))
  }
}
