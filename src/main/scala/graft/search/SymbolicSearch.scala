package graft.search

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

import graft.expr._

/** GP-evolved symbolic feature search: the reference's `BaseLoop` /
  * `SymbolLearning` driver (featurebox/symbol/flow.py:294-360,
  * skflow.py:12-240) rebuilt Spark-first.
  *
  * Division of labor (SURVEY §3 EP2): generation, crossover, mutation,
  * selection and the hall of fame are tiny driver-side object surgery on the
  * [[FeatureExpr]] ADT; ALL data work for a generation happens in one Spark
  * pass — the whole population is compiled into N Catalyst columns and
  * scored by one aggregation (Scoring.scoreBatch), replacing the reference's
  * joblib batch dispatch (base.py:1390-1420).
  *
  * Dimension typechecking (scores.py:280-368) prunes ill-typed candidates
  * BEFORE the Spark pass — they never cost cluster time.
  */
object SymbolicSearch {

  /** Loop-strategy presets mirroring the reference's BaseLoop subclasses
    * (flow.py:363-440).
    */
  sealed trait Strategy
  /** Full mutation suite {node-replace, uniform, shrink, diff-replace}. */
  case object MultiMutate extends Strategy
  /** Structure-preserving only: {node-replace, diff-replace} — the
    * reference's "limitation height" loop (crossover still applies).
    */
  case object OnePointMutate extends Strategy
  /** MultiMutate + selection restricted to dim-valid individuals (the
    * reference registers selKbestDim with force_number=True; requires
    * cal_dim, flow.py:430-440).
    */
  case object DimForce extends Strategy

  final case class Config(
      popSize: Int = 60,
      nGen: Int = 8,
      maxHeight: Int = 4, // staticLimit (gp.py:243-261)
      tournament: Int = 3,
      cxPb: Double = 0.6,
      mutPb: Double = 0.3,
      seed: Long = 42L,
      stopAt: Double = Double.PositiveInfinity, // flow.py stop_condition
      requireDimless: Boolean = false,
      plateau: Int = 15,
      usePreMap: Boolean = false, // probability-guided terminal co-selection
      preMapRate: Double = 0.1,
      initFull: Boolean = true, // ramped half-and-half (grow/full mix, gp.py:159-206)
      reTree: Int = 0, // elite-subtree re-add width (flow.py:274-286); 0 = off
      strategy: Strategy = MultiMutate,
      // dim_type acceptance (scores.py:280-301): default 'coef' = reject
      // only the NaN sentinel, exactly the previous hard-coded behavior;
      // pass DimPolicy.exact/sameBase/integer/oneOf for the other modes
      dimPolicy: graft.expr.DimT => Boolean = graft.expr.DimPolicy.coef
  )

  final case class Individual(expr: FeatureExpr, score: Double, fit: Scoring.Fit)

  /** Per-generation statistics — the reference's `Statis_func` logbook
    * (gp.py:548-594) plus engine instrumentation: wall millis, how many
    * eligible candidates the generation scored, and how many of those were
    * NOVEL renders that had to be compiled (the rest were render-memo
    * hits — the plan-cache economics of a production-size run).
    */
  final case class GenStats(gen: Int, best: Double, mean: Double, nValid: Int,
      millis: Long = 0L, candidates: Int = 0, compiledNovel: Int = 0)

  final case class Result(hall: Seq[Individual], generations: Int,
      logbook: Seq[GenStats] = Nil,
      registry: Registry = Registry(Map.empty)) {
    def best: Individual = hall.head
  }

  private val unaryOps = Vector("neg", "abs", "sqrt", "ln", "pow2")
  private val binaryOps = Vector("+", "-", "*", "/")

  /** genGrow (gp.py:162-177): probability-weighted random tree; leaves may
    * sit at different depths. When a [[PreMap]] is supplied, terminal choice
    * after the first is biased by the preference matrix (the reference's
    * premap-guided generation, preference.py:244-264). `namesOverride` lets
    * the GP loop generate over a terminal list that has grown via elite
    * re-add without re-sorting (index-stable for the premap).
    */
  def grow(rnd: Random, reg: Registry, maxH: Int,
      premap: Option[PreMap] = None,
      namesOverride: Option[Seq[String]] = None): FeatureExpr = {
    val names = namesOverride.getOrElse(reg.names)
    var lastTerminal = -1
    def leaf(): FeatureExpr = {
      val idx = premap match {
        case Some(pm) if lastTerminal >= 0 && pm.n == names.size =>
          pm.samplePartner(lastTerminal, rnd)
        case _ => rnd.nextInt(names.size)
      }
      lastTerminal = idx
      Terminal(names(idx))
    }
    def go(h: Int): FeatureExpr =
      if (h <= 0 || rnd.nextDouble() < 0.3) leaf()
      else rnd.nextInt(3) match {
        case 0 => Unary(unaryOps(rnd.nextInt(unaryOps.size)), go(h - 1))
        case _ => Binary(binaryOps(rnd.nextInt(binaryOps.size)), go(h - 1), go(h - 1))
      }
    go(maxH)
  }

  /** genFull (gp.py:189-206): every leaf at exactly depth `h`. The grow/full
    * mix ("ramped half-and-half") is what keeps early GP populations
    * structurally diverse.
    */
  def full(rnd: Random, names: Seq[String], h: Int): FeatureExpr =
    if (h <= 0) Terminal(names(rnd.nextInt(names.size)))
    else rnd.nextInt(3) match {
      case 0 => Unary(unaryOps(rnd.nextInt(unaryOps.size)), full(rnd, names, h - 1))
      case _ => Binary(binaryOps(rnd.nextInt(binaryOps.size)),
        full(rnd, names, h - 1), full(rnd, names, h - 1))
    }

  /** depart (gp.py:180-187, adapted to this ADT's smaller trees): the proper
    * subtrees of an elite that are worth re-adding as derived terminals —
    * at least one operator (size ≥ 3) and ≥ 2 terminal slots; deduped by
    * rendering.
    */
  def depart(e: FeatureExpr): Seq[FeatureExpr] = {
    val subs = e.nodes.tail.filter(s => s.size >= 3 && s.terminals.size >= 2)
    subs.foldLeft(Vector.empty[FeatureExpr])((acc, s) =>
      if (acc.exists(_.render == s.render)) acc else acc :+ s)
  }

  /** selKbestDim (gp.py:497-545): top-k individuals whose expression
    * dimension satisfies the predicate, padded by replicating the best when
    * fewer than k qualify.
    */
  def selKbestDim(
      scored: Seq[Individual], k: Int, reg: Registry,
      dimOk: graft.expr.DimT => Boolean): Seq[Individual] = {
    val ok = scored.filter(i => dimOk(Compiler.dimOf(i.expr, reg)))
      .sortBy(-_.score).take(k)
    if (ok.isEmpty) Seq.empty
    else ok ++ Seq.fill(k - ok.size)(ok.head)
  }

  // --- subtree surgery (cxOnePoint gp.py:212-235, mutUniform :269-443) ----

  /** `e` with its preorder node `idx` (the indexing of [[FeatureExpr.nodes]])
    * replaced by `rep`.
    */
  private def replaceAt(e: FeatureExpr, idx: Int, rep: FeatureExpr): FeatureExpr =
    if (idx == 0) rep
    else {
      val starts = e.children.scanLeft(1)(_ + _.size) // each child's first index
      e.withChildren(e.children.zip(starts).map { case (c, at) =>
        if (idx >= at && idx < at + c.size) replaceAt(c, idx - at, rep) else c
      })
    }

  def crossover(rnd: Random, a: FeatureExpr, b: FeatureExpr): (FeatureExpr, FeatureExpr) = {
    val ia = rnd.nextInt(a.size); val ib = rnd.nextInt(b.size)
    val sa = a.nodes(ia); val sb = b.nodes(ib)
    (replaceAt(a, ia, sb), replaceAt(b, ib, sa))
  }

  /** mutUniform: replace a random subtree with a freshly grown one. */
  def mutate(rnd: Random, reg: Registry, e: FeatureExpr, maxH: Int,
      premap: Option[PreMap] = None,
      namesOverride: Option[Seq[String]] = None): FeatureExpr = {
    val i = rnd.nextInt(e.size)
    replaceAt(e, i, grow(rnd, reg, math.max(1, maxH - 2), premap, namesOverride))
  }

  /** mutShrink (gp.py:269-): collapse a random internal node to one of its
    * own terminals — shortens expressions without losing their inputs.
    */
  def mutShrink(rnd: Random, e: FeatureExpr): FeatureExpr = {
    val i = rnd.nextInt(e.size)
    val leaves = e.nodes(i).terminals
    if (leaves.isEmpty) e
    else replaceAt(e, i, Terminal(leaves(rnd.nextInt(leaves.size))))
  }

  /** mutNodeReplacement: swap one node's op for another of the same arity
    * (children preserved) — the reference's same-arity node swap.
    */
  def mutNode(rnd: Random, e: FeatureExpr): FeatureExpr = {
    val i = rnd.nextInt(e.size)
    e.nodes(i) match {
      case Unary(_, c)      => replaceAt(e, i, Unary(unaryOps(rnd.nextInt(unaryOps.size)), c))
      case Binary(_, l, r)  => replaceAt(e, i, Binary(binaryOps(rnd.nextInt(binaryOps.size)), l, r))
      case _                => e
    }
  }

  /** mutDifferentReplacementVerbose (gp.py:368-443): diversify duplicated
    * terminals — for every terminal appearing ≥ 2 times, one random
    * occurrence is replaced by a terminal drawn from the NOT-duplicated set
    * (sorted for seeded determinism; without replacement when enough fresh
    * names exist). Trees with < 4 nodes are returned unchanged.
    */
  def mutDifferentReplacement(rnd: Random, names: Seq[String], e: FeatureExpr): FeatureExpr = {
    if (e.size < 4) return e
    val dup = e.terminals.groupBy(identity).collect {
      case (n, occ) if occ.size >= 2 => n
    }.toSeq.sorted
    val fresh = names.filterNot(dup.contains).sorted
    if (dup.isEmpty || fresh.isEmpty) return e
    val replacements =
      if (dup.size <= fresh.size) rnd.shuffle(fresh.toList).take(dup.size)
      else List.fill(dup.size)(fresh(rnd.nextInt(fresh.size)))
    dup.zip(replacements).foldLeft(e) { case (cur, (name, repl)) =>
      val sites = cur.nodes.zipWithIndex.collect { case (Terminal(`name`), i) => i }
      if (sites.isEmpty) cur
      else replaceAt(cur, sites(rnd.nextInt(sites.size)), Terminal(repl))
    }
  }

  /** staticLimit: reject offspring exceeding the height bound — revert to
    * parent (gp.py:243-261).
    */
  private def limited(child: FeatureExpr, parent: FeatureExpr, maxH: Int): FeatureExpr =
    if (child.height > maxH) parent else child

  def fit(df: DataFrame, reg: Registry, y: Column, cfg: Config = Config()): Result = {
    val rnd = new Random(cfg.seed)
    // a frame the caller cached stays cached: only our own cache is dropped
    val owned = df.storageLevel == StorageLevel.NONE
    val cached = if (owned) df.persist() else df
    // the registry and terminal list GROW when elite re-add is on: derived
    // terminals append at the end so premap/terminal indices stay stable
    var curReg = reg
    var curNames: Vector[String] = reg.names.toVector
    var premap = if (cfg.usePreMap) Some(PreMap.uniform(curNames.size)) else None
    try {
      // ramped half-and-half init (gp.py:159-206 grow/full mix): heights
      // cycle 1..maxHeight, odd slots full, even slots grow
      var pop = Vector.tabulate(cfg.popSize) { i =>
        val h = 1 + i % cfg.maxHeight
        if (cfg.initFull && i % 2 == 1) full(rnd, curNames, h)
        else grow(rnd, curReg, if (cfg.initFull) h else cfg.maxHeight,
          premap, Some(curNames))
      }
      var hall = Vector.empty[Individual]
      var gen = 0
      var stop = false
      val recent = scala.collection.mutable.Queue.empty[Double]
      val logbook = Vector.newBuilder[GenStats]
      // Memoized scoring: GP populations repeat expressions heavily (the
      // elite is re-inserted every generation, unmutated clones survive
      // selection, subtrees recur), and scoring is a pure function of the
      // expression over the cached frame — so each DISTINCT rendering is
      // compiled/planned/scanned ONCE per run. Deterministic: the hall is
      // bit-identical to unmemoized scoring, but generations 2+ pay Catalyst
      // planning only for novel columns (the round-2 bench's per-generation
      // planning cost). Keyed by render; safe because derived terminals are
      // append-only (a render always compiles to the same column).
      val memo = scala.collection.mutable.HashMap.empty[String, Scoring.Fit]
      while (gen < cfg.nGen && !stop) {
        gen += 1
        val genT0 = System.nanoTime()
        // dim typecheck prunes before any Spark work
        val typed = pop.map { e =>
          val d = Compiler.dimOf(e, curReg)
          val ok = cfg.dimPolicy(d) && (!cfg.requireDimless || d.isDless)
          (e, ok, e.render)
        }
        // slot names c_0..c_k are reused every generation (name-stable
        // select list), numbering only the distinct unseen renders
        val novel = scala.collection.mutable.LinkedHashMap.empty[String, FeatureExpr]
        typed.foreach { case (e, ok, r) =>
          if (ok && !memo.contains(r) && !novel.contains(r)) novel(r) = e
        }
        val compiled = novel.toVector.zipWithIndex.map { case ((r, e), i) =>
          (s"c_$i", r, Compiler.compile(e, curReg))
        }
        if (compiled.nonEmpty) {
          val scores = Scoring.scoreBatch(cached, y,
            compiled.map { case (slot, _, c) => slot -> c })
          compiled.foreach { case (slot, r, _) => memo(r) = scores(slot) }
        }
        val scored = typed.map { case (e, ok, r) =>
          if (!ok) Individual(e, Scoring.worst, Scoring.Fit(0, 0, Scoring.worst, Scoring.worst, 0))
          else {
            val f = memo(r)
            Individual(e, f.r2, f)
          }
        }
        hall = (hall ++ scored).sortBy(-_.score).take(10)
          .foldLeft(Vector.empty[Individual])((acc, ind) =>
            if (acc.exists(_.expr == ind.expr)) acc else acc :+ ind)
        val valid = scored.filter(_.score > Scoring.worst)
        logbook += GenStats(gen, scored.map(_.score).max,
          if (valid.nonEmpty) valid.map(_.score).sum / valid.size else Scoring.worst,
          valid.size,
          millis = (System.nanoTime() - genT0) / 1000000L,
          candidates = typed.count(_._2),
          compiledNovel = compiled.size)
        if (hall.head.score >= cfg.stopAt) stop = true
        // premap online update from elites (flow.py:331-333)
        premap.foreach { pm =>
          val nameIdx = curNames.zipWithIndex.toMap
          hall.take(3).foreach { elite =>
            pm.update(elite.expr.terminals.distinct.flatMap(nameIdx.get),
              cfg.preMapRate, rnd)
          }
        }
        // elite-subtree re-add (re_add, flow.py:274-286 + base.py:695-751):
        // a random hall elite is departed into subtrees; one of the first
        // reTree candidates becomes a NEW TERMINAL (named by its rendering,
        // registered with its compiled column + propagated dim) — how the
        // reference builds deep features from shallow searches
        if (cfg.reTree > 0 && hall.nonEmpty && !stop && gen < cfg.nGen) {
          val elite = hall(rnd.nextInt(hall.size)).expr
          val cands = depart(elite).filter { s =>
            !curNames.contains(s.render) && !Compiler.dimOf(s, curReg).isNan
          }
          if (cands.nonEmpty) {
            val pick = cands(rnd.nextInt(math.min(cfg.reTree, cands.size)))
            val nm = pick.render
            curReg = curReg.withDerived(nm,
              Compiler.compile(pick, curReg), Compiler.dimOf(pick, curReg))
            curNames :+= nm
            premap = premap.map(_.addNew())
          }
        }
        recent.enqueue(hall.head.score)
        if (recent.size > cfg.plateau) {
          recent.dequeue()
          if (recent.head == recent.last) stop = true
        }
        if (!stop && gen < cfg.nGen) {
          // tournament selection; DimForce restricts the breeding pool to
          // dim-valid individuals (flow.py:430-440 force_number semantics)
          val pool: Vector[Int] = cfg.strategy match {
            case DimForce =>
              val ok = typed.zipWithIndex.collect { case ((_, true, _), i) => i }
              if (ok.isEmpty) throw new IllegalStateException(
                "DimForce: no individual satisfies the dim constraint in this " +
                  "population — change dim_type or use another loop strategy")
              ok.toVector
            case _ => (0 until cfg.popSize).toVector
          }
          val selected = Vector.fill(cfg.popSize) {
            val contenders = Vector.fill(cfg.tournament)(
              pool(rnd.nextInt(pool.size)))
            contenders.maxBy(scored(_).score)
          }.map(pop)
          // varAnd (gp.py:674-689): crossover then mutation, height-limited
          val crossed = selected.grouped(2).flatMap {
            case Vector(a, b) if rnd.nextDouble() < cfg.cxPb =>
              val (c1, c2) = crossover(rnd, a, b)
              Vector(limited(c1, a, cfg.maxHeight), limited(c2, b, cfg.maxHeight))
            case v => v
          }.toVector
          pop = crossed.map { ind =>
            if (rnd.nextDouble() < cfg.mutPb) {
              // mutation suite per strategy: MultiMutate/DimForce use the
              // full 4-op suite (MutilMutateLoop); OnePointMutate only the
              // structure-preserving pair (OnePointMutateLoop)
              val mutated = cfg.strategy match {
                case OnePointMutate => rnd.nextInt(2) match {
                  case 0 => mutNode(rnd, ind)
                  case _ => mutDifferentReplacement(rnd, curNames, ind)
                }
                case _ => rnd.nextInt(4) match {
                  case 0 => mutate(rnd, curReg, ind, cfg.maxHeight, premap, Some(curNames))
                  case 1 => mutShrink(rnd, ind)
                  case 2 => mutNode(rnd, ind)
                  case _ => mutDifferentReplacement(rnd, curNames, ind)
                }
              }
              limited(mutated, ind, cfg.maxHeight)
            } else ind
          }
          // elitism: keep the best seen
          pop = pop.updated(0, hall.head.expr)
        }
      }
      // the (possibly grown) registry rides along so predictCol can compile
      // hall expressions that reference derived terminals
      Result(hall, gen, logbook.result(), curReg)
    } finally { if (owned) cached.unpersist() }
  }

  /** Predict with a fitted individual: A·f + B as a Column. */
  def predictCol(ind: Individual, reg: Registry): Column = {
    import org.apache.spark.sql.functions.lit
    Compiler.compile(ind.expr, reg) * lit(ind.fit.a) + lit(ind.fit.b)
  }
}
