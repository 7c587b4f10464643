package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression IR for derived features — the engine's analog of the
  * reference's `SymbolTree` (featurebox/symbol/base.py:1009-1202), but as a
  * plain Scala ADT compiled directly to Catalyst `Column`s (no string eval,
  * no sympy round-trip; Catalyst codegen replaces lambdify,
  * symbol/calculation/translate.py:220-250 & scores.py:29-57).
  *
  * Group (array-typed) terminals carry k same-dimension features in one
  * ArrayType column; the group ("dispose") ops MAdd/MMul/MSub/MDiv/Conv
  * (symbol/functions/npfunc.py:6-58) lower to higher-order array functions.
  */
sealed trait FeatureExpr {
  def children: Seq[FeatureExpr] = this match {
    case Terminal(_) | ConstE(_) => Nil
    case Unary(_, c)             => Seq(c)
    case Binary(_, l, r)         => Seq(l, r)
    case GroupReduce(_, c)       => Seq(c)
    case GroupMap(_, c)          => Seq(c)
  }
  /** This node with `cs` as its children (same op; a leaf is unchanged). */
  def withChildren(cs: Seq[FeatureExpr]): FeatureExpr = this match {
    case Terminal(_) | ConstE(_) => this
    case Unary(op, _)            => Unary(op, cs(0))
    case Binary(op, _, _)        => Binary(op, cs(0), cs(1))
    case GroupReduce(op, _)      => GroupReduce(op, cs(0))
    case GroupMap(op, _)         => GroupMap(op, cs(0))
  }
  /** The one walk over the tree: `f` folds every node with its depth in
    * preorder (a node, then each child's subtree left to right). Node i of
    * this order is node i of GP tree surgery.
    */
  def foldPreorder[A](z: A)(f: (A, FeatureExpr, Int) => A): A = {
    def go(acc: A, n: FeatureExpr, depth: Int): A =
      n.children.foldLeft(f(acc, n, depth))(go(_, _, depth + 1))
    go(z, this, 0)
  }
  /** Every node in preorder. */
  def nodes: Vector[FeatureExpr] = foldPreorder(Vector.empty[FeatureExpr])((acc, n, _) => acc :+ n)
  def height: Int = foldPreorder(0)((h, _, depth) => math.max(h, depth))
  def size: Int = foldPreorder(0)((n, _, _) => n + 1)
  def terminals: Seq[String] = nodes.collect { case Terminal(n) => n }
  /** Human-readable rendering (the reference's dual str/repr). */
  def render: String = this match {
    case Terminal(n)       => n
    case ConstE(v)         => if (v == v.toLong) v.toLong.toString else v.toString
    case Unary(op, c)      => s"$op(${c.render})"
    case Binary(op, l, r)  => s"(${l.render} $op ${r.render})"
    case GroupReduce(o, c) => s"$o(${c.render})"
    case GroupMap(o, c)    => s"map_$o(${c.render})"
  }
}

final case class Terminal(name: String) extends FeatureExpr
final case class ConstE(value: Double) extends FeatureExpr
/** ops: neg abs rec self rem sqrt sin cos exp ln pow2 pow3 pow0.5 ... */
final case class Unary(op: String, child: FeatureExpr) extends FeatureExpr
/** ops: + - * / */
final case class Binary(op: String, left: FeatureExpr, right: FeatureExpr)
    extends FeatureExpr
/** Group reduce over an array-typed subtree: MAdd MMul MSub MDiv Conv Self. */
final case class GroupReduce(op: String, child: FeatureExpr) extends FeatureExpr
/** Elementwise map over an array-typed subtree (gsymfunc.py:106-194). */
final case class GroupMap(op: String, child: FeatureExpr) extends FeatureExpr

/** Terminal catalog: the engine's `SymbolSet` analog (symbol/base.py:230-
  * 1006). Maps terminal name → (Column, DimT, sampling prob); group
  * terminals are ArrayType columns with a per-member dim.
  */
final case class Registry(
    terminals: Map[String, (Column, DimT)],
    groups: Map[String, (Column, DimT, Int)] = Map.empty, // col, member dim, size
    probs: Map[String, Double] = Map.empty
) {
  def names: Seq[String] = terminals.keys.toSeq.sorted
  def withDerived(name: String, col: Column, dim: DimT): Registry =
    copy(terminals = terminals + (name -> (col, dim)))
}

object Compiler {

  /** User-defined op plugin point — the reference's `newfuncV`/`newfuncD`
    * (featurebox/symbol/functions/newfunc.py:9-168): register a name with a
    * Column builder (+ a Dim propagation rule) and it becomes usable in any
    * FeatureExpr. No codegen work needed: builders compose existing
    * Catalyst expressions.
    */
  final case class CustomOp(
      build: Column => Column,
      dim: DimT => DimT = identity)

  /** Binary plugin (newfuncV arity=2, newfunc.py:9-37): a named (l, r) →
    * Column builder with a paired dim-propagation rule, usable in any
    * Binary node.
    */
  final case class CustomBinaryOp(
      build: (Column, Column) => Column,
      dim: (DimT, DimT) => DimT = (a, _) => a)

  /** Group plugin (newfuncD, newfunc.py:39-168). `keep` mirrors the
    * reference flag: true → the op maps the group to a group of the SAME
    * size (builder returns an array column); false → it reduces the group
    * to one value (builder returns a scalar column) — the arity fact the
    * reference's `simple()` folding relies on. `dim` receives the member
    * dim and the group size; `isJump` marks ops whose rem/dim containment
    * may jump across 2+-member groups (metadata for dim-force selection).
    */
  final case class CustomGroupOp(
      build: Column => Column,
      keep: Boolean,
      dim: (DimT, Int) => DimT = (d, _) => d,
      isJump: Boolean = false)

  private val customOps = scala.collection.concurrent.TrieMap.empty[String, CustomOp]
  private val customBinaryOps = scala.collection.concurrent.TrieMap.empty[String, CustomBinaryOp]
  private val customGroupOps = scala.collection.concurrent.TrieMap.empty[String, CustomGroupOp]
  def registerOp(name: String, op: CustomOp): Unit = customOps.update(name, op)
  def registerBinaryOp(name: String, op: CustomBinaryOp): Unit =
    customBinaryOps.update(name, op)
  def registerGroupOp(name: String, op: CustomGroupOp): Unit =
    customGroupOps.update(name, op)
  private[graft] def groupOpKeeps(name: String): Boolean =
    customGroupOps.get(name).map(_.keep).getOrElse(name == "Conv")

  private def unary(op: String, c: Column): Column =
    customOps.get(op).map(_.build(c)).getOrElse(unaryBuiltin(op, c))

  private def unaryBuiltin(op: String, c: Column): Column = op match {
    case "neg"    => negate(c)
    case "abs"    => abs(c)
    case "rec"    => try_divide(lit(1.0), c) // numpy 1/0 -> contained, not ANSI error
    case "self"   => c
    case "rem"    => lit(1.0) - c
    case "sqrt"   => sqrt(c)
    case "sin"    => sin(c)
    case "cos"    => cos(c)
    case "exp"    => exp(c)
    case "ln"     => log(c)
    case "pow2"   => c * c
    case "pow3"   => c * c * c
    case "pow0.5" => sqrt(c)
    case p if p.startsWith("pow") => pow(c, lit(p.drop(3).toDouble))
    case other => throw new IllegalArgumentException(s"unary op $other")
  }

  private def binary(op: String, l: Column, r: Column): Column = op match {
    case "+" => l + r
    case "-" => l - r
    case "*" => l * r
    // ANSI mode throws on /0; the reference's numpy semantics contain the
    // error per-row and let the score guard degrade the candidate instead
    // (scores.py:54-56) — try_divide nulls the row, Scoring.safe absorbs it.
    case "/" => try_divide(l, r)
    case other => customBinaryOps.get(other).map(_.build(l, r))
      .getOrElse(throw new IllegalArgumentException(s"binary op $other"))
  }

  /** Group reduce (npfunc.py semantics): MSub/MDiv/Conv act only on k=2
    * groups and are identity otherwise (npfunc.py:24-49). Implemented with
    * codegen'd higher-order functions — no UDFs in the scoring hot path.
    */
  private def groupReduce(op: String, arr: Column): Column = op match {
    case "MAdd" => aggregate(arr, lit(0.0), _ + _)
    case "MMul" => aggregate(arr, lit(1.0), _ * _)
    case "MSub" => when(size(arr) === 2, element_at(arr, 1) - element_at(arr, 2))
      .otherwise(element_at(arr, 1))
    case "MDiv" => when(size(arr) === 2, element_at(arr, 1) / element_at(arr, 2))
      .otherwise(element_at(arr, 1))
    // Conv swaps the two members of a k=2 group (identity otherwise) and
    // stays ARRAY-typed — it reorders the group for a later reduce, e.g.
    // MSub(Conv(g)) = g[2] − g[1] (npfunc.py:44-49, test_function.py:135-138)
    case "Conv" => when(size(arr) === 2, reverse(arr)).otherwise(arr)
    case "Self" => element_at(arr, 1)
    case other => customGroupOps.get(other).map(_.build(arr))
      .getOrElse(throw new IllegalArgumentException(s"group op $other"))
  }

  /** Depth guard mirroring the reference's height-90 MemoryError guard
    * (translate.py:241-247) — protects Catalyst codegen from blowups.
    */
  val maxHeight = 90

  def compile(e: FeatureExpr, reg: Registry): Column = {
    require(e.height <= maxHeight, s"expression too deep: ${e.height}")
    def go(e: FeatureExpr): Column = e match {
      case Terminal(n) =>
        reg.terminals.get(n).map(_._1)
          .orElse(reg.groups.get(n).map(_._1))
          .getOrElse(throw new IllegalArgumentException(s"unknown terminal $n"))
      case ConstE(v)        => lit(v)
      case Unary(op, c)     => unary(op, go(c))
      case Binary(op, l, r) => binary(op, go(l), go(r))
      case GroupReduce(op, c) => groupReduce(op, go(c))
      case GroupMap(op, c)  => transform(go(c), x => unary(op, x))
    }
    go(e)
  }

  /** Static dimension typecheck — the reference's `calcualte_dim`
    * (scores.py:280-368) over our ADT; runs before any Spark job.
    */
  def dimOf(e: FeatureExpr, reg: Registry): DimT = e match {
    case Terminal(n) =>
      reg.terminals.get(n).map(_._2)
        .orElse(reg.groups.get(n).map(_._2))
        .getOrElse(DNan)
    case ConstE(_) => Dim.dless
    case Unary(op, c) if customOps.contains(op) =>
      customOps(op).dim(dimOf(c, reg))
    case Unary(op, c) =>
      val d = dimOf(c, reg)
      op match {
        case "neg" | "abs" | "self"         => d
        case "rec"                          => Dim.dless / d
        case "rem"                          => if (d.isDless) d else DNan
        case "sqrt" | "pow0.5"              => d.pow(0.5)
        case "pow2"                         => d.pow(2.0)
        case "pow3"                         => d.pow(3.0)
        case "sin" | "cos" | "exp" | "ln"   => d.transcendental
        case p if p.startsWith("pow")       => d.pow(p.drop(3).toDouble)
        case _                              => DNan
      }
    case Binary(op, l, r) =>
      val (a, b) = (dimOf(l, reg), dimOf(r, reg))
      op match {
        case "+" | "-" => a + b
        case "*"       => a * b
        case "/"       => a / b
        case _ => customBinaryOps.get(op).map(_.dim(a, b)).getOrElse(DNan)
      }
    case GroupReduce(op, c) =>
      val d = dimOf(c, reg)
      val k = groupSizeOf(c, reg)
      op match {
        case "MMul" => d.pow(k.toDouble) // exponents scale by group size
        case "MDiv" => if (k == 2) Dim.dless else d
        case "MAdd" | "MSub" | "Conv" | "Self" => d
        case _ => customGroupOps.get(op).map(_.dim(d, k)).getOrElse(d)
      }
    case GroupMap(op, c) => dimOf(Unary(op, c), reg)
  }

  /** Static group arity of a subtree: group terminals carry their size;
    * keep=false group reduces collapse to 1; keep=true ops (Conv, custom
    * keep ops) preserve it — the arity bookkeeping behind `simple()`
    * (symbol/base.py group folding).
    */
  def groupSizeOf(e: FeatureExpr, reg: Registry): Int = e match {
    case Terminal(n)       => reg.groups.get(n).map(_._3).getOrElse(1)
    case GroupReduce(op, c) => if (groupOpKeeps(op)) groupSizeOf(c, reg) else 1
    case GroupMap(_, c)    => groupSizeOf(c, reg)
    case Unary(_, c)       => groupSizeOf(c, reg)
    case _                 => 1
  }

  /** Algebraic folding pass — the reference's `simple()` (symbol/base.py):
    * group ops on arity-1 subtrees fold to Self, double Conv cancels,
    * self/neg∘neg/rec∘rec collapse, and ±0 / ·1 / ÷1 constants fold.
    * Semantics-preserving: compile(simplify(e)) ≡ compile(e).
    */
  def simplify(e: FeatureExpr, reg: Registry): FeatureExpr = {
    def go(e: FeatureExpr): FeatureExpr = e match {
      case Unary("self", c) => go(c)
      case Unary("neg", Unary("neg", c)) => go(c)
      case Unary("rec", Unary("rec", c)) => go(c)
      case Unary("abs", Unary("abs", c)) => go(Unary("abs", c))
      case Unary(op, c) => Unary(op, go(c))
      case Binary("+", c, ConstE(0)) => go(c)
      case Binary("+", ConstE(0), c) => go(c)
      case Binary("-", c, ConstE(0)) => go(c)
      case Binary("*", c, ConstE(1)) => go(c)
      case Binary("*", ConstE(1), c) => go(c)
      case Binary("/", c, ConstE(1)) => go(c)
      case Binary(op, l, r) => Binary(op, go(l), go(r))
      case GroupReduce("Conv", GroupReduce("Conv", c)) => go(c)
      // arity-1 group: array-preserving (keep) ops are the identity; true
      // reduces degenerate to the single member
      case GroupReduce(op, c) if groupSizeOf(c, reg) == 1 && groupOpKeeps(op) =>
        go(c)
      case GroupReduce(op, c) if groupSizeOf(c, reg) == 1 && op != "Self" =>
        GroupReduce("Self", go(c))
      case GroupReduce(op, c) => GroupReduce(op, go(c))
      case GroupMap(op, c) => GroupMap(op, go(c))
      case leaf => leaf
    }
    // iterate to fixpoint (folds can expose further folds)
    var cur = e
    var next = go(cur)
    while (next != cur) { cur = next; next = go(cur) }
    cur
  }

  /** general_expr pretty-print (symbol/base.py general_expr): render with
    * group terminals EXPANDED into their members, so `MAdd(g)` over a k=3
    * group prints `(g_1 + g_2 + g_3)` instead of the opaque fold.
    */
  def generalExpr(e: FeatureExpr, reg: Registry): String = {
    def members(n: String): Option[Seq[String]] =
      reg.groups.get(n).map { case (_, _, k) => (1 to k).map(i => s"${n}_$i") }
    e match {
      case GroupReduce(op, Terminal(n)) if members(n).isDefined =>
        val ms = members(n).get
        op match {
          case "MAdd" => ms.mkString("(", " + ", ")")
          case "MMul" => ms.mkString("(", " * ", ")")
          case "MSub" => if (ms.size == 2) s"(${ms(0)} - ${ms(1)})" else ms.head
          case "MDiv" => if (ms.size == 2) s"(${ms(0)} / ${ms(1)})" else ms.head
          case "Conv" => ms.reverse.mkString("[", ", ", "]")
          case "Self" => ms.head
          case other  => s"$other(${ms.mkString(", ")})"
        }
      case Terminal(n) if members(n).isDefined =>
        members(n).get.mkString("[", ", ", "]")
      case Unary(op, c)      => s"$op(${generalExpr(c, reg)})"
      case Binary(op, l, r)  => s"(${generalExpr(l, reg)} $op ${generalExpr(r, reg)})"
      case GroupReduce(o, c) => s"$o(${generalExpr(c, reg)})"
      case GroupMap(o, c)    => s"map_$o(${generalExpr(c, reg)})"
      case other             => other.render
    }
  }
}
