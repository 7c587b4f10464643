package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern automaton (Aho & Corasick 1975): matches ALL
  * patterns against a text in ONE left-to-right pass — O(len + matches),
  * independent of pattern count. Built once on the driver, shipped to
  * executors as one codegen reference object (the `NearestCentroids`
  * pattern: constant plan size at any list size).
  *
  * Matching is over Java chars (UTF-16 units) — exact for any literal
  * pattern set since a pattern's char sequence matches iff its substring
  * occurs (surrogate pairs are matched pairwise like any other chars).
  */
final class AcAutomaton(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty strings")

  // goto as per-state char→state maps (LongMap: no boxing, serializable);
  // `ends` = ids of patterns ending EXACTLY at the state; after the BFS,
  // `outs` folds in the fail chain so one lookup yields every pattern
  // ending at (any suffix of) the state.
  private val gotoMaps =
    scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.LongMap.empty[Int])
  private val endLists =
    scala.collection.mutable.ArrayBuffer[List[Int]](Nil)

  for ((p, id) <- patterns.zipWithIndex) {
    var s = 0
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i).toLong
      s = gotoMaps(s).getOrElse(c, {
        gotoMaps += scala.collection.mutable.LongMap.empty[Int]
        endLists += Nil
        val ns = gotoMaps.length - 1
        gotoMaps(s)(c) = ns
        ns
      })
      i += 1
    }
    endLists(s) ::= id
  }

  private val fail = new Array[Int](gotoMaps.length)
  private val outs = new Array[Array[Int]](gotoMaps.length)
  locally {
    val queue = scala.collection.mutable.Queue.empty[Int]
    outs(0) = endLists(0).toArray
    gotoMaps(0).foreach { case (_, s) =>
      fail(s) = 0; queue += s
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      outs(s) = (endLists(s) ++ outs(fail(s))).toArray
      gotoMaps(s).foreach { case (c, t) =>
        var f = fail(s)
        while (f != 0 && !gotoMaps(f).contains(c)) f = fail(f)
        fail(t) = if (gotoMaps(f).contains(c) && gotoMaps(f)(c) != t)
          gotoMaps(f)(c) else 0
        queue += t
      }
    }
  }

  /** Number of DISTINCT patterns occurring in `text` as substrings. */
  def countDistinct(text: String): Int = {
    val seen = new Array[Boolean](patterns.length)
    var found = 0
    var s = 0
    var i = 0
    val n = text.length
    while (i < n && found < patterns.length) {
      val c = text.charAt(i).toLong
      while (s != 0 && !gotoMaps(s).contains(c)) s = fail(s)
      s = gotoMaps(s).getOrElse(c, 0)
      val o = outs(s)
      var j = 0
      while (j < o.length) {
        if (!seen(o(j))) { seen(o(j)) = true; found += 1 }
        j += 1
      }
      i += 1
    }
    found
  }
}

/** `countDistinct(patterns present in text)` as a native kernel — the
  * blocklist's phrase gate at ANY list size: one automaton pass per row vs
  * one `contains` scan per pattern per row (the pre-round-5 shape,
  * O(len·patterns) per row — fine at 10² phrases, not at 10⁴+). The
  * automaton rides as one reference object. Round5Spec's phrase-gate test
  * pins it against the declarative contains-per-phrase count.
  */
object MultiContainsCount {
  def count(text: UTF8String, ac: AcAutomaton): Int = ac.countDistinct(text.toString)

  def apply(c: Column, patterns: Seq[String]): Column =
    GraftBridge.staticCall(this, "count", IntegerType, Seq(c), Seq(StringType),
      refs = Seq(new AcAutomaton(patterns.toArray)))
}
