package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (suites run in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.ensureCheckpointDir(s)
    s
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfSmall = "/root/testdata/sf0.001"

  /** `n` draws of `g` from a fixed seed, so a failing draw reproduces. */
  def draws[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.iterate(Seed(20261017L))(_.next).take(n)
      .map(s => g.pureApply(Gen.Parameters.default, s)).toSeq

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * (1.0 + math.abs(b))

  /** Runs `body` with each session conf set, then puts every one back: its
    * earlier value, or unset if it was not set before.
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val before = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` twice: with generated code only (a compile failure
    * throws instead of falling back), then fully interpreted (no
    * whole-stage codegen, interpreted projections and predicates). A
    * native kernel's codegen call and its reflective interpreted call
    * are separate paths, so its parity pin runs in both. The first run
    * also stops the optimizer from evaluating projections over local
    * (`toDF`) data on the driver, which would interpret them.
    */
  def inBothModes(body: => Unit): Unit = {
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")(body)
    withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(body)
  }
}
