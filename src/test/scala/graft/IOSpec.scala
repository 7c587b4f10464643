package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.expr.{Compiler, Dim, Registry, Terminal, Unary}
import graft.sources.{Call, Store}

class IOSpec extends GraftSuite {
  import spark.implicits._

  test("Call binds a directory of datasets; Store auto-dedups names") {
    val dir = Files.createTempDirectory("io").toString
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    df.write.parquet(s"$dir/t1")
    df.write.option("header", "true").csv(s"$dir/t2.csv")
    val call = new Call(spark, dir)
    assert(call.bindings.keySet == Set("t1", "t2"))
    assert(call("t1").count() == 2)
    assert(call("t2").count() == 2)
    intercept[IllegalArgumentException](call("nope"))

    val store = new Store(s"$dir/out")
    val p1 = store.toParquet(df, "result")
    val p2 = store.toParquet(df, "result") // must not clobber
    assert(p1.endsWith("result") && p2.endsWith("result(1)"))
    assert(spark.read.parquet(p2).count() == 2)
  }

  test("featurizer harness: on_errors=nan contains bad rows, raise propagates") {
    // the guard: NaN input -> null out
    val guarded = Seq(Double.NaN, 1.5).toDF("x")
    val g = PoolSpecHelper.guardNan(guarded)
    val got = g.select("x_out").as[java.lang.Double].collect().toSet
    assert(got.contains(null.asInstanceOf[java.lang.Double]) && got.contains(1.5))
  }

  test("custom op plugin: registered op compiles and propagates dims") {
    Compiler.registerOp("cube",
      Compiler.CustomOp(c => c * c * c, d => d.pow(3.0)))
    val reg = Registry(terminals = Map("x" -> (col("x"), Dim.of(0 -> 1.0))))
    val e = Unary("cube", Terminal("x"))
    val out = Seq(2.0).toDF("x").select(Compiler.compile(e, reg).as("v"))
      .head().getDouble(0)
    assert(out == 8.0)
    assert(Compiler.dimOf(e, reg) == Dim(Vector(3, 0, 0, 0, 0, 0, 0)))
  }

  test("symbolic search logbook records per-generation stats") {
    val df = (1 to 60).map(i => (i.toDouble, 3.0 * i)).toDF("x0", "y")
    val reg = Registry(terminals = Map("x0" -> (col("x0"), Dim.dless)))
    val res = graft.search.SymbolicSearch.fit(df, reg, col("y"),
      graft.search.SymbolicSearch.Config(popSize = 10, nGen = 3, maxHeight = 2))
    assert(res.logbook.nonEmpty)
    assert(res.logbook.map(_.gen) == (1 to res.logbook.size))
    assert(res.logbook.last.best >= res.logbook.head.best - 1e-12)
  }
}

object PoolSpecHelper {
  import org.apache.spark.sql.DataFrame
  /** exercise the Featurizer nan-guard on a raw column */
  def guardNan(df: DataFrame): DataFrame = {
    val f = new graft.featurize.Featurizer {
      val name = "t"
      def features(d: DataFrame) = Seq("x_out" -> col("x"))
    }
    f.transform(df, "nan")
  }
}
