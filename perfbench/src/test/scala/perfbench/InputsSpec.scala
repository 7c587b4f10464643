package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Transcripts

/** The benchmark owns its inputs: one seed gives identical inputs, another
  * seed gives different ones.
  */
class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("transcripts: same seed, same digest; other seed, other digest") {
    def d(seed: Long) = Digest.of(Transcripts.synthesize(spark, 300, seed))
    assert(d(7) == d(7))
    assert(d(7) != d(8))
    assert(d(7).rows > 0)
  }

  test("documents: same seed, same digest; other seed, other digest") {
    def d(seed: Long) = Digest.of(Inputs.documents(spark, 500, seed, days = 2))
    assert(d(7) == d(7))
    assert(d(7) != d(8))
  }

  test("documents plant exact and near duplicates that share a block key") {
    val docs = Inputs.documents(spark, 2000, 3, days = 2)
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val exact = rows.groupBy(_._2).values.filter(_.length > 1)
    assert(exact.nonEmpty)
    assert(exact.forall(_.map(_._3).distinct.length == 1))
    assert(docs.select("day").distinct().count() == 3)
  }

  test("documents: every day holds the same number of documents, at any seed") {
    for (seed <- Seq(3L, 4L)) {
      val sizes = Inputs.documents(spark, 900, seed, days = 2).groupBy("day").count()
        .collect().map(_.getLong(1)).toSeq
      assert(sizes == Seq(300L, 300L, 300L))
    }
  }

  test("lookup: one row per role and tool, seeded") {
    val a = Inputs.lookup(spark, 1).collect().toSeq
    assert(a.size == Transcripts.roles.size + Transcripts.tools.size)
    assert(a == Inputs.lookup(spark, 1).collect().toSeq)
    assert(a != Inputs.lookup(spark, 2).collect().toSeq)
  }

  test("a span's self time excludes the part its children cover") {
    val s = Span(0, -1, "root", "r", startNs = 0L, endNs = 10000000000L)
    val kids = Seq((1000000000L, 3000000000L), (2000000000L, 4000000000L),
      (9000000000L, 12000000000L))
    assert(math.abs(Tracer.selfSeconds(s, kids) - 6.0) < 1e-9)
  }
}
