package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.run.Probe

/** The dev profiler: only successful passes become samples, failures are
  * reported by name, plans land in the plan dir, builder confs reach the
  * session.
  */
class ProbeSpec extends GraftSuite {

  test("Probe.run: real query sampled + plan written; a throwing query only under failed") {
    val real = "q01_pricing_summary"
    val queries: Map[String, Probe.Query] = Map(
      real -> SparkEntry.queries(real),
      // fails at execution, as fast as a failed query does
      "throws" -> ((s, _) => s.range(1).select(raise_error(lit("probe-boom")))))
    val planDir = Files.createTempDirectory("probe-plans")
    val r = Probe.run(spark, sfSmall, queries, Seq(real, "throws"), 3,
      Some(planDir.toString))

    assert(r.samples.map(_._1) === Seq(real))
    val dts = r.samples.head._2
    assert(dts.size === 3 && dts.forall(_ > 0))
    val plan = new String(Files.readAllBytes(planDir.resolve(s"$real.txt")), "UTF-8")
    assert(plan.contains("Physical Plan"))

    assert(r.failed.map(_._1) === Seq("throws"))
    assert(r.failed.head._2.contains("probe-boom"))
    assert(!Files.exists(planDir.resolve("throws.txt")))
    assert(r.json.startsWith(s"""{"samples":{"$real":["""))
    assert(r.json.contains(""","failed":{"throws":""""))
  }

  test("Probe.run rejects an unknown query name before running anything") {
    val e = intercept[IllegalArgumentException](
      Probe.run(spark, sfSmall, Map.empty, Seq("nope"), 1, None))
    assert(e.getMessage.contains("nope"))
  }

  test("Probe.session: k=v confs reach the session") {
    val key = "spark.graft.probe.marker"
    assert(Probe.confs("-") === Nil)
    assert(Probe.confs(s"$key=a=b,x=y") === Seq(key -> "a=b", "x" -> "y"))
    // the shared test session already exists, so getOrCreate returns it and
    // applies the confs; cpus = 1 keeps its 4 shuffle partitions
    val s = Probe.session(1, Probe.confs(s"$key=on"))
    try {
      assert(s eq spark)
      assert(s.conf.get(key) === "on")
      assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    } finally {
      s.conf.unset(key)
      s.sparkContext.setLogLevel("ERROR")
    }
  }
}
