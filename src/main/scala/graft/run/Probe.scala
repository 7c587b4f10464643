package graft.run

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev profiler: time a set of SparkEntry queries with the EXACT bench
  * methodology (noop sink, untimed warm pass, timed repeats, Dedup cache
  * released between passes), optionally under ad-hoc session confs, and
  * optionally dump each query's `explain("formatted")` to
  * `<planDir>/<query>.txt` for the plan-diff record.
  *
  * Usage: Probe <out.json> <planDir|-> <q1,q2,...|all> [repeats] [k=v,k=v|-]
  *
  * Input dir `SPARK_GRAFT_SF_DIR` (required), cores `SPARK_GRAFT_CPUS`
  * (default 32). The confs go on the session builder, so fixed overhead
  * (AQE stage jobs, partition counts) can be attributed to a knob before
  * touching GraftSession defaults.
  *
  * Output: `{"samples":{q:[s,…]},"failed":{q:error}}`. A failed pass fails
  * fast, so timing it would record a fantasy time: a query that throws on
  * any pass stops there and appears only under "failed", and the main
  * exits non-zero. Separate from the FROZEN `Bench` main.
  */
object Probe {
  type Query = (SparkSession, String) => DataFrame

  final case class Result(
      samples: Seq[(String, Seq[Double])], failed: Seq[(String, String)]) {
    def json: String = {
      val s = samples.map { case (n, dts) =>
        quote(n) + ":" + dts.map(d => f"$d%.3f").mkString("[", ",", "]")
      }
      val f = failed.map { case (n, e) => quote(n) + ":" + quote(e) }
      s"""{"samples":${s.mkString("{", ",", "}")},"failed":${f.mkString("{", ",", "}")}}"""
    }
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** `k=v,k=v` (or `-` for none) as builder conf pairs. */
  def confs(arg: String): Seq[(String, String)] =
    if (arg == "-") Nil
    else arg.split(",").toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }

  def session(cpus: Int, confs: Seq[(String, String)]): SparkSession = {
    val b = graft.core.GraftSession.builder(s"local[$cpus]", 4 * cpus)
    val s = confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.core.GraftSession.ensureCheckpointDir(s)
    s
  }

  def run(spark: SparkSession, sfDir: String, queries: Map[String, Query],
      names: Seq[String], repeats: Int, planDir: Option[String]): Result = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val outcomes = try names.map { name =>
      val fn = queries(name)
      def pass(tag: String): Double = {
        spark.sparkContext.setJobDescription(s"probe: $name $tag")
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } finally graft.text.Dedup.releaseCache()
      }
      try {
        pass("warm")
        val dts = (1 to repeats).map(i => pass(s"run $i"))
        planDir.foreach { d =>
          val plan =
            try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
            finally graft.text.Dedup.releaseCache()
          Files.createDirectories(Paths.get(d))
          Files.write(Paths.get(d, s"$name.txt"), plan.getBytes(UTF_8))
        }
        println(f"[probe] $name min=${dts.min}%.3f all=${dts.map(d => f"$d%.3f").mkString(",")}")
        name -> Right(dts)
      } catch { case NonFatal(t) =>
        System.err.println(s"[probe] $name failed: $t")
        name -> Left(t.toString)
      }
    } finally spark.sparkContext.setJobDescription(null)
    Result(
      outcomes.collect { case (n, Right(dts)) => n -> dts },
      outcomes.collect { case (n, Left(e)) => n -> e })
  }

  def main(args: Array[String]): Unit = {
    val queries = graft.SparkEntry.queries
    val names =
      if (args(2) == "all") queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val repeats = if (args.length > 3) args(3).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a testdata scale directory"))
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      if (args.length > 4) confs(args(4)) else Nil)
    val result =
      try run(spark, sfDir, queries, names, repeats,
        Some(args(1)).filter(_ != "-"))
      finally spark.stop()
    Files.write(Paths.get(args(0)), (result.json + "\n").getBytes(UTF_8))
    if (result.failed.nonEmpty) sys.exit(1)
  }
}
