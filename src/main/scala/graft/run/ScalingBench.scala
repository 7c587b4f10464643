package graft.run

import org.apache.spark.sql.SparkSession

/** Scaling-efficiency evidence for the north rule: run the IDENTICAL
  * flagship job on the IDENTICAL input at two parallelism levels (local[8]
  * vs local[32] — the sandbox stand-in for N vs 4N executors) and report
  * turns/sec at both plus efficiency = T32 / (4·T8).
  *
  * Prints one JSON line; results are recorded in BASELINE.md §4.
  */
object ScalingBench {

  /** Bench session: like GraftSession.local plus a single-box-only knob —
    * shuffle compression off (pure CPU overhead when shuffle files live on
    * tmpfs, where GraftSession.builder puts them; on a real cluster the
    * network makes compression a win and it stays on).
    */
  private def session(cpus: Int): SparkSession = {
    val s = graft.core.GraftSession.builder(s"local[$cpus]", 4 * cpus)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val benchBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/root/repo/target/bench")
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "80000").toLong
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt
    val lo = sys.env.getOrElse("SPARK_GRAFT_SCALE_LO", "8").toInt
    val hi = sys.env.getOrElse("SPARK_GRAFT_SCALE_HI", "32").toInt

    // generate input once (at hi parallelism; rows are parallelism-invariant)
    var spark = session(hi)
    val (tPath, sPath) = Flagship.ensureData(spark, benchBase, nConvs)
    spark.stop()

    // Interleave the two levels round-robin so JIT warm-up, page-cache and
    // host drift hit both equally; outputs are deleted between repeats;
    // best (steady-state) run per level is reported.
    val results = scala.collection.mutable.Map[Int, Vector[(Long, Double)]]()
      .withDefaultValue(Vector.empty)
    for (r <- 1 to repeats; cpus <- Seq(lo, hi)) {
      spark = session(cpus)
      val out = s"$benchBase/scale_out_c${cpus}_$r"
      val (rows, _, tps) = Flagship.run(spark, tPath, sPath, out)
      scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()
      spark.stop()
      results(cpus) = results(cpus) :+ (rows, tps)
    }
    Seq(lo, hi).foreach { c =>
      println(s"""{"level":$c,"runs_tps":[${results(c).map(_._2.toLong).mkString(",")}]}""")
    }
    val (rowsLo, tpsLo) = (results(lo).head._1, results(lo).map(_._2).max)
    val (rowsHi, tpsHi) = (results(hi).head._1, results(hi).map(_._2).max)
    require(rowsLo == rowsHi, s"row drift across parallelism: $rowsLo vs $rowsHi")
    val eff = tpsHi / (tpsLo * (hi.toDouble / lo))
    println(
      s"""{"metric":"scaling efficiency local[$lo] -> local[$hi]",""" +
        s""""rows":$rowsLo,"turns_per_sec_$lo":${tpsLo.toLong},""" +
        s""""turns_per_sec_$hi":${tpsHi.toLong},""" +
        s""""efficiency":${f"$eff%.3f"},"target":0.8}""")
  }
}
