package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** One benchmark run: set up one workload, run it in a closed loop with one
  * client for `--seconds`, check every operation's output, and print one
  * JSON result line last.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <n> --dir <scratch dir> --out <span dir>
  * }}}
  *
  * With `--trace 0` the result holds the end-to-end metrics; with
  * `--trace 1` it holds the per-layer metrics, from iterations that
  * alternate untraced and traced, and the spans go to `--out`.
  */
object Main {

  val workloads: Map[String, () => Workload] = Map(
    "pit_flagship" -> (() => new PitFlagship(nConvs = 3072)),
    "pit_factory" -> (() => new PitFactory(nConvs = 2048, buckets = 4)),
    "curate_ingest" -> (() => new CurateIngest(nDocs = 400, days = 1)),
    "feature_search" -> (() => new FeatureSearch(nConvs = 2048, pop = 24, gens = 2)))

  /** Per-layer metrics and their units, printed by every traced run (0 where
    * the workload does not use the layer). A workload adds its own in
    * `Workload.ownLayer`.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "temporal.asof_s" -> "s", "temporal.sessionize_s" -> "s",
    "temporal.backfill_s" -> "s", "temporal.descriptors_s" -> "s",
    "lake.write_s" -> "s", "lake.files" -> "count", "lake.bytes" -> "B", "lake.blob_bytes" -> "B",
    "lake.bytes_per_row" -> "B/row",
    "text.index_build_s" -> "s", "text.admit_s" -> "s", "text.append_s" -> "s",
    "text.admitted" -> "count", "text.admit_frac" -> "ratio",
    "featurize.matrix_s" -> "s",
    "search.select_s" -> "s", "search.cv_s" -> "s", "search.gp_gen1_s" -> "s",
    "search.gp_rest_s" -> "s", "search.candidates" -> "count",
    "expr.compiled_novel" -> "count", "expr.memo_hit_frac" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.busy_frac" -> "ratio", "spark.idle_core_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.peak_exec_mb" -> "MB", "spark.task_skew" -> "ratio",
    "spark.exchanges" -> "count", "spark.sorts" -> "count",
    "spark.codegen_s" -> "s", "spark.codegen_classes" -> "count", "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s")

  private def now(): Long = System.nanoTime()
  private def since(t0: Long): Double = (now() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val w = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name; one of " +
        workloads.keys.toSeq.sorted.mkString(", ")))()
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val dir = new File(a("dir"))
    val out = new File(a("out"))

    // ---- set-up: session, inputs (three times, median), reference, warm-up
    val t0 = now()
    val spark = graft.core.GraftSession.local(cores)
    val sessionS = since(t0)
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, dir, seed, tracer)
    val inputS = (1 to 3).map { _ => val t = now(); w.inputs(ctx); since(t) }
    val tRef = now()
    w.reference(ctx)
    val refS = since(tRef)
    val tWarm = now()
    val warm = (1 to w.warmups).flatMap(_ => w.iterate(ctx, traced = false).ops)
    val warmS = since(tWarm)
    val setupS = sessionS + Stats.median(inputS) + refS + warmS
    System.err.println(f"[perfbench] $name seed=$seed set-up: session $sessionS%.2f s, " +
      s"inputs ${inputS.map(x => f"$x%.2f").mkString("/")} s, " +
      f"reference $refS%.2f s, warm-up $warmS%.2f s")

    // ---- closed loop, one client
    val ops = mutable.ArrayBuffer.empty[Op] ++= warm
    val timed = mutable.ArrayBuffer.empty[(Iter, Boolean)]
    val deadline = now() + (seconds * 1e9).toLong
    var i = 0
    var liveMb = 0.0
    def more = i == 0 || now() < deadline ||
      (trace && !(timed.exists(_._2) && timed.exists(!_._2)))
    while (more) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.begin(s"$name-$seed-$i")
      val it =
        try w.iterate(ctx, traced)
        catch {
          case e: Exception =>
            e.printStackTrace()
            val f = new Iter
            f.op("error", 0, 0, ok = false)
            f
        }
      if (traced) engineTotals(it, tracer.end(), cores)
      timed += ((it, traced))
      System.err.println(s"[perfbench] iteration $i${if (traced) " (traced)" else ""}: " +
        it.ops.map(o => f"${o.kind} ${o.seconds}%.3f s${if (o.ok) "" else " FAILED"}").mkString(", "))
      ops ++= it.ops
      // the heap the engine keeps after a fixed amount of work, so that it
      // does not grow with the number of iterations a faster engine fits in
      if (i == 0 && !trace) liveMb = Heap.liveMb()
      i += 1
    }

    val failed = ops.count(!_.ok)
    val primary = timed.toSeq.filter(!_._2).flatMap(_._1.ops).filter(o => o.kind == w.primary && o.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val rps = Stats.median(primary.map(o => o.rows / o.seconds))
        Seq(("rows_per_s", rps, "rows/s"), ("setup_s", setupS, "s"),
          ("live_heap_mb", liveMb, "MB"))
      } else {
        val tracedIts = timed.toSeq.filter(_._2).map(_._1)
        val tracedPrimary = tracedIts.flatMap(_.ops).filter(o => o.kind == w.primary && o.ok)
        val overhead = Stats.median(tracedPrimary.map(_.seconds)) -
          Stats.median(primary.map(_.seconds))
        (perLayer ++ w.ownLayer).map { case (m, unit) =>
          val v = if (m == "trace.overhead_s") overhead
            else Stats.median(tracedIts.map(_.layer.getOrElse(m, 0.0)))
          (m, v, unit)
        }
      }

    if (trace) {
      out.mkdirs()
      val f = new File(out, s"spans-$name-seed$seed.jsonl")
      val pw = new PrintWriter(f)
      try tracer.jsonLines.foreach(pw.println) finally pw.close()
      System.err.println(s"[perfbench] spans written to $f")
    }
    spark.stop()

    // the figures by the names users know them by, then the result line
    val untimed = timed.toSeq.filter(!_._2).map(_._1)
    val report = metrics.map {
      case ("rows_per_s", v, _) => (s"${w.rowUnit}_per_s", v, s"${w.rowUnit}/s")
      case m => m
    } ++ (if (trace) Nil else
      untimed.flatMap(_.ops).groupBy(_.kind).toSeq.sortBy(_._1).collect {
        case (kind, os) if kind != "error" => (s"${kind}_s", Stats.median(os.map(_.seconds)), "s")
      } ++ untimed.flatMap(_.layer.get("lake.bytes_per_row")).headOption
        .map(v => ("bytes_per_row", v, "B/row"))) :+
      (("failed_frac", failed.toDouble / ops.size, "ratio"))
    report.foreach { case (m, v, u) => println(s"[perfbench] $name $m = $v $u") }
    val body = metrics.map { case (m, v, u) =>
      s""""$m":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${ops.size},"failed":$failed,""" +
      s""""metrics":{$body}}""")
  }

  /** Engine totals of one traced iteration: listener counts of every
    * non-probe span, and process gauges over the top-level spans.
    */
  private def engineTotals(it: Iter, spans: Seq[Span], cores: Int): Unit = {
    val work = spans.filter(!_.probe)
    val top = work.filter(_.parent < 0)
    val c = new Counts
    work.foreach(s => c.add(s.counts))
    val wall = top.map(_.seconds).sum
    def gauge(f: Gauges => Long): Long = top.map(s => f(s.gauges._2) - f(s.gauges._1)).sum
    val mb = 1048576.0
    it.layer("spark.jobs") = c.jobs.toDouble
    it.layer("spark.stages") = c.stages.toDouble
    it.layer("spark.tasks") = c.tasks.toDouble
    it.layer("spark.busy_frac") = c.taskMs / 1e3 / math.max(wall * cores, 1e-9)
    it.layer("spark.idle_core_s") = wall * cores - c.taskMs / 1e3
    it.layer("spark.shuffle_write_mb") = c.shuffleWrite / mb
    it.layer("spark.shuffle_read_mb") = c.shuffleRead / mb
    it.layer("spark.spill_mb") = c.spill / mb
    it.layer("spark.peak_exec_mb") = c.peakExec / mb
    it.layer("spark.task_skew") = c.taskSkew
    it.layer("spark.exchanges") = c.exchanges.toDouble
    it.layer("spark.sorts") = c.sorts.toDouble
    it.layer("spark.codegen_s") = gauge(_.codegenNs) / 1e9
    it.layer("spark.codegen_classes") = gauge(_.codegenClasses).toDouble
    it.layer("spark.gc_s") = gauge(_.gcMs) / 1e3
  }
}

object Json {
  /** A finite double as a JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
