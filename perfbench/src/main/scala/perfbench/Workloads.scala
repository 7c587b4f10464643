package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Transcripts
import graft.lake.IcebergLite
import graft.run.{FeatureFactory, Flagship}

/** What a workload needs from the benchmark process. `dir` is the run's
  * scratch directory; the runner deletes it when the process ends.
  */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long,
    val tracer: Tracer) {
  private var n = 0
  def path(name: String): String = new File(dir, name).getPath

  /** A new, empty output directory under the run's scratch space. */
  def fresh(name: String): String = { n += 1; path(s"out/$name-$n") }
}

/** One timed operation. `ok` is false when its output check failed. */
final case class Op(kind: String, seconds: Double, rows: Long, ok: Boolean)

/** One closed-loop iteration: its operations and the layer values it
  * measured (engine totals are added by the runner on traced iterations).
  */
final class Iter {
  val ops = mutable.ArrayBuffer.empty[Op]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  def op(kind: String, seconds: Double, rows: Long, ok: Boolean): Unit =
    ops += Op(kind, seconds, rows, ok)
}

trait Workload {
  /** Kind of the operation whose rows per second is the end-to-end figure. */
  def primary: String
  /** Name and unit of the rows that the primary operation counts. */
  def rowUnit: String
  /** Generate and persist the seeded inputs (idempotent; timed in set-up). */
  def inputs(ctx: Ctx): Unit
  /** Reference outputs the timed operations are checked against. */
  def reference(ctx: Ctx): Unit
  /** One closed-loop iteration. */
  def iterate(ctx: Ctx, traced: Boolean): Iter
  /** Untimed iterations that warm the JIT before the loop (in set-up). */
  def warmups: Int = 0
  /** Per-layer metrics that only this workload measures, with their units. */
  def ownLayer: Seq[(String, String)] = Nil

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def storage(it: Iter, root: String, rows: Long): Unit = {
    val files = Files.dataFiles(new File(root))
    val blobs = Files.under(new File(root, "meta")).filter(_.getName.startsWith("blob-"))
    it.layer("lake.files") = files.size.toDouble
    it.layer("lake.bytes") = Files.bytes(files).toDouble
    it.layer("lake.blob_bytes") = Files.bytes(blobs).toDouble
    it.layer("lake.bytes_per_row") = Files.bytes(files).toDouble / math.max(rows, 1L)
  }
}

/** Seeded transcripts (and, for the point-in-time workloads, snapshots). */
final class TranscriptInputs(nConvs: Long, withSnapshots: Boolean) {
  var tPath = ""
  var sPath = ""
  var turns = 0L

  def write(ctx: Ctx): Unit = {
    val key = s"s${ctx.seed}_n$nConvs"
    tPath = ctx.path(s"inputs/transcripts_$key")
    sPath = ctx.path(s"inputs/snapshots_$key")
    Transcripts.synthesize(ctx.spark, nConvs, ctx.seed)
      .write.mode("overwrite").parquet(tPath)
    if (withSnapshots)
      Transcripts.snapshots(ctx.spark.read.parquet(tPath))
        .write.mode("overwrite").parquet(sPath)
    turns = ctx.spark.read.parquet(tPath).count()
  }

  def t(spark: SparkSession): DataFrame = spark.read.parquet(tPath)
  def s(spark: SparkSession): DataFrame = spark.read.parquet(sPath)
}

/** One `Flagship.run`: as-of join, sessionize, backfill, lag/rolling and a
  * 32-bucket Iceberg-lite write, as a single large job.
  */
final class PitFlagship(nConvs: Long) extends Workload {
  val primary = "run"
  val rowUnit = "turns"
  // the reference runs the unencoded plan; warm the encoded plan and the write
  override val warmups = 1
  private val in = new TranscriptInputs(nConvs, withSnapshots = true)
  private var ref: Digest = null

  def inputs(ctx: Ctx): Unit = in.write(ctx)

  def reference(ctx: Ctx): Unit =
    ref = Digest.of(Flagship.pipelineUnencoded(in.t(ctx.spark), in.s(ctx.spark)))

  def iterate(ctx: Ctx, traced: Boolean): Iter = {
    val it = new Iter
    val spark = ctx.spark
    val out = ctx.fresh("flagship")
    val ((rows, _, _), sec) = timed(ctx.tracer.span("flagship.run") {
      Flagship.run(spark, in.tPath, in.sPath, out)
    })
    val got = Digest.of(IcebergLite.readTable(spark, out).drop("bucket"))
    var ok = rows == in.turns && got == ref
    storage(it, out, rows)
    if (traced) {
      // the temporal operators are lazy: force cumulative prefixes to the
      // noop sink and take differences
      val p = Prefixes.of(in.t(spark), in.s(spark))
      // the prefixes copy the pipeline's composition; if it drifts from the
      // pipeline, the run fails rather than time a stale copy
      ok &&= Digest.of(Prefixes.output(p.last._2)) == ref
      val ts = p.map { case (name, df) =>
        timed(ctx.tracer.span(s"noop.$name", probe = true) {
          df.write.format("noop").mode("overwrite").save()
        })._2
      }
      it.layer("temporal.asof_s") = ts(0)
      it.layer("temporal.sessionize_s") = ts(1) - ts(0)
      it.layer("temporal.backfill_s") = ts(2) - ts(1)
      it.layer("temporal.descriptors_s") = ts(3) - ts(2)
      val full = timed(ctx.tracer.span("noop.pipeline", probe = true) {
        Flagship.pipeline(in.t(spark), in.s(spark))
          .write.format("noop").mode("overwrite").save()
      })._2
      it.layer("lake.write_s") = sec - full
    }
    it.op("run", sec, rows, ok)
    Files.delete(new File(out))
    it
  }
}

/** Cumulative prefixes of the flagship composition (as in
  * `Flagship.pipeline`, dictionary-encoded role and tool).
  */
object Prefixes {
  import graft.temporal.{AsOf, Backfill, Descriptors, Sessionize}

  private val roles = array(Transcripts.roles.map(lit): _*)
  private val tools = array(Transcripts.tools.map(lit): _*)

  def of(t: DataFrame, snaps: DataFrame): Seq[(String, DataFrame)] = {
    val narrow = t.withColumn("text_len", length(col("text")).cast("double"))
      .drop("text")
      .withColumn("__role", array_position(roles, col("role")).cast("byte"))
      .withColumn("__tool", array_position(tools, col("tool")).cast("byte"))
      .drop("role", "tool")
    val asof = AsOf.asofJoin(narrow, snaps, key = "conv_id", leftTs = "ts",
      rightTs = "snapshot_ts", tiebreak = "snap_turn_idx", payload = Seq("f_vec"),
      leftTie = Some("turn_idx"), keepOrder = true)
    val ord = AsOf.orderCols
    val sess = Sessionize.byGap(asof, "conv_id", "ts", ord, 1800L)
    val filled = Backfill.lastNonNull(sess, "conv_id", ord, Seq("__tool"))
    val toolRole = Transcripts.roles.indexOf("tool") + 1
    val desc = Descriptors.pack(filled, "conv_id", ord, col("text_len"),
      lags = Seq(1, 2), rollingRows = 10, rollingPred = col("__role") === lit(toolRole))
    Seq("asof" -> asof, "sessionize" -> sess, "backfill" -> filled, "descriptors" -> desc)
  }

  /** The descriptors prefix decoded and selected as `Flagship.pipeline`
    * returns it, so its digest can be checked against the pipeline's.
    */
  def output(desc: DataFrame): DataFrame = {
    def decode(c: String) = when(col(c).isNotNull, element_at(tools, col(c).cast("int")))
    desc.withColumn("role", when(col("__role").isNotNull,
        element_at(roles, col("__role").cast("int"))))
      .withColumn("tool", decode("__tool"))
      .withColumn("tool_filled", decode("__tool_filled"))
      .select("conv_id", "turn_idx", "role", "tool", "ts", "text_len", "f_vec",
        "session_idx", "tool_filled", "lag_1", "lag_2", "rolling_cnt_10", "rolling_sum_10")
  }
}

/** `FeatureFactory.run` over a bucketed Iceberg-lite input: a fresh run,
  * then a run killed by the `failAtBucket` hook and its resume.
  */
final class PitFactory(nConvs: Long, buckets: Int) extends Workload {
  val primary = "fresh"
  val rowUnit = "turns"
  override val ownLayer = Seq("lake.bucket_s.p50" -> "s", "lake.bucket_s.max" -> "s",
    "lake.commit_s" -> "s", "lake.resume_s" -> "s", "lake.resume_redo_buckets" -> "count")
  // the reference runs another plan; warm the factory's jobs and commits
  override val warmups = 1
  private var tRoot = ""
  private var sRoot = ""
  private var turns = 0L
  private var ref: Digest = null

  def inputs(ctx: Ctx): Unit = {
    val key = s"s${ctx.seed}_n${nConvs}_b$buckets"
    tRoot = ctx.path(s"inputs/factory_transcripts_$key")
    sRoot = ctx.path(s"inputs/factory_snapshots_$key")
    Files.delete(new File(tRoot)); Files.delete(new File(sRoot))
    val spark = ctx.spark
    IcebergLite.writeTable(Transcripts.synthesize(spark, nConvs, ctx.seed),
      tRoot, hash(col("conv_id")), buckets, s"synthesize seed=${ctx.seed}")
    IcebergLite.writeTable(
      Transcripts.snapshots(IcebergLite.readTable(spark, tRoot).drop("bucket")),
      sRoot, hash(col("conv_id")), buckets, "snapshots")
    turns = IcebergLite.readSnapshot(tRoot).get.partitions.values.map(_.rows).sum
  }

  def reference(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ref = Digest.of(Flagship.pipelineUnencoded(
      IcebergLite.readTable(spark, tRoot).drop("bucket"),
      IcebergLite.readTable(spark, sRoot).drop("bucket")))
  }

  private def output(ctx: Ctx, root: String): Digest =
    Digest.of(ctx.spark.read.parquet(s"$root/data").drop("bucket"))

  def iterate(ctx: Ctx, traced: Boolean): Iter = {
    val it = new Iter
    val spark = ctx.spark
    val tr = ctx.tracer

    val fresh = ctx.fresh("factory")
    val (done, freshS) = timed(tr.span("factory.fresh") {
      FeatureFactory.run(spark, tRoot, sRoot, fresh, buckets)
    })
    it.op("fresh", freshS, turns, done == buckets && output(ctx, fresh) == ref)

    // kill mid-way, then resume: the resume must redo no committed bucket
    val killAt = buckets / 2
    val resumed = ctx.fresh("factory-resume")
    val killed = tr.span("factory.killed") {
      try { FeatureFactory.run(spark, tRoot, sRoot, resumed, buckets, Some(killAt)); false }
      catch { case e: RuntimeException if e.getMessage == s"simulated kill at bucket $killAt" => true }
    }
    val committed = IcebergLite.readSnapshot(resumed).map(_.partitions.size).getOrElse(0)
    val (redone, resumeS) = timed(tr.span("factory.resume") {
      FeatureFactory.run(spark, tRoot, sRoot, resumed, buckets)
    })
    val redo = redone - (buckets - committed)
    it.op("resume", resumeS, turns, killed && committed == killAt && redo == 0 &&
      output(ctx, resumed) == ref)

    if (traced) {
      val bucketS = scala.io.Source.fromFile(s"$fresh/meta/metrics.jsonl").getLines()
        .map(l => """"durationMs":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong / 1e3)
        .toVector.sorted
      it.layer("lake.bucket_s.p50") = bucketS(bucketS.size / 2)
      it.layer("lake.bucket_s.max") = bucketS.last
      it.layer("lake.commit_s") = freshS - bucketS.sum
      it.layer("lake.resume_s") = resumeS
      it.layer("lake.resume_redo_buckets") = redo.toDouble
    }
    storage(it, fresh, turns)
    Files.delete(new File(fresh)); Files.delete(new File(resumed))
    it
  }
}

/** The indexed daily-ingest loop: `Dedup.writeIndex` with Bloom blobs over
  * the day-0 corpus, then per day `dedupIncrementalBloomIndexed` and
  * `appendIndex` with a blob refresh.
  */
final class CurateIngest(nDocs: Long, days: Int) extends Workload {
  import graft.text.Dedup
  val primary = "day"
  val rowUnit = "docs"
  private val nBuckets = 16
  private val fpp = Some(0.03)
  private var docsPath = ""
  private var docs: DataFrame = null
  private var batchSize = Map.empty[Int, Long]
  private var refIds = Map.empty[Int, Set[Long]]

  private def day(d: Int): DataFrame = docs.where(col("day") === d).drop("day")

  def inputs(ctx: Ctx): Unit = {
    docsPath = ctx.path(s"inputs/documents_s${ctx.seed}_n$nDocs")
    Inputs.documents(ctx.spark, nDocs, ctx.seed, days)
      .write.mode("overwrite").parquet(docsPath)
    docs = ctx.spark.read.parquet(docsPath)
    batchSize = docs.groupBy("day").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Admissions of every day from scratch, against the corpus so far. */
  def reference(ctx: Ctx): Unit = {
    var corpus = day(0)
    refIds = (1 to days).map { d =>
      val ids = Dedup.withCache {
        Dedup.dedupIncremental(day(d), corpus, "doc_id", "text", col("lang"), 3, 0.7)
          .collect().map(_.getLong(0)).toSet
      }
      corpus = corpus.unionByName(day(d).where(col("doc_id").isin(ids.toSeq: _*)))
      d -> ids
    }.toMap
  }

  def iterate(ctx: Ctx, traced: Boolean): Iter = {
    val it = new Iter
    val tr = ctx.tracer
    val root = ctx.fresh("dedup-index")
    val (_, buildS) = timed(tr.span("text.index_build") {
      Dedup.writeIndex(day(0), "doc_id", "text", col("lang"), 3, root,
        nBuckets = nBuckets, bloomFpp = fpp)
    })
    it.op("index", buildS, batchSize.getOrElse(0, 0L),
      IcebergLite.readSnapshot(root).exists(_.partitions.values.map(_.rows).sum == batchSize(0)))
    val admitS = mutable.ArrayBuffer.empty[Double]
    val appendS = mutable.ArrayBuffer.empty[Double]
    var admitted = 0L
    for (d <- 1 to days) {
      val batch = day(d)
      val (ids, a) = timed(tr.span("text.admit") {
        Dedup.withCache {
          Dedup.dedupIncrementalBloomIndexed(batch, root, "doc_id", "text", col("lang"), 3, 0.7)
            .collect().map(_.getLong(0)).toSet
        }
      })
      val (_, p) = timed(tr.span("text.append") {
        Dedup.appendIndex(batch.where(col("doc_id").isin(ids.toSeq: _*)),
          "doc_id", "text", col("lang"), 3, root, nBuckets = nBuckets, bloomFpp = fpp)
      })
      admitS += a; appendS += p; admitted += ids.size
      it.op("day", a + p, batchSize.getOrElse(d, 0L), ids == refIds(d))
    }
    if (traced) {
      val batchDocs = (1 to days).map(batchSize.getOrElse(_, 0L)).sum
      it.layer("text.index_build_s") = buildS
      it.layer("text.admit_s") = Stats.median(admitS.toSeq)
      it.layer("text.append_s") = Stats.median(appendS.toSeq)
      it.layer("text.admitted") = admitted.toDouble
      it.layer("text.admit_frac") = admitted.toDouble / math.max(batchDocs, 1L)
    }
    storage(it, root, batchSize.getOrElse(0, 0L) + admitted)
    Files.delete(new File(root))
    it
  }
}

/** The paper's pillars from transcripts to a GP winner: composition
  * featurization, correlation pruning, fold-Gram CV and symbolic search.
  */
final class FeatureSearch(nConvs: Long, pop: Int, gens: Int) extends Workload {
  import graft.expr.{Compiler, Dim, Registry, Scoring}
  import graft.featurize.Composition
  import graft.search.{Corr, GramCV, SymbolicSearch}
  val primary = "search"
  // the search works on one row per conversation, whatever their turns
  val rowUnit = "convs"
  /** Seed of the pruning shuffle and the GP, the same for every benchmark
    * seed, so that the benchmark seed changes only the data and the target.
    */
  private val searchSeed = 7L
  // the reference is the first, cold search; one more brings the JIT closer
  // to its steady state
  override val warmups = 1
  private val in = new TranscriptInputs(nConvs, withSnapshots = false)
  private var first: (String, Double) = null

  def inputs(ctx: Ctx): Unit = in.write(ctx)

  /** The first search of a seed is the reference for every later one. */
  def reference(ctx: Ctx): Unit = {
    val (render, r2, _, ok) = search(ctx, new Iter)
    require(ok, "the reference search fails its own OLS refit")
    first = (render, r2)
  }

  def iterate(ctx: Ctx, traced: Boolean): Iter = {
    val it = new Iter
    val (render, r2, sec, ok) = search(ctx, it)
    it.op("search", sec, nConvs,
      ok && render == first._1 && math.abs(r2 - first._2) <= 1e-9)
    it
  }

  /** One search from the transcripts to the GP winner. Returns the winner's
    * rendering and R², the search's wall time, and whether the matrix has a
    * row per conversation and an independent OLS refit of the winning
    * expression reproduces its R².
    */
  private def search(ctx: Ctx, it: Iter): (String, Double, Double, Boolean) = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val ((matrix, features, rows), featS) = timed(tr.span("featurize.matrix") {
      val t = in.t(spark)
      val long = Composition.compositionLong(t, "conv_id", "role")
        .withColumnRenamed("role", "part")
        .unionByName(Composition.compositionLong(t.where(col("tool").isNotNull), "conv_id", "tool")
          .withColumnRenamed("tool", "part"))
      val f = Composition.featurize(long, Inputs.lookup(spark, ctx.seed), "conv_id", "part",
        Seq("a1", "a2"))
      val names = f.columns.filter(_ != "conv_id").toSeq
      // the target is a seeded closed form of two features
      val rnd = new scala.util.Random(ctx.seed)
      val (a, b) = (names(rnd.nextInt(names.size)), names(rnd.nextInt(names.size)))
      val m = f.withColumn("y", col(a) * col(a) + lit(3.0) * col(b)).cache()
      (m, names, m.count())
    })
    try {
      val (kept, selectS) = timed(tr.span("search.select") {
        Corr.removeCoef(Corr.matrix(matrix, features), 0.9, searchSeed).map(features)
      })
      val (_, cvS) = timed(tr.span("search.cv") {
        GramCV.fitWithFold(matrix, kept, "y", 5, Scoring.foldCol(Seq(col("conv_id")), 5))
          .cvR2(kept.indices)
      })
      val reg = Registry(kept.map(n => n -> (col(n), Dim.dless)).toMap)
      val res = tr.span("search.gp") {
        SymbolicSearch.fit(matrix, reg, col("y"), SymbolicSearch.Config(
          popSize = pop, nGen = gens, maxHeight = 2, plateau = gens + 1, seed = searchSeed))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val best = res.best
      val refit = Ols.r2(matrix.select(Compiler.compile(best.expr, res.registry).cast("double"),
        col("y").cast("double")).collect().map(r => (r.getDouble(0), r.getDouble(1))))
      val lb = res.logbook
      val cands = lb.map(_.candidates).sum
      val novel = lb.map(_.compiledNovel).sum
      it.layer("featurize.matrix_s") = featS
      it.layer("search.select_s") = selectS
      it.layer("search.cv_s") = cvS
      it.layer("search.gp_gen1_s") = lb.head.millis / 1e3
      it.layer("search.gp_rest_s") = lb.drop(1).map(_.millis).sum / 1e3
      it.layer("search.candidates") = cands.toDouble
      it.layer("expr.compiled_novel") = novel.toDouble
      it.layer("expr.memo_hit_frac") = 1.0 - novel.toDouble / math.max(cands, 1)
      (best.expr.render, best.score, sec,
        rows == nConvs && math.abs(refit - best.score) <= 1e-6)
    } finally matrix.unpersist()
  }
}

/** Ordinary least squares of y on one feature plus an intercept. */
object Ols {
  def r2(xy: Array[(Double, Double)]): Double = {
    if (xy.exists { case (x, y) => x.isNaN || x.isInfinite || y.isNaN }) return Double.NaN
    val n = xy.length.toDouble
    val mx = xy.map(_._1).sum / n
    val my = xy.map(_._2).sum / n
    val sxx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val sxy = xy.map { case (x, y) => (x - mx) * (y - my) }.sum
    val a = if (sxx == 0) 0.0 else sxy / sxx
    val b = my - a * mx
    val sse = xy.map { case (x, y) => val e = y - a * x - b; e * e }.sum
    val sst = xy.map { case (_, y) => (y - my) * (y - my) }.sum
    1.0 - sse / sst
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
