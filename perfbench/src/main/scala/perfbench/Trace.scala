package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Engine counts of one job group (one span). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExec = 0L
  var exchanges = 0L
  var sorts = 0L
  /** stage id -> task durations (ms), for the skew of the largest stage */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; peakExec = math.max(peakExec, o.peakExec)
    exchanges += o.exchanges; sorts += o.sorts
    o.stageTasks.foreach { case (s, d) =>
      stageTasks.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= d }
  }

  /** max ÷ median task time in the stage with the most task time */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val d = stageTasks.values.maxBy(_.sum).sorted
      val med = d(d.size / 2)
      d.last.toDouble / math.max(med, 1L)
    }
}

/** SparkListener that attributes jobs, stages, tasks and executed-plan
  * node counts to the job group that was set when the work started.
  */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counts]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val execPlan = mutable.Map.empty[Long, SparkPlanInfo]

  private def acc(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  def counts(group: String): Counts = synchronized(byGroup.getOrElse(group, new Counts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val c = acc(g)
    c.jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = acc(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = acc(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup(s.executionId) = s.jobGroupId.getOrElse("")
        execPlan(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execPlan(u.executionId) = u.sparkPlanInfo
      case x: SparkListenerSQLExecutionEnd =>
        // the last adaptive update is the plan that ran
        execPlan.remove(x.executionId).foreach { p =>
          val c = acc(execGroup.getOrElse(x.executionId, ""))
          c.exchanges += GroupListener.count(p, "Exchange")
          c.sorts += GroupListener.count(p, "Sort")
        }
        execGroup.remove(x.executionId)
      case _ =>
    }
  }
}

object GroupListener {
  def count(p: SparkPlanInfo, node: String): Long =
    (if (p.nodeName == node) 1L else 0L) + p.children.map(count(_, node)).sum
}

/** Process-wide counters read before and after a span. */
final case class Gauges(codegenNs: Long, codegenClasses: Long, gcMs: Long)

object Gauges {
  def now(): Gauges = Gauges(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum)
}

/** One timed call into a layer. `probe` spans are measurement-only work
  * (such as forcing a lazy prefix) and are left out of the engine totals.
  */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, var endNs: Long = 0L, probe: Boolean = false,
    var gauges: (Gauges, Gauges) = null, var counts: Counts = null) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one benchmark process. A disabled tracer runs the bodies and
  * records nothing, so timed runs carry no tracing cost.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var listener: GroupListener = null
  private var run = ""
  val t0: Long = System.nanoTime()

  /** Start recording the spans of one run (one closed-loop iteration). */
  def begin(runId: String): Unit = if (enabled) {
    run = runId
    listener = new GroupListener
    sc.addSparkListener(listener)
  }

  /** Stop recording; returns the run's spans with their counts filled. */
  def end(): Seq[Span] = if (!enabled) Nil else {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    val mine = spans.filter(_.run == run).toSeq
    mine.foreach(s => s.counts = listener.counts(s"perfbench-${s.id}"))
    listener = null
    mine
  }

  def span[T](name: String, probe: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1), name, run,
        System.nanoTime(), probe = probe || parent.exists(_.probe))
      spans += s
      stack.push(s)
      sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
      val g0 = Gauges.now()
      try body
      finally {
        s.gauges = (g0, Gauges.now())
        s.endNs = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Every span recorded, one JSON object per line. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    val c = Option(s.counts).getOrElse(new Counts)
    s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},""" +
      s""""self_s":${Tracer.selfSeconds(s, kids)},"probe":${s.probe},""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_s":${c.taskMs / 1e3},""" +
      s""""shuffle_write_b":${c.shuffleWrite},"shuffle_read_b":${c.shuffleRead},""" +
      s""""spill_b":${c.spill},"exchanges":${c.exchanges},"sorts":${c.sorts}}"""
  }
}

object Tracer {

  /** A span's duration minus the part of it that its children cover. */
  def selfSeconds(s: Span, children: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = s.startNs
    children.sortBy(_._1).foreach { case (a0, b0) =>
      val a = math.max(a0, reach)
      val b = math.min(b0, s.endNs)
      if (b > a) { covered += b - a; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Heap in use after a full garbage collection. The engine drops cached
  * blocks and unreferenced shuffles asynchronously after a collection, so
  * the heap is read after a second collection that follows a short pause.
  */
object Heap {
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
