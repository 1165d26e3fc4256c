package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: a call the benchmark made into a layer. Times are
  * seconds since the tracer started; `parent` is -1 for a root. `counters`
  * are the Spark counters attributed to this span alone (children excluded).
  */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    runId: String,
    start: Double,
    end: Double,
    counters: Map[String, Double]) {
  def duration: Double = end - start
  /** The layer is the span name up to its first dot (`pipeline.clean` → `pipeline`). */
  def layer: String = name.takeWhile(_ != '.')
}

object Span {

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (overlapping children are counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0.0
      var reach = Double.NegativeInfinity
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      s.id -> (s.duration - covered)
    }.toMap
  }

  /** Counter totals of `root` and every span beneath it. */
  def subtreeCounters(spans: Seq[Span], root: Int): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    val acc = mutable.HashMap.empty[String, Double]
    def visit(id: Int): Unit = {
      byId(id).counters.foreach { case (k, v) =>
        acc(k) = if (k.endsWith("_max_s")) math.max(acc.getOrElse(k, 0.0), v) else acc.getOrElse(k, 0.0) + v
      }
      children.getOrElse(id, Nil).foreach(c => visit(c.id))
    }
    visit(root)
    acc.toMap
  }
}

/** Records spans around the benchmark's calls into each layer and charges
  * Spark's own counters to them.
  *
  * Each open span sets a Spark job group on the calling thread; a listener
  * maps every job to the span of its group, and every stage and task to its
  * job, so counters land on the span that caused them however late their
  * events arrive. Jobs submitted from pooled threads (the ensemble fits run
  * on futures) can carry a stale inherited group; a job whose group names a
  * span that was not open when the job started is charged to the innermost
  * span open at that moment instead. Planner phases and codegen are charged
  * the same way by time. Spans stay in memory until [[finish]].
  *
  * With `detailed = false` only spans opened with `always = true` are kept
  * (the untraced run needs per-pass totals, not per-layer ones).
  */
final class Tracer(spark: SparkSession, val runId: String, val detailed: Boolean) {
  private val sc = spark.sparkContext
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def nowS(): Double = (System.nanoTime() - originNs) / 1e9
  private def msToS(ms: Long): Double = (ms - originMs) / 1e3

  private final class Open(val id: Int, val parent: Int, val name: String, val start: Double,
      val cgClasses: Long, val cgNanos: Long)
  private val stack = mutable.Stack.empty[Open]
  private val closed = mutable.ArrayBuffer.empty[(Open, Double, Long, Long)]
  private var nextId = 0
  private val groupPrefix = s"perfbench-$runId-"

  // listener-side raw events, resolved to spans in finish()
  private val jobs = new ConcurrentHashMap[Int, Tracer.JobEv]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageCounters = new ConcurrentHashMap[Int, mutable.HashMap[String, Double]]()
  private val phases = new ConcurrentLinkedQueue[(Double, Double)]() // (start s, seconds)

  private def add(m: mutable.HashMap[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(groupPrefix)).map(_.stripPrefix(groupPrefix).toInt)
      jobs.put(e.jobId, Tracer.JobEv(msToS(e.time), group))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageCounters.computeIfAbsent(e.stageInfo.stageId, _ => mutable.HashMap.empty), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = stageCounters.computeIfAbsent(e.stageId, _ => mutable.HashMap.empty)
      add(c, "tasks", 1)
      val dur = e.taskInfo.duration / 1e3
      add(c, "task_busy_s", dur)
      c("task_max_s") = math.max(c.getOrElse("task_max_s", 0.0), dur)
      val m = e.taskMetrics
      if (m != null) {
        add(c, "task_run_s", m.executorRunTime / 1e3)
        add(c, "task_cpu_s", m.executorCpuTime / 1e9)
        add(c, "deser_s", m.executorDeserializeTime / 1e3)
        add(c, "gc_s", m.jvmGCTime / 1e3)
        add(c, "shuffle_mb",
          (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten) / 1e6)
        add(c, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(c, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add(c, "records_read", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get).foreach { p =>
        phases.add((msToS(p.startTimeMs), (p.endTimeMs - p.startTimeMs) / 1e3))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` inside a span named `name` (`layer.call`). Spans nest. */
  def span[T](name: String, always: Boolean = false)(body: => T): T =
    if (!detailed && !always) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val o = new Open(nextId, parent, name, nowS(),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      nextId += 1
      stack.push(o)
      sc.setJobGroup(groupPrefix + o.id, name, interruptOnCancel = false)
      try body
      finally {
        val end = nowS()
        closed += ((o, end,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - o.cgClasses,
          CodeGenerator.compileTime - o.cgNanos))
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Waits for Spark's listener bus to deliver every event, detaches the
    * listeners and returns the closed spans with their counters.
    */
  def finish(): Seq[Span] = {
    require(stack.isEmpty, s"finish() with open spans: ${stack.map(_.name).mkString(",")}")
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val bounds = closed.map { case (o, end, _, _) => (o.id, o.parent, o.start, end) }.toSeq
    val depth = mutable.HashMap(-1 -> 0)
    bounds.sortBy(_._1).foreach { case (id, parent, _, _) => depth(id) = depth(parent) + 1 }
    // innermost span open at time t (spans of one client nest or follow)
    def innermost(t: Double): Option[Int] =
      bounds.filter { case (_, _, s, e) => s <= t && t < e }.sortBy(b => -depth(b._1)).headOption.map(_._1)
    val openAt = bounds.map(b => b._1 -> b).toMap
    val perSpan = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
    def charge(span: Int, k: String, v: Double): Unit = {
      val m = perSpan.getOrElseUpdate(span, mutable.HashMap.empty)
      m(k) = if (k.endsWith("_max_s")) math.max(m.getOrElse(k, 0.0), v) else m.getOrElse(k, 0.0) + v
    }
    val jobSpan = jobs.asScala.flatMap { case (jobId, ev) =>
      val byGroup = ev.groupSpan.filter { g =>
        openAt.get(g).exists { case (_, _, s, e) => s <= ev.timeS && ev.timeS < e }
      }
      byGroup.orElse(innermost(ev.timeS)).map(jobId -> _)
    }
    jobSpan.values.foreach(s => charge(s, "jobs", 1))
    stageCounters.asScala.foreach { case (stage, c) =>
      Option(stageJob.get(stage)).flatMap(jobSpan.get).foreach(s => c.foreach { case (k, v) => charge(s, k, v) })
    }
    phases.asScala.foreach { case (t, secs) => innermost(t).foreach(charge(_, "plan_s", secs)) }
    // codegen deltas are inclusive of children; keep each span's own part
    val kids = closed.groupBy(_._1.parent)
    closed.foreach { case (o, _, classes, nanos) =>
      val ks = kids.getOrElse(o.id, Nil)
      charge(o.id, "codegen_classes", (classes - ks.map(_._3).sum).toDouble)
      charge(o.id, "codegen_compile_s", (nanos - ks.map(_._4).sum) / 1e9)
    }
    closed.toSeq.sortBy(_._1.id).map { case (o, end, _, _) =>
      Span(o.id, o.parent, o.name, runId, o.start, end, perSpan.get(o.id).map(_.toMap).getOrElse(Map.empty))
    }
  }
}

object Tracer {
  /** A job as the listener saw it start: when, and the span its group names. */
  private final case class JobEv(timeS: Double, groupSpan: Option[Int])
}
