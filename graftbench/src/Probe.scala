package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters for one job group (one step of one pass). */
final class GroupCounters {
  val jobs, stages, tasks, failedTasks = new LongAdder
  val runMs, cpuNs, gcMs, fetchWaitMs = new LongAdder
  val shuffleWrite, shuffleRead, spill, inputBytes = new LongAdder

  def add(o: GroupCounters): Unit = {
    jobs.add(o.jobs.sum); stages.add(o.stages.sum); tasks.add(o.tasks.sum)
    failedTasks.add(o.failedTasks.sum); runMs.add(o.runMs.sum)
    cpuNs.add(o.cpuNs.sum); gcMs.add(o.gcMs.sum)
    fetchWaitMs.add(o.fetchWaitMs.sum); shuffleWrite.add(o.shuffleWrite.sum)
    shuffleRead.add(o.shuffleRead.sum); spill.add(o.spill.sum)
    inputBytes.add(o.inputBytes.sum)
  }
}

/** SparkListener keyed by job group. Also keeps every task's
  * [launch, finish] interval so idle time (no task running) can be
  * computed for any window. */
final class EngineListener extends SparkListener {
  private val groups_ = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def counters(g: String): GroupCounters =
    groups_.computeIfAbsent(g, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counters(g).jobs.increment()
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, ""))
    c.tasks.increment()
    if (!e.taskInfo.successful) c.failedTasks.increment()
    intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.spill.add(m.diskBytesSpilled)
      c.inputBytes.add(m.inputMetrics.bytesRead)
    }
  }

  def groups: Map[String, GroupCounters] = groups_.asScala.toMap

  /** Sum of the counters of every group whose name starts with `prefix`. */
  def total(prefix: String): GroupCounters = {
    val t = new GroupCounters
    groups_.asScala.foreach { case (g, c) => if (g.startsWith(prefix)) t.add(c) }
    t
  }

  /** Milliseconds of [fromMs, toMs] during which no task ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val iv = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    (toMs - fromMs) - busy
  }
}

/** The engine listener of a traced run, registered just before the
  * traced passes so the untraced passes run without it. */
object Probe {
  val engine = new EngineListener

  def register(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(engine)
}

/** One traced interval: a call into a graft layer or a benchmark step. */
final case class Span(name: String, layer: String, pass: Int, parent: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into graft's layers and tags the Spark jobs
  * they start with a job group `pass/<span name>`. With tracing off a span
  * is a plain call: no job group, no record. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  var pass = 0

  def groupOf(pass: Int, name: String): String = s"$pass/$name"

  def apply[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(groupOf(pass, name), name, interruptOnCancel = false)
      val parent = stack.headOption.getOrElse(-1)
      val idx = spans.length
      spans += Span(name, layer, pass, parent, System.nanoTime(), 0L)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevGroup, interruptOnCancel = false)
      }
    }

  /** Self time per span name over the spans of `pass`: duration minus the
    * part covered by its children. */
  def selfSeconds(pass: Int): Map[String, Double] = {
    val ps = spans.zipWithIndex.filter(_._1.pass == pass)
    val childNs = ps.groupBy(_._1.parent).map { case (p, cs) =>
      p -> cs.map(c => c._1.endNs - c._1.startNs).sum }
    ps.groupBy(_._1.name).map { case (n, ss) =>
      n -> ss.map { case (s, i) =>
        (s.endNs - s.startNs - childNs.getOrElse(i, 0L)) / 1e9 }.sum }
  }

  def totalSeconds(pass: Int, name: String): Double =
    spans.filter(s => s.pass == pass && s.name == name).map(_.seconds).sum

  /** Writes one JSON line per span, then one per job group's counters. */
  def writeJson(file: java.io.File, groups: Map[String, GroupCounters]): Unit = {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(file, "UTF-8")
    try {
      spans.zipWithIndex.foreach { case (s, i) =>
        out.println(
          s"""{"id":$i,"name":"${s.name}","layer":"${s.layer}","pass":${s.pass},""" +
          s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
      groups.toSeq.sortBy(_._1).foreach { case (g, c) =>
        out.println(
          s"""{"group":"$g","jobs":${c.jobs.sum},"stages":${c.stages.sum},""" +
          s""""tasks":${c.tasks.sum},"failed_tasks":${c.failedTasks.sum},""" +
          s""""run_ms":${c.runMs.sum},"cpu_ns":${c.cpuNs.sum},"gc_ms":${c.gcMs.sum},""" +
          s""""fetch_wait_ms":${c.fetchWaitMs.sum},"shuffle_write_bytes":${c.shuffleWrite.sum},""" +
          s""""shuffle_read_bytes":${c.shuffleRead.sum},"spill_bytes":${c.spill.sum},""" +
          s""""input_bytes":${c.inputBytes.sum}}""")
      }
    } finally out.close()
  }
}
