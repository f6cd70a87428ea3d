package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer: wall interval (epoch ms for overlap
  * with Spark job intervals, nanos for the duration), the span that
  * caused it, and the request it belongs to. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val req: Long, val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = 0L
  @volatile var endNs: Long = 0L
  @volatile var constructNs: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark-side totals of one job group (one span), or of every task. */
final class TaskTotals {
  var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var waitMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var recordsRead = 0L
  def add(t: TaskTotals, sign: Int = 1): Unit = {
    tasks += sign * t.tasks; cpuNs += sign * t.cpuNs; runMs += sign * t.runMs
    gcMs += sign * t.gcMs; waitMs += sign * t.waitMs
    shuffleBytes += sign * t.shuffleBytes; spillBytes += sign * t.spillBytes
    recordsRead += sign * t.recordsRead
  }
  def copy: TaskTotals = { val c = new TaskTotals; c.add(this); c }
}

/** Spans recorded from the benchmark's own thread(s) around each call
  * into a layer. Every span runs under its own Spark job group, and a
  * listener owned by the benchmark attributes each job's tasks to the
  * span whose group submitted it. With tracing off, `span` only runs
  * its body: no job group, no listener, no record. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val suspended = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  val spans = new ConcurrentLinkedQueue[Span]()

  private val groupPrefix = "graftbench-span-"
  // listener state, guarded by this tracer's monitor
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  /** span group -> (jobs, job intervals) */
  val jobsByGroup = mutable.Map.empty[String, mutable.Buffer[(Long, Long)]]
  val tasksByGroup = mutable.Map.empty[String, TaskTotals]
  /** Tasks of jobs that ran under no span's job group. */
  private val unattributedAll = new TaskTotals
  /** The same, within the measured window only. */
  val unattributed = new TaskTotals
  /** Tasks of operations deliberately run untraced inside a traced run. */
  val untracedGroup = "graftbench-untraced"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .flatMap(Option(_)).getOrElse("")
        jobGroup(e.jobId) = g
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(s => stageGroup(s) = g)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        val g = jobGroup.remove(e.jobId).getOrElse("")
        val t0 = jobStartMs.remove(e.jobId).getOrElse(e.time)
        jobsByGroup.getOrElseUpdate(g, mutable.Buffer.empty) += ((t0, e.time))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSubmitMs(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val g = stageGroup.getOrElse(e.stageId, "")
        if (g != untracedGroup) {
          val t = if (g.startsWith(groupPrefix))
            tasksByGroup.getOrElseUpdate(g, new TaskTotals) else unattributedAll
          t.tasks += 1
          Option(e.taskInfo).foreach { i =>
            t.waitMs += math.max(0L,
              i.launchTime - stageSubmitMs.getOrElse(e.stageId, i.launchTime))
          }
          Option(e.taskMetrics).foreach { m =>
            t.cpuNs += m.executorCpuTime
            t.runMs += m.executorRunTime
            t.gcMs += m.jvmGCTime
            t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            t.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }
  if (on) sc.addSparkListener(listener)

  def groupOf(s: Span): String = groupPrefix + s.id

  /** Run `body` as a span named `name` (`<Module>.<function>`); it
    * belongs to request `req`, or to its parent's request. */
  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!on || suspended.get) body
    else {
      val parent = stack.get.headOption
      val s = new Span(ids.incrementAndGet(), name,
        parent.map(_.id).getOrElse(0L),
        if (req != 0L) req else parent.map(_.req).getOrElse(0L),
        System.currentTimeMillis(), System.nanoTime())
      stack.set(s :: stack.get)
      sc.setJobGroup(groupOf(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack.set(stack.get.tail)
        parent match {
          case Some(p) => sc.setJobGroup(groupOf(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans.add(s)
      }
    }

  /** Run an operation that a traced run keeps untraced, for the
    * tracing-overhead comparison: its jobs are excluded from every
    * total. */
  def untraced[T](body: => T): T =
    if (!on) body
    else {
      sc.setJobGroup(untracedGroup, "untraced", interruptOnCancel = false)
      suspended.set(true)
      try body
      finally { suspended.set(false); sc.clearJobGroup() }
    }

  /** Run the measured window: tasks outside every span count as
    * unattributed only while it runs. */
  def measuring[T](body: => T): T = {
    drain()
    val before = synchronized(unattributedAll.copy)
    try body
    finally {
      drain()
      synchronized {
        unattributed.add(unattributedAll)
        unattributed.add(before, -1)
      }
    }
  }

  /** Time the API call that builds a result (eager work before the
    * action), charged to the innermost open span. */
  def construct[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally stack.get.headOption.foreach(s => s.constructNs += System.nanoTime() - t0)
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.graftbench.Bus.drain(sc)

  /** Wall time of span `s` that no Spark job of its group covers. */
  def driverS(s: Span): Double = synchronized {
    val ivs = jobsByGroup.getOrElse(groupOf(s), mutable.Buffer.empty).toSeq
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
    math.max(0.0, s.wallS - Stats.covered(ivs) / 1e3)
  }

  def tasksOf(s: Span): TaskTotals = synchronized {
    tasksByGroup.getOrElse(groupOf(s), new TaskTotals)
  }

  def jobsOf(s: Span): Int = synchronized {
    jobsByGroup.get(groupOf(s)).map(_.size).getOrElse(0)
  }

  /** Spans as JSON lines: name, start, end, parent, request id. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""req":${s.req},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_s":${s.wallS},"construct_s":${s.constructNs / 1e9}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = if (on) sc.removeSparkListener(listener)
}
