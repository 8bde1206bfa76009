package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/**
 * Spans recorded around the benchmark's calls into the program, kept in
 * memory and written out once at the end. Each span also gets the Spark
 * work its jobs did (jobs, stages, tasks, task time, shuffle/spill/input
 * bytes), attributed through a thread-local job property that Spark
 * passes on to the threads a call starts. With tracing off, `span` only
 * runs its body.
 */
final class Tracer(val on: Boolean, val runId: String) {
  import Tracer._

  @volatile private var paused = false
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Integer] { override def initialValue(): Integer = 0 }
  private val work = new ConcurrentHashMap[Integer, Work]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()

  /** Run `body` with span recording off: the untraced side of the
    * overhead comparison inside a traced run. */
  def untraced[T](body: => T): T = {
    paused = true
    try body finally paused = false
  }

  def active: Boolean = on && !paused

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val sc = org.apache.spark.sql.SparkSession.getActiveSession.map(_.sparkContext)
      sc.foreach(_.setLocalProperty(SpanProperty, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
        sc.foreach(_.setLocalProperty(SpanProperty, if (parent == 0) null else parent.toString))
      }
    }

  /** A span whose bounds were measured elsewhere (a micro-batch phase). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = ids.incrementAndGet()
    if (active) spans.add(Span(id, parent, name, startNs, endNs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Spark work of the span with this name and of everything under it. */
  def workUnder(name: String): Work = {
    val s = all
    val kids = s.groupBy(_.parent)
    def tree(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(c => tree(c.id))
    s.filter(_.name == name).flatMap(x => tree(x.id))
      .flatMap(i => Option(work.get(i))).foldLeft(Work())(_ + _)
  }

  /** Wall seconds of every span with this name. */
  def seconds(name: String): Double =
    all.filter(_.name == name).map(x => (x.endNs - x.startNs) / 1e9).sum

  def count(name: String): Int = all.count(_.name == name)

  def listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).foreach { id =>
        val span = Integer.valueOf(id)
        work.merge(span, Work(jobs = 1, stages = e.stageIds.size), (a, b) => a + b)
        e.stageIds.foreach(s => stageSpan.put(s, span))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val m = e.taskMetrics
        val w = if (m == null) Work(tasks = 1) else Work(
          tasks = 1,
          taskMs = m.executorRunTime,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled,
          input = m.inputMetrics.bytesRead)
        work.merge(span, w, (a, b) => a + b)
      }
  }

  def json: String = all.map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}${Option(work.get(s.id)).fold("")(_.json)}}"""
  }.mkString("\n")
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                        shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
                        input: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskMs + o.taskMs, shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
      spill + o.spill, input + o.input)
    def json: String =
      s""","jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,""" +
        s""""shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,"spill":$spill,"input":$input"""
  }
}
