package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a layer call made by the benchmark. `op` groups
  * the spans of one operation (a request, a query call, an iteration).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. When `on` is false every call is a plain
  * pass-through, so untraced runs pay nothing. Spans nest per thread;
  * each span's id is set as the Spark local property [[SpanProp]], so
  * the jobs a layer call submits are attributed to it by [[JobStats]].
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val paused = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Run `body` with span recording paused on this thread: the
    * untraced half of a traced run, which the tracing overhead is
    * measured against.
    */
  def untraced[T](body: => T): T = {
    val was = paused.get()
    paused.set(true)
    try body finally paused.set(was)
  }

  def span[T](name: String, op: Long)(body: => T): T =
    if (!on || paused.get()) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, outer.headOption.getOrElse(0L), op, name, t0,
          System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp,
          outer.headOption.map(_.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Per span name: (calls, total ms, self ms). Self time is a span's
    * duration minus the time its child spans cover.
    */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val all = spans
    val childMs = all.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(_.ms).sum,
        ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum))
    }
  }

  /** Spans as JSON lines, one per span. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${
        s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark-boundary counters for one span (or for the whole run, key 0):
  * jobs, stages, tasks and the task metrics the executors report.
  */
final class SparkCounts {
  var jobs = 0L
  var viewJobs = 0L // single-stage jobs created by Tables.registerViews
  var stages = 0L
  var tasks = 0L
  var schedDelayMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** SparkListener attributing every job, stage and task to the span that
  * submitted it (via [[Tracer.SpanProp]]). Attached only for traced
  * runs.
  */
final class JobStats extends SparkListener {
  private val bySpan = mutable.Map.empty[Long, SparkCounts]
  private val stageSpan = mutable.Map.empty[Int, Long]
  @volatile private var lastEventNs = System.nanoTime()

  private def counts(span: Long) = bySpan.getOrElseUpdate(span, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    counts(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      lastEventNs = System.nanoTime()
      val c = counts(stageSpan.getOrElse(e.stageInfo.stageId, 0L))
      c.stages += 1
      // a stage's details are the call stack that created its RDD; the
      // fixture schema-inference jobs have one stage each
      if (Option(e.stageInfo.details).exists(_.contains("Tables$.registerViews")))
        c.viewJobs += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val c = counts(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // launch-to-run wait: task wall time not spent deserializing,
      // running or shipping the result
      if (info != null)
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
    }
  }

  /** Wait until the listener bus has been quiet for 300 ms (max 10 s),
    * so every event of the measured work has been counted.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < 300000000L &&
      System.nanoTime() < deadline) Thread.sleep(50)
  }

  def forSpans(ids: Iterable[Long]): SparkCounts = synchronized {
    val out = new SparkCounts
    ids.flatMap(bySpan.get).foreach { c =>
      out.jobs += c.jobs; out.viewJobs += c.viewJobs
      out.stages += c.stages; out.tasks += c.tasks
      out.schedDelayMs += c.schedDelayMs; out.runMs += c.runMs
      out.cpuNs += c.cpuNs; out.gcMs += c.gcMs
      out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
      out.spill += c.spill
    }
    out
  }
}
