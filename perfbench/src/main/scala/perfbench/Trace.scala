package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbenchhooks.Hooks
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are System.nanoTime. */
case class Span(id: Long, name: String, parent: Long, request: Long,
                start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var peakExecMem = 0L
  var planNs = 0L
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; planNs += o.planNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** Span recorder plus the Spark listener that attributes jobs, stages,
  * tasks and SQL executions to the span that was open on the submitting
  * thread: a span sets the local property [[Tracer.SpanKey]], which every
  * job carries, and the job tag [[Tracer.TagPrefix]]<id>, which every SQL
  * execution start carries. With tracing off every call is a plain
  * pass-through: no listener is registered and no span is kept. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val request = new ThreadLocal[Long] { override def initialValue() = 0L }
  private val on = new ThreadLocal[Boolean] { override def initialValue() = true }
  private val sc: SparkContext = spark.sparkContext

  private val work = mutable.Map.empty[Long, SparkWork]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val executionSpan = mutable.Map.empty[Long, Long]
  private val bookkeepingNs = new AtomicLong(0)
  @volatile private var listenerNs = 0L

  /** Handle one listener event; `body` returns the span the event belongs
    * to (0 for work outside any traced span). Only the time spent on
    * events of traced spans counts as tracing cost. */
  private def timed(body: => Long): Unit = Tracer.this.synchronized {
    val t0 = System.nanoTime()
    if (body != 0L) listenerNs += System.nanoTime() - t0
  }

  private def workFor(span: Long): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageSpan(s) = span)
      workFor(span).jobs += 1
      span
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val span = stageSpan.getOrElse(e.stageInfo.stageId, 0L)
      workFor(span).stages += 1
      span
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val span = stageSpan.getOrElse(e.stageId, 0L)
      val m = e.taskMetrics
      if (m != null) {
        val w = workFor(span)
        w.tasks += 1
        w.taskCpuNs += m.executorCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
        w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
      }
      span
    }
    // a query's planning time, from its execution's own phase tracker, goes
    // to the span that was open when the execution started
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timed {
        val span = s.jobTags.collectFirst {
          case tag if tag.startsWith(Tracer.TagPrefix) => tag.stripPrefix(Tracer.TagPrefix).toLong
        }.getOrElse(0L)
        if (span != 0L) executionSpan(s.executionId) = span
        span
      }
      case end: SparkListenerSQLExecutionEnd => timed {
        val span = executionSpan.remove(end.executionId).getOrElse(0L)
        if (span != 0L) workFor(span).planNs += Hooks.planningNs(end)
        span
      }
      case _ =>
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span named `name`, child of the span open on this
    * thread; Spark jobs submitted meanwhile carry the span's id. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || !on.get) body
    else {
      val entered = System.nanoTime()
      val id = nextId.getAndIncrement()
      val stack = open.get
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      enter(parent, id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, parent, request.get, t0, t1))
        open.set(stack)
        enter(id, parent)
        bookkeepingNs.addAndGet(t0 - entered + System.nanoTime() - t1)
      }
    }

  /** Move this thread's span markers from span `from` to span `to` (0 is
    * no span). */
  private def enter(from: Long, to: Long): Unit = {
    if (from != 0L) sc.removeJobTag(Tracer.TagPrefix + from)
    if (to != 0L) sc.addJobTag(Tracer.TagPrefix + to)
    sc.setLocalProperty(Tracer.SpanKey, if (to != 0L) to.toString else null)
  }

  /** Switch span recording on or off for this thread. A traced run
    * alternates traced and untraced operations; the difference between
    * their medians is the tracing overhead. */
  def recording(v: Boolean): Unit = on.set(v)

  /** Tag the spans opened by this thread with a request id. */
  def setRequest(id: Long): Unit = request.set(id)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) Hooks.drain(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** The tracer's own measured cost: span bookkeeping on the traced
    * threads plus the listener's time attributing the traced spans' Spark
    * events. */
  def costSeconds: Double = { drain(); (bookkeepingNs.get + listenerNs) / 1e9 }

  /** Spark work under the spans matching `p` (their own jobs only: a
    * job belongs to the innermost span open when it was submitted). */
  def workOf(p: Span => Boolean): SparkWork = synchronized {
    val ids = allSpans.filter(p).map(_.id).toSet
    val w = new SparkWork
    work.foreach { case (id, x) => if (ids(id)) w.add(x) }
    w
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes: Map[Long, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
        case Some((s, e)) => total += e - s; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (s, e) => total += e - s }
    total
  }

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val TagPrefix = "perfbench-span-"
}
