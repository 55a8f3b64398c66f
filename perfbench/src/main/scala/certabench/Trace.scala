package certabench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark span. Times are epoch nanoseconds, so they compare
  * directly with Spark's job timestamps. `parent` is -1 for a root.
  */
final case class Span(id: Long, name: String, parent: Long, opId: Long,
    start: Long, end: Long)

/** One Spark job as the listener saw it: the span that was open on the
  * submitting thread, the job description, its interval and the task
  * metrics of its stages.
  */
final class JobRecord(val id: Int, val span: Long, val description: String,
    val execution: Long, val start: Long) {
  var end: Long = -1L
  var tasks: Long = 0L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  def duration: Long = if (end >= start) end - start else 0L
}

object Trace {
  /** Local property that carries the open span id onto jobs. Spark's
    * local properties are inherited by threads created while it is set,
    * so jobs from a thread pool or a streaming query started inside a
    * span are attributed to that span.
    */
  val SpanKey = "certabench.span"
  val DescriptionKey = "spark.job.description"
  /** Set by Spark SQL on every job of one query execution; adaptive
    * execution runs a query as several jobs that share it.
    */
  val ExecutionKey = "spark.sql.execution.id"
}

/** Assigns every Spark job to the benchmark span open when it started.
  * Events arrive on Spark's single listener-bus thread; readers call
  * [[Tracer.flush]] first.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    val desc = props.flatMap(p => Option(p.getProperty(Trace.DescriptionKey)))
      .getOrElse("")
    val execution = props.flatMap(p => Option(p.getProperty(Trace.ExecutionKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobRecord(e.jobId, span, desc, execution, e.time * 1000000L)
    e.stageIds.foreach(s => if (!stageToJob.contains(s)) stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jobId <- stageToJob.get(e.stageId); j <- jobs.get(jobId) if m != null) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  def snapshot: Seq[JobRecord] = synchronized(jobs.values.toIndexedSeq)
}

/** Spans recorded from the benchmark's own code, around the calls it
  * makes into the library, plus the job listener. Disabled, a span is
  * just the call: no property, no record, no listener attached.
  */
final class Tracer(sc: SparkContext) {
  private val wall0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = wall0 + (System.nanoTime() - nano0)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
  val listener = new JobListener
  @volatile private var on = false

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def disable(): Unit = if (on) {
    flush()
    sc.removeSparkListener(listener)
    on = false
  }

  /** Deliver every queued listener event before reading the jobs. */
  def flush(): Unit =
    require(org.apache.spark.GraftCoreBridge.flushListenerBus(sc),
      "the Spark listener bus did not drain; job metrics would be incomplete")

  /** Run `f` inside a span named `name`. The parent is the span open on
    * this thread (inherited from the creating thread for pool threads).
    */
  def span[T](name: String, opId: Long)(f: => T): T =
    if (!on) f
    else {
      val prev = sc.getLocalProperty(Trace.SpanKey)
      val parent = Option(prev).map(_.toLong).getOrElse(-1L)
      val id = nextId.incrementAndGet()
      val start = now()
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      try f
      finally {
        val end = now()
        sc.setLocalProperty(Trace.SpanKey, prev)
        spans.synchronized { spans += Span(id, name, parent, opId, start, end) }
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toIndexedSeq)

  def jobs: Seq[JobRecord] = { flush(); listener.snapshot }
}

/** Per-span reductions over spans and jobs. */
object TraceMath {
  /** Each span id with the ids of the spans beneath it, itself included. */
  def subtrees(spans: Seq[Span]): Map[Long, Set[Long]] = {
    val children = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.id) }
    def below(id: Long): Set[Long] =
      children.getOrElse(id, Nil).foldLeft(Set(id))((acc, c) => acc ++ below(c))
    spans.map(s => s.id -> below(s.id)).toMap
  }

  /** Jobs attributed to `span` or to any span beneath it. */
  def jobsUnder(span: Span, tree: Map[Long, Set[Long]], jobs: Seq[JobRecord]): Seq[JobRecord] = {
    val ids = tree.getOrElse(span.id, Set(span.id))
    jobs.filter(j => ids.contains(j.span))
  }

  /** A span's self time: its duration minus what its child spans cover. */
  def selfTime(span: Span, spans: Seq[Span]): Long =
    Stats.selfTime(span.start, span.end,
      spans.filter(_.parent == span.id).map(c => (c.start, c.end)))

  /** Wall time inside `span` during which at least one of `jobs` ran. */
  def busy(span: Span, jobs: Seq[JobRecord]): Long =
    Stats.unionLength(Stats.clip(jobs.map(j => (j.start, j.end)), span.start, span.end))
}
