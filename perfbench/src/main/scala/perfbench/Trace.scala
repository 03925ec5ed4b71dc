package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced call: `parent` is the enclosing span (-1 at the root) and `op`
  * the root span id shared by every span of one operation.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the single client thread. Spans are kept
  * until the run ends and written out then. With `enabled = false` every
  * call is a plain pass-through.
  *
  * While a span is open its id is the Spark local property [[Tracer.Key]],
  * so [[LayerListener]] can charge every job to the span that submitted it.
  */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val s = Span(id, name, stack.headOption.fold(-1)(_.id),
        stack.headOption.fold(id)(_.op), System.nanoTime(), -1L)
      spans.synchronized(spans += s)
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the time its children cover (children of one
    * client thread run one after another, so their durations add).
    */
  def selfNanos(s: Span): Long = s.dur - children(s.id).map(_.dur).sum

  /** Operations whose spans do not nest: a child outside its parent, or
    * self times that do not add up to the root span.
    */
  def badOps(): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(s => s.parent == -1).toSeq.flatMap { root =>
      val members = spans.filter(_.op == root.id)
      val escaped = members.filter { s =>
        s.end < s.start || (s.parent >= 0 && {
          val p = byId(s.parent); s.start < p.start || s.end > p.end })
      }
      val selfSum = members.map(selfNanos).sum
      if (escaped.nonEmpty || selfSum != root.dur || members.exists(selfNanos(_) < 0))
        Seq(s"${root.name}#${root.id}: self sum $selfSum ns vs span ${root.dur} ns, " +
          s"${escaped.size} escaped span(s)")
      else Nil
    }
  }

  /** Wall-clock milliseconds of a `System.nanoTime` reading. */
  def epochMs(nanos: Long): Double = msBase + (nanos - nanoBase) / 1e6

  /** Innermost span open at epoch-millisecond `ms` (listener events carry
    * millisecond wall times), for jobs submitted from threads that did not
    * inherit the span property.
    */
  def spanAtMs(ms: Long): Int = spans.synchronized {
    val hits = spans.filter(s => epochMs(s.start) <= ms + 1 && (s.end < 0 || epochMs(s.end) >= ms - 1))
    if (hits.isEmpty) -1 else hits.maxBy(_.start).id
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Work counted by the scheduler and executors for one span. */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, critMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, inputRecords = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs; critMs += o.critMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; inputBytes += o.inputBytes; inputRecords += o.inputRecords
  }

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,""" +
      s""""cpu_ns":$cpuNs,"gc_ms":$gcMs,"crit_ms":$critMs,"shuffle_read":$shuffleRead,""" +
      s""""shuffle_write":$shuffleWrite,"spill":$spill,"input_bytes":$inputBytes,""" +
      s""""input_records":$inputRecords}"""
}

/** The benchmark's own listener: counts jobs, stages, tasks, task time,
  * shuffle and input bytes per span, and records job intervals so driver
  * time that no job covers can be measured. Registered only for traced
  * runs.
  */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageMaxTask = mutable.Map.empty[Int, Long]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  val bySpan = mutable.Map.empty[Int, Counts]
  /** (start, end) epoch milliseconds of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def at(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(tracer.spanAtMs(e.time))
    at(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    jobStartMs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = at(stageSpan.getOrElse(id, -1))
    c.stages += 1
    c.critMs += stageMaxTask.remove(id).getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val ms = e.taskInfo.duration
    c.taskMs += ms
    stageMaxTask(e.stageId) = math.max(stageMaxTask.getOrElse(e.stageId, 0L), ms)
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Counts of the spans in `ids`, summed. */
  def subtree(ids: Set[Int]): Counts = synchronized {
    val total = new Counts
    bySpan.foreach { case (s, c) => if (ids(s)) total += c }
    total
  }

  /** Milliseconds of `[fromMs, toMs]` during which at least one job ran. */
  def coveredMs(fromMs: Double, toMs: Double): Double = synchronized {
    val iv = jobIntervals.map { case (s, e) => (math.max(s.toDouble, fromMs), math.min(e.toDouble, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) covered += curE - curS
    covered
  }
}
