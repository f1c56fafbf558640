package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer's public function. `parent` is the
  * enclosing span (-1 at top level) and `op` the workload operation it
  * ran under (-1 outside any timed operation). */
final case class Span(id: Int, layer: String, name: String, parent: Int,
                      op: Int, startMs: Long, endMs: Long)

/** Spark-side counters attributed to one span. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuMs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var resultBytes = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes
  }
}

/** Attributes jobs, stages and tasks to the span that was innermost on
  * the submitting thread: the span id rides on a SparkContext local
  * property, which Spark copies into each job's properties (broadcast
  * and subquery threads included). */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, Counters]
  /** (span, start ms, end ms) of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Trace.Key)))
      .map(_.toInt).getOrElse(-1)

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobStart(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    counters(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      jobIntervals += ((span, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      counters(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1000000L
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
    }
  }
}

/** Span recorder. Off (the timing runs) it only runs the body; on (the
  * traced run) it records a span per call, kept in memory until the
  * run ends and [[write]]s them out with their counters. */
object Trace {
  val Key = "perfbench.span"

  private var sc: SparkContext = _
  private var listener: SpanListener = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private var currentOp = -1
  private var nextId = 0

  def on: Boolean = listener != null

  def start(context: SparkContext): Unit = {
    sc = context
    listener = new SpanListener
    sc.addSparkListener(listener)
  }

  /** Every span recorded in this JVM, with its own counters. */
  val recorded = mutable.ArrayBuffer.empty[(Span, Counters)]

  /** Stop recording; returns the spans and the drained listener. */
  def stop(): (Seq[Span], SpanListener) = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    val out = (spans.toList, listener)
    recorded ++= out._1.map(s => s -> listener.bySpan.getOrElse(s.id, new Counters))
    listener = null
    spans.clear()
    out
  }

  /** Write [[recorded]] as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, recorded.map { case (s, c) =>
      s"""{"id": ${s.id}, "layer": ${Json.str(s.layer)}, "name": ${Json.str(s.name)}, """ +
        s""""parent": ${s.parent}, "op": ${s.op}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, "task_ms": ${c.taskMs}, """ +
        s""""cpu_ms": ${c.cpuMs}, "gc_ms": ${c.gcMs}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
        s""""spill_bytes": ${c.spillBytes}, "result_bytes": ${c.resultBytes}}"""
    }.mkString("", "\n", "\n"))

  /** Run `body` as operation `op` (spans inside carry its id). */
  def op[T](id: Int)(body: => T): T = {
    val saved = currentOp
    currentOp = id
    try span("op", "op")(body) finally currentOp = saved
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      val t0 = System.currentTimeMillis()
      current = id
      sc.setLocalProperty(Key, id.toString)
      try body
      finally {
        current = parent
        sc.setLocalProperty(Key, if (parent < 0) null else parent.toString)
        spans += Span(id, layer, name, parent, currentOp, t0,
          System.currentTimeMillis())
      }
    }
}
