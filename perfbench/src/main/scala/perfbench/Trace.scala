package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._

/** One timed call into the program. Times are seconds since the
  * tracer's origin; `parent` is -1 for a pass's root span. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
                      start: Double, var end: Double = Double.NaN)

/** Spark work attributed to one span: the counters the listener saw
  * for jobs, stages and tasks that ran under that span's id. */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, cpuNs = 0L
  var shuffleWrite, shuffleRead, input, spill = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)] // epoch ms
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; gcMs += o.gcMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    input += o.input; spill += o.spill
    jobIntervals ++= o.jobIntervals
  }
}

/** Listener registered only for traced passes. Every job, stage and
  * task carries the span id that was set as a local property on the
  * submitting thread (Spark propagates it to broadcast and AQE
  * threads), so attribution is exact and needs no clock matching.
  * Fields are written on the listener-bus thread and read only after
  * [[Tracer.drain]]. */
final class Recorder extends SparkListener {
  import Recorder.Key
  val bySpan = scala.collection.mutable.HashMap.empty[Int, Counts]
  private val stageSpan = scala.collection.mutable.HashMap.empty[Int, Int]
  private val jobSpan = scala.collection.mutable.HashMap.empty[Int, (Int, Long)]

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(q => Option(q.getProperty(Key))).map(_.toInt)
  private def counts(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      counts(s).jobs += 1
      jobSpan(e.jobId) = (s, e.time)
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (s, t0) =>
      counts(s).jobIntervals += ((t0, e.time))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan(e.stageInfo.stageId) = s
      counts(s).stages += 1
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { s =>
      val c = counts(s)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.input += m.inputMetrics.bytesRead
        c.spill += m.diskBytesSpilled
      }
    }
}

object Recorder { val Key = "perfbench.span" }

/** Records spans around the harness's calls into the program. With
  * `enabled` false it only times (no listener, no local properties),
  * which is the untraced configuration the end-to-end metrics use. */
final class Tracer(sc: SparkContext) {
  private val origin = System.nanoTime()
  private val epochOriginMs = System.currentTimeMillis().toDouble
  val spans = ArrayBuffer.empty[Span]
  val recorder = new Recorder
  private var enabled = false
  private var stack: List[Span] = Nil

  def now(): Double = (System.nanoTime() - origin) / 1e9
  def epochMs(t: Double): Double = epochOriginMs + t * 1e3

  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) sc.addSparkListener(recorder) else { drain(); sc.removeSparkListener(recorder) }
    enabled = on
  }
  def isEnabled: Boolean = enabled

  /** Runs `f` as a span of `pass`; returns its result and duration. */
  def span[T](pass: Int, name: String)(f: => T): (T, Double) = {
    val parent = stack.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1), pass, name, now())
    if (enabled) {
      spans += s
      sc.setLocalProperty(Recorder.Key, s.id.toString)
    }
    stack = s :: stack
    try {
      val r = f
      (r, now() - s.start)
    } finally {
      s.end = now()
      stack = stack.tail
      if (enabled)
        sc.setLocalProperty(Recorder.Key, parent.map(_.id.toString).orNull)
    }
  }

  def drain(): Unit = ListenerBusDrain.drain(sc)

  /** Counts of `root` and every span below it. */
  def inclusive(root: Span): Counts = {
    val total = new Counts
    descendants(root).foreach(s => recorder.bySpan.get(s.id).foreach(total.add))
    total
  }
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def descendants(s: Span): Seq[Span] = s +: children(s).flatMap(descendants)
  def selfTime(s: Span): Double = (s.end - s.start) - children(s).map(c => c.end - c.start).sum
}
