package perfbench

import org.apache.spark.{SparkBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** How a workload reports its layer boundaries. The untraced tracer does
  * nothing, so end-to-end runs pay no tracing cost. */
trait Tracer {
  /** Runs `body` as one span named `<module>.<verb>`. */
  def span[T](name: String)(body: => T): T
  /** A lazily evaluated layer output. A traced run computes it inside
    * the span, so that layers Spark would fuse are timed apart. */
  def layer(name: String)(body: => DataFrame): DataFrame
  /** Adds `n` to the work-unit count `key` (chunks, results, pairs). */
  def count(key: String, n: Long): Unit
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
  def layer(name: String)(body: => DataFrame): DataFrame = body
  def count(key: String, n: Long): Unit = ()
}

/** Interval arithmetic for span accounting, on [start, end) in ms. */
object Intervals {
  /** Length of the union of `ivs`, each clipped to `clip`. */
  def coveredLength(ivs: Seq[(Double, Double)], clip: (Double, Double)): Double = {
    val cut = ivs.map { case (s, e) => (math.max(s, clip._1), math.min(e, clip._2)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    cut.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total
  }
}

/** One span instance. Times are epoch milliseconds, the clock Spark
  * stamps job events with. */
final class Span(val id: Int, val name: String, val parent: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  def interval: (Double, Double) = (startMs, endMs)
}

/** Counters summed over the tasks of the stages attributed to a span. */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

/** Attributes jobs, stages and tasks to spans. Pure bookkeeping: the
  * listener feeds it Spark's events and tests feed it made-up ones. */
final class Accounting {
  val counters = mutable.Map.empty[Int, SpanCounters]
  val jobSpan = mutable.Map.empty[Int, Int]
  val jobStartMs = mutable.Map.empty[Int, Double]
  val jobEndMs = mutable.Map.empty[Int, Double]
  private val stageSpan = mutable.Map.empty[Int, Int]
  /** Jobs that carried no span id: must stay 0 in a traced pass. */
  var unattributedJobs = 0L

  private def of(span: Int) = counters.getOrElseUpdate(span, new SpanCounters)

  def jobStart(jobId: Int, timeMs: Long, span: Option[Int], stageIds: Seq[Int]): Unit = synchronized {
    span match {
      case Some(s) =>
        jobSpan(jobId) = s
        jobStartMs(jobId) = timeMs.toDouble
        of(s).jobs += 1
        stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = s)
      case None => unattributedJobs += 1
    }
  }

  def jobEnd(jobId: Int, timeMs: Long): Unit = synchronized {
    if (jobSpan.contains(jobId)) jobEndMs(jobId) = timeMs.toDouble
  }

  def stageCompleted(stageId: Int, numTasks: Int): Unit = synchronized {
    stageSpan.get(stageId).foreach { s =>
      val c = of(s)
      c.stages += 1
      if (numTasks == 1) c.singleTaskStages += 1
    }
  }

  def taskEnd(stageId: Int, cpuNs: Long, shuffleBytes: Long, inputBytes: Long,
              inputRecords: Long, outputBytes: Long, outputRecords: Long): Unit = synchronized {
    stageSpan.get(stageId).foreach { s =>
      val c = of(s)
      c.tasks += 1
      c.cpuNs += cpuNs
      c.shuffleBytes += shuffleBytes
      c.inputBytes += inputBytes
      c.inputRecords += inputRecords
      c.outputBytes += outputBytes
      c.outputRecords += outputRecords
    }
  }

  /** The [start, end) of every finished job attributed to `span`. */
  def jobIntervals(span: Int): Seq[(Double, Double)] = synchronized {
    jobSpan.collect { case (j, s) if s == span && jobEndMs.contains(j) => (jobStartMs(j), jobEndMs(j)) }.toSeq
  }
}

/** Feeds Spark's listener events into an [[Accounting]]. */
final class SpanListener(acc: Accounting) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanTracer.Property))).map(_.toInt)
    acc.jobStart(e.jobId, e.time, span, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = acc.jobEnd(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc.stageCompleted(e.stageInfo.stageId, e.stageInfo.numTasks)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      acc.taskEnd(e.stageId, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }
}

/** The traced tracer: a span tree kept in memory, with Spark work
  * attributed to the innermost open span through a local property. */
final class SpanTracer(sc: SparkContext) extends Tracer {
  val acc = new Accounting
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = new SpanListener(acc)

  def start(): Unit = { SparkBus.drain(sc); sc.addSparkListener(listener) }
  def stop(): Unit = { SparkBus.drain(sc); sc.removeSparkListener(listener) }

  // epoch ms (the clock of Spark's job events) at nanoTime resolution,
  // so that driver-only spans shorter than a millisecond still measure
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), nowMs)
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanTracer.Property, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      open = open.tail
      sc.setLocalProperty(SpanTracer.Property, open.headOption.map(_.id.toString).orNull)
      SparkBus.drain(sc) // this span's job events are in before it is read
    }
  }

  def layer(name: String)(body: => DataFrame): DataFrame =
    span(name)(body.localCheckpoint(eager = true))

  val units = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def count(key: String, n: Long): Unit = units(key) += n
}

object SpanTracer {
  val Property = "perfbench.span"

  /** Per-span figures derived from the span tree and the accounting. */
  final case class SpanFigures(span: Span, selfMs: Double, driverMs: Double, c: SpanCounters)

  /** Self time = duration minus the part its child spans cover; driver
    * time = self time not covered by the span's own jobs either. */
  def figures(spans: Seq[Span], acc: Accounting): Seq[SpanFigures] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(_.interval)
      val dur = s.endMs - s.startMs
      val selfMs = dur - Intervals.coveredLength(kids, s.interval)
      val driverMs = dur - Intervals.coveredLength(kids ++ acc.jobIntervals(s.id), s.interval)
      SpanFigures(s, selfMs, driverMs, acc.counters.getOrElse(s.id, new SpanCounters))
    }
  }
}
