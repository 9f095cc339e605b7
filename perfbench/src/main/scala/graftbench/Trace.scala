package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call at a layer boundary. `parent` is the span that was open when
  * this one started (0 for none); `req` is the request id: the batch or
  * read index the call served.
  */
final class Span(val id: Long, val parent: Long, val name: String,
                 val layer: String, val req: Long, val startNs: Long) {
  var endNs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
}

/** Per-call figures derived from a span and the Spark work charged to it. */
final case class CallStats(span: Span, wallS: Double, selfS: Double,
                           jobs: Int, jobS: Double, driverS: Double,
                           taskS: Double, shuffleWriteMb: Double,
                           spillMb: Double, gcS: Double, inputMb: Double,
                           outputMb: Double) {
  def quantity(q: String): Double = q match {
    case "wall_s" => wallS
    case "self_s" => selfS
    case "jobs" => jobs.toDouble
    case "job_s" => jobS
    case "driver_s" => driverS
    case "task_s" => taskS
    case "shuffle_write_mb" => shuffleWriteMb
    case "spill_mb" => spillMb
    case "gc_s" => gcS
    case "input_mb" => inputMb
    case "output_mb" => outputMb
    case other => span.counters.getOrElse(other, 0.0)
  }
}

/** Spark-side record of the work launched under each span: jobs with their
  * intervals, and task metrics summed per stage. Every job and stage is
  * charged to the span named by the `graftbench.span` local property of
  * the thread that launched it.
  */
private final class WorkListener extends SparkListener {
  final class StageSum {
    var runMs = 0L; var shuffleWrite = 0L; var spill = 0L
    var gcMs = 0L; var input = 0L; var output = 0L
  }
  val jobSpan = mutable.HashMap[Int, Long]()
  val jobStart = mutable.HashMap[Int, Long]()
  val jobEnd = mutable.HashMap[Int, Long]()
  val stageSpan = mutable.HashMap[Int, Long]()
  val stageSums = mutable.HashMap[Int, StageSum]()

  private def tag(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong)
      .getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobSpan(e.jobId) = tag(e.properties)
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.getOrElseUpdate(e.stageInfo.stageId, tag(e.properties))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stageSums.getOrElseUpdate(e.stageId, new StageSum)
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }
  }
}

/** Spans kept in memory and resolved once, after the listener bus is
  * drained. With `enabled = false` a call runs its body and records
  * nothing, so untraced runs carry no listener and no span bookkeeping.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var lastClosed: Span = _
  /** Calls into the engine made through this tracer, traced or not. */
  var calls = 0L
  private val listener = new WorkListener
  // job times are epoch milliseconds; span times are nanoTime
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  if (enabled) sc.addSparkListener(listener)

  def call[T](name: String, layer: String, req: Long = -1L)(body: => T): T = {
    calls += 1
    if (!enabled) body
    else {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name,
        layer, req, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
        lastClosed = s
      }
    }
  }

  /** Attach a count to the span that closed most recently. */
  def note(key: String, value: Double): Unit =
    if (enabled && lastClosed != null) lastClosed.counters(key) = value

  private def toMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  private def unionLen(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total
  }

  /** Drain the listener bus, then resolve every closed span. */
  def resolve(): Seq[CallStats] = {
    if (!enabled) return Seq.empty
    org.apache.spark.graftbench.BusDrain(sc)
    listener.synchronized {
      val children = spans.groupBy(_.parent)
      val jobsBySpan = listener.jobSpan.toSeq.groupBy(_._2)
        .map { case (s, js) => s -> js.map(_._1) }
      val stagesBySpan = listener.stageSpan.toSeq.groupBy(_._2)
        .map { case (s, ss) => s -> ss.map(_._1) }
      spans.toSeq.filter(_.endNs >= 0).map { s =>
        val lo = toMs(s.startNs)
        val hi = toMs(s.endNs)
        val wallMs = hi - lo
        val kids = children.getOrElse(s.id, Seq.empty).toSeq
          .map(k => (toMs(k.startNs), toMs(k.endNs)))
        val selfMs = wallMs - unionLen(kids, lo, hi)
        val own = jobsBySpan.getOrElse(s.id, Seq.empty)
        val ivs = own.toSeq.flatMap(j => for {
          a <- listener.jobStart.get(j); b <- listener.jobEnd.get(j)
        } yield (a.toDouble, b.toDouble))
        val jobMs = unionLen(ivs, lo, hi)
        val sums = stagesBySpan.getOrElse(s.id, Seq.empty).flatMap(listener.stageSums.get)
        def mb(f: listener.StageSum => Long): Double = sums.map(f).sum / 1048576.0
        CallStats(s, wallMs / 1e3, selfMs / 1e3, own.size, jobMs / 1e3,
          math.max(0.0, selfMs - jobMs) / 1e3,
          sums.map(_.runMs).sum / 1e3, mb(_.shuffleWrite), mb(_.spill),
          sums.map(_.gcMs).sum / 1e3, mb(_.input), mb(_.output))
      }
    }
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "graftbench.span"
}
