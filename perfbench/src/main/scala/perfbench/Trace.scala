package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counts attributed to one span. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var taskResultBytes = 0L
  var executorBusyMs = 0L
  val taskMs = ArrayBuffer.empty[Long]

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; taskResultBytes += o.taskResultBytes
    executorBusyMs += o.executorBusyMs; taskMs ++= o.taskMs
  }

  /** Max task time over median task time; 1.0 when there are no tasks. */
  def taskSkew: Double = {
    val med = Stats.median(taskMs.map(_.toDouble).toSeq)
    if (taskMs.isEmpty || med <= 0) 1.0 else taskMs.max / med
  }
}

final case class Span(id: Int, traceId: String, name: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

object Trace {

  /** Local property that carries the open span id into job-start events. */
  val SpanProperty = "perfbench.span"

  /** Self time: the span's duration minus the part of its interval that
    * its children cover. Children may overlap each other or stick out of
    * the parent; only the covered part of [start, end) counts once.
    */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}

/** In-memory span recorder. Disabled, `span` only runs its body. Enabled,
  * it records (name, start, end, parent, trace id) and tags the Spark jobs
  * started inside the span so the listener can attribute their counts.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext, val traceId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T = {
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProperty,
          stack.headOption.map(_.toString).orNull)
        done += Span(id, traceId, name, parent, t0, t1)
      }
    }
  }

  /** Self time of every recorded span, by span id. */
  def selfTimes: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map { s =>
      s.id -> Trace.selfNs(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq)
    }.toMap
  }
}

/** Counts jobs, stages and tasks per span id from Spark's listener bus. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counts = new ConcurrentHashMap[Int, SparkCounts]()

  private def of(span: Int): SparkCounts =
    counts.computeIfAbsent(span, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Trace.SpanProperty)))
    val span = p.map(_.toInt).getOrElse(0)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    of(span).synchronized(of(span).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, 0))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      if (m != null) {
        c.executorBusyMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.taskResultBytes += m.resultSize
      }
    }
  }

  /** Counts of one span (empty if no job ran inside it). */
  def get(span: Int): SparkCounts = Option(counts.get(span)).getOrElse(new SparkCounts)
}
