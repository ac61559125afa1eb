package bench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** A timed interval on the driver clock, in epoch milliseconds.
  * `parent` is the id of the enclosing span (-1 for a root), `group`
  * the Spark job group set while the span ran ("" when none).
  */
final case class Span(id: Int, parent: Int, name: String, group: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Interval arithmetic behind the per-layer numbers. */
object Intervals {

  /** Length of the union of `ivs`, each clipped to `[lo, hi)`. */
  def unionWithin(ivs: Seq[(Double, Double)], lo: Double,
                  hi: Double): Double = {
    val clipped = ivs
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that `children` cover (overlapping children count once).
    */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.durMs - unionWithin(children.map(c => (c.startMs, c.endMs)),
      span.startMs, span.endMs)
}

/** Spans kept in memory; written out once, when the run ends. */
final class Tracer(sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def all: Seq[Span] = spans.toSeq

  /** Run `f` inside a span. With `group`, Spark jobs launched by `f`
    * carry that job group, so the listener can attribute them.
    */
  def span[A](name: String, parent: Int, group: String = "")
             (f: Int => A): A = {
    val id = nextId
    nextId += 1
    if (group.nonEmpty) sc.setJobGroup(group, name)
    val s = nowMs
    try f(id)
    finally {
      val e = nowMs
      if (group.nonEmpty) sc.clearJobGroup()
      spans += Span(id, parent, name, group, s, e)
    }
  }
}

/** Per-job-group counters from the Spark listener bus. */
final class GroupCounters {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var recordsRead = 0L
  val jobSpans = ArrayBuffer.empty[(Double, Double)]
}

/** Listener that attributes every job and completed stage to the job
  * group set when the job was submitted.
  */
final class GroupListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def counters(g: String): GroupCounters =
    byGroup.computeIfAbsent(g, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val c = counters(g)
      c.synchronized {
        c.jobs += 1
        c.jobSpans += ((t0.toDouble, e.time.toDouble))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = Option(stageGroup.get(info.stageId)).getOrElse("")
    val c = counters(g)
    val tm = info.taskMetrics
    c.synchronized {
      c.tasks += info.numTasks
      if (tm != null) {
        c.cpuNs += tm.executorCpuTime
        c.gcMs += tm.jvmGCTime
        c.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
        c.recordsRead += tm.inputMetrics.recordsRead
      }
    }
  }

  def group(g: String): GroupCounters =
    Option(byGroup.get(g)).getOrElse(new GroupCounters)

  def groups: Map[String, GroupCounters] = byGroup.asScala.toMap
}
