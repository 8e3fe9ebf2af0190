package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A span the benchmark records around one of its calls into a layer.
  * Spans of one request share `req`; `parent` names the enclosing span.
  */
final case class Span(req: String, name: String, parent: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one job group (one phase of one request). */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var schedDelayMs = 0.0; var runMs = 0.0; var cpuNs = 0.0
  var taskWallMs = 0.0
  var bytesRead = 0L; var recordsRead = 0L
  var shuffleWritten = 0L; var fetchWaitMs = 0L; var spilled = 0L
  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    schedDelayMs += o.schedDelayMs; runMs += o.runMs; cpuNs += o.cpuNs
    taskWallMs += o.taskWallMs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    shuffleWritten += o.shuffleWritten; fetchWaitMs += o.fetchWaitMs
    spilled += o.spilled
    this
  }
}

/** In-memory trace: spans plus Spark listener metrics folded by job
  * group. The benchmark tags each request phase with
  * `setJobGroup("<request>/<phase>")`, so jobs, stages and tasks are
  * attributed to the span that caused them. Nothing is written until
  * the run ends.
  */
final class Tracer extends SparkListener {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val work = new ConcurrentHashMap[String, Work]()

  def span[T](req: String, name: String, parent: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally spans.add(Span(req, name, parent, t0, System.nanoTime()))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  private def of(group: String): Work = work.computeIfAbsent(group, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).synchronized { of(g).jobs += 1; of(g).stages += e.stageIds.length }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "-")
    val m = e.taskMetrics
    if (m == null) return
    val i = e.taskInfo
    val w = of(g)
    w.synchronized {
      w.tasks += 1
      val wall = (i.finishTime - i.launchTime).toDouble
      w.taskWallMs += wall
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.schedDelayMs += math.max(0.0, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      w.bytesRead += m.inputMetrics.bytesRead
      w.recordsRead += m.inputMetrics.recordsRead
      w.shuffleWritten += m.shuffleWriteMetrics.bytesWritten
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.spilled += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Work of every group whose name satisfies `p`, summed. */
  def workWhere(p: String => Boolean): Work =
    work.asScala.filter(kv => p(kv._1)).values.foldLeft(new Work)(_ add _)
}

object Trace {
  /** Total JVM GC milliseconds so far (every collector). */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
