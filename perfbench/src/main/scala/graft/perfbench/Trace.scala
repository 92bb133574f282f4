package graft.perfbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into graft's public functions.
  *
  * One client thread drives the closed loop, so the open spans form a
  * stack. Opening a span sets the `perfbench.span` local property on the
  * SparkContext; Spark copies it into every job the thread submits, which
  * is how [[JobListener]] charges each job to its span. Spans stay in
  * memory and are written out after the timed phase.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  /** Per-deck switch: the traced run alternates traced and untraced
    * decks so it can report its own overhead. */
  @volatile var on: Boolean = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opIndex = -1

  def beginOp(i: Int): Unit = opIndex = i

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), opIndex,
        layer, name, System.nanoTime(), 0L, fsBytesWritten())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.t1 = System.nanoTime()
        s.bytesWritten = fsBytesWritten() - s.bytesWritten
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** `bytesWritten` holds the file-system counter at open until the span
    * closes, then the bytes written while it was open. */
  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                        t0: Long, var t1: Long, var bytesWritten: Long)

  private def localFs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")

  /** Bytes written through Hadoop's local file system, by the driver and
    * the executors together (one JVM in local mode). */
  def fsBytesWritten(): Long = localFs.map(_.getBytesWritten).sum
}

/** Collects every Spark job submitted under a span, with its tasks'
  * metrics summed. Jobs without the span property are ignored. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Int, val t0: Long) {
    var t1 = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).foreach { s =>
      val j = new Job(e.jobId, s.toInt, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      j.inputBytes += m.inputMetrics.bytesRead
    }
  }
}
