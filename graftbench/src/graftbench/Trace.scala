package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. A span is (id, name, start, end, parent,
  * op): `op` is the timed operation the span belongs to, so the spans
  * of one probe or one iteration share an identifier. Spans are kept in
  * memory and written out once, when the run ends.
  *
  * While a span is open it is the Spark job group of the calling thread
  * (inherited by the pool threads the program starts for concurrent
  * jobs), so [[SparkCounts]] can attribute jobs and tasks to the
  * innermost span that caused them. With tracing off, `span` only runs
  * its body, and so does a muted recorder (the warm-up passes).
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  case class Span(id: Int, name: String, startNs: Long, var endNs: Long,
                  parent: Int, op: Int)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var currentOp = -1
  /** While set, spans are not recorded and jobs get no span's group. */
  var muted = false
  val counts = new SparkCounts
  if (enabled) sc.addSparkListener(counts)

  /** Opens a new operation id; spans opened until the next call share it. */
  def op(): Unit = currentOp += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled || muted) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, System.nanoTime(), -1L, parent, currentOp)
      spans += s
      stack.push(s)
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def toJson: String = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      val c = counts.bySpan.getOrElse(s"span-${s.id}", new SparkCounts.Acc)
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs - t0},""" +
        s""""end_ns":${s.endNs - t0},"parent":${s.parent},"op":${s.op},""" +
        s""""spark":${c.toJson}}"""
    }.mkString("[", ",\n", "]")
  }
}

object SparkCounts {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    /** (submit, end) wall-clock ms of each job, for the driver gap. */
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def toJson: String =
      s"""{"jobs":$jobs,"tasks":$tasks,"task_cpu_ns":$taskCpuNs,"gc_ms":$gcMs,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""input_bytes":$inputBytes,"output_bytes":$outputBytes,""" +
        s""""job_ms":[${jobIntervals.map { case (a, b) => s"[$a,$b]" }.mkString(",")}]}"""
  }
}

/** Per-job-group Spark counters: jobs, tasks, task CPU and GC time,
  * shuffle and spill bytes, bytes read and written, and each job's
  * wall-clock interval (epoch ms) so the driver gap of a span — its
  * wall time not covered by any running job — can be computed.
  */
final class SparkCounts extends SparkListener {
  import SparkCounts.Acc
  val bySpan = mutable.HashMap.empty[String, Acc]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def acc(g: String) = bySpan.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    val a = acc(g)
    a.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "none")
    acc(g).jobIntervals += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskCpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
