package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Spark work attributed to one span: only the jobs submitted while that span
  * was the innermost open one (its "self" work). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Listener that files every job, and the task metrics of its stages, under
  * the span that was innermost when the job started. Listener events arrive
  * asynchronously, so [[Tracer]] drains the bus at every span boundary: all
  * events of a span are then handled while that span is still current. */
final class LayerListener extends SparkListener {
  @volatile var current: Int = -1
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val work = mutable.HashMap.empty[Int, Work]

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = current
    workOf(span).jobs += 1
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val w = workOf(stageSpan.getOrElse(e.stageInfo.stageId, current))
    w.tasks += e.stageInfo.numTasks
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      w.outputBytes += m.outputMetrics.bytesWritten
      w.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

/** In-memory span recorder for the traced run. Spans are kept until the end
  * of the run and written out then; a disabled tracer only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new LayerListener
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  if (enabled) sc.addSparkListener(listener)

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      listener.current = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        stack = stack.tail
        listener.current = stack.headOption.getOrElse(-1)
        spans += Span(id, name, parent, op, t0, t1)
      }
    }

  // read only once the run is over and every span is recorded
  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Span duration minus the part of it that child spans cover (children of
    * one span run one after another, so their durations add up). */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Spark work of a span and all spans below it. */
  def subtreeWork(s: Span): Work = {
    val w = new Work
    listener.synchronized(listener.work.get(s.id).foreach(w.add))
    children.getOrElse(s.id, Nil).foreach(c => w.add(subtreeWork(c)))
    w
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      val w = subtreeWork(s)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"seconds":${s.seconds}%.6f,""" +
        f""""self_seconds":${selfSeconds(s)}%.6f,"jobs":${w.jobs},"tasks":${w.tasks},""" +
        f""""cpu_s":${w.cpuNs / 1e9}%.6f,"input_bytes":${w.inputBytes},""" +
        f""""shuffle_write_bytes":${w.shuffleWriteBytes},"output_bytes":${w.outputBytes},""" +
        f""""output_records":${w.outputRecords}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
