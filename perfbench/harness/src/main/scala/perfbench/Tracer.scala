package perfbench

import org.apache.spark.scheduler._

/** Work Spark did inside one span. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var widestStage = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
}

/** One timed span: its name, its wall time, and the work Spark attributed
  * to it. Spans are kept in memory and written out when the run ends. */
final case class Span(name: String, seconds: Double, counts: Counts)

/** Span bookkeeping shared by the harness and the listener. A span is
  * open while its body runs; every Spark event the listener sees in that
  * time is added to it. The harness drains the listener bus before it
  * closes a span, so no event lands in the next one. */
object Trace {
  @volatile private var open: Counts = null
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  def current: Counts = open

  /** Runs `body` as a span. `drain` flushes the listener bus of the
    * session the body used; pass a no-op when that session stopped
    * itself (stopping drains the bus). */
  def span[T](name: String, drain: () => Unit)(body: => T): T = {
    val c = new Counts
    open = c
    val t0 = System.nanoTime()
    try {
      val r = body
      drain()
      r
    } finally {
      val dt = (System.nanoTime() - t0) / 1e9
      open = null
      spans += Span(name, dt, c)
    }
  }
}

/** Registered through `spark.extraListeners` in traced runs only. */
class Tracer extends SparkListener {
  private def at(f: Counts => Unit): Unit = {
    val c = Trace.current
    if (c != null) c.synchronized(f(c))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = at(_.jobs += 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = at { c =>
    c.stages += 1
    c.widestStage = math.max(c.widestStage, e.stageInfo.numTasks.toLong)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = at { c =>
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }
}
