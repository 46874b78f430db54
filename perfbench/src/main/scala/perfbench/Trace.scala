package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Listener counters of one op: every job submitted while the op's id
  * was the submitting thread's `perfbench.op` local property. */
final class OpCounters {
  var jobs, stages, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
}

/** The traced run's own SparkListener: attributes jobs, stages and
  * task metrics to the op that submitted them. Events arrive on the
  * listener bus thread; the run drains the bus before reading. */
final class OpListener extends SparkListener {
  val byOp = new ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()

  private def of(op: Int) = byOp.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key)))
      .map(_.toInt).getOrElse(-1)
    of(op).jobs += 1
    e.stageInfos.foreach(s => stageOp.putIfAbsent(s.stageId, op))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageOp.getOrDefault(e.stageInfo.stageId, -1)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageOp.getOrDefault(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object OpListener { val Key = "perfbench.op" }

/** One timed call into a layer. `parent` is the enclosing span's index
  * (-1 for an op's root span); times are nanoTime offsets. */
final case class Span(name: String, op: Int, parent: Int, start: Long, end: Long)

/** In-memory span recorder, written out once at exit. Spans are
  * recorded only while `on` (the traced copies of a traced run), so
  * untraced ops pay nothing for it. */
final class Tracer(t0: Long) {
  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String, op: Int)(f: => T): T =
    if (!on) f
    else {
      val idx = spans.size
      spans += Span(name, op, open.headOption.getOrElse(-1), System.nanoTime() - t0, -1L)
      open = idx :: open
      try f
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime() - t0)
      }
    }
}
