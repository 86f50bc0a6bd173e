package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/**
 * Spans around the benchmark's calls into the program, plus the Spark
 * work done inside each. Jobs are attributed to a span by a local
 * property set while the span is open (Spark copies it to every job the
 * thread submits, including AQE query stages and broadcast builds), so
 * the listener's counts belong to exactly one span. A span closes only
 * after the listener bus has drained, never after a fixed sleep.
 */
object Trace {
  val SpanKey = "perfbench.span"

  /** Σ over the tasks of one span's jobs. */
  final class Counts {
    var jobs = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

    /** Max over median task time of the span's heaviest stage (by Σ
      * task time); 1.0 when no stage ran more than one task. */
    def taskSkew: Double =
      stageTaskMs.values.filter(_.length > 1).maxByOption(_.sum) match {
        case None => 1.0
        case Some(ts) =>
          val s = ts.sorted
          val med = Stats.median(s.map(_.toDouble).toSeq)
          s.last / math.max(med, 1.0)
      }
  }

  final class Listener extends SparkListener {
    private val byTag = mutable.HashMap.empty[String, Counts]
    private val stageTag = mutable.HashMap.empty[Int, String]

    def take(tag: String): Counts = synchronized(byTag.remove(tag).getOrElse(new Counts))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { tag =>
        byTag.getOrElseUpdate(tag, new Counts).jobs += 1
        e.stageIds.foreach(stageTag(_) = tag)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = byTag.getOrElseUpdate(tag, new Counts)
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  final case class Span(name: String, parent: String, runId: String,
                        startNs: Long, endNs: Long, counts: Counts,
                        var rowsOut: Long = -1L) {
    def wallS: Double = (endNs - startNs) / 1e9
  }
}

/** One traced run: its spans, in the order they closed, all children
  * of the run's root span. */
final class Tracer(sc: SparkContext, listener: Trace.Listener,
                   val runId: String, val root: String) {
  import Trace._
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var rows = -1L

  /** Output row count of the open span, read off the body's own
    * materialisation (no extra job). */
  def out(n: Long): Unit = rows = n

  /** Times `body` as span `name`. The listener's counts are taken once
    * the bus has drained, after the span's end time is read. */
  def span[T](name: String)(body: => T): T = {
    val tag = s"$runId/${spans.length}/$name"
    sc.setLocalProperty(SpanKey, tag)
    rows = -1L
    val t0 = System.nanoTime()
    val res = try body finally sc.setLocalProperty(SpanKey, null)
    val t1 = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(sc)
    spans += Span(name, root, runId, t0, t1, listener.take(tag), rows)
    res
  }
}
