package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished span: a named call into an engine layer. `extra`
  * holds the span's own counters (files_frac, admit_frac, out_bytes). */
final case class SpanRec(name: String, startMs: Double, endMs: Double,
    extra: mutable.Map[String, Double] = mutable.Map.empty)

/** One Spark job, attributed to the span whose name was the job's
  * thread-local property when the job was submitted. */
final class JobRec(val span: String, val startMs: Double) {
  var endMs: Double = startMs
  var tasks = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var shuffleBytes = 0L
  var outBytes = 0L
  var spillBytes = 0L
}

/** Collects per-job task counts, executor CPU and IO bytes. Listener
  * events arrive on Spark's bus thread, hence the locking. */
final class SpanListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Key))).getOrElse("")
    jobs(e.jobId) = new JobRec(span, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid);
         m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.inBytes += m.inputMetrics.bytesRead
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.outBytes += m.outputMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Spans around the benchmark's calls into engine layers. With tracing
  * off, `span` only runs its body: no listener, no local property. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms at sub-ms resolution, comparable with the
    * scheduler's job timestamps. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  val spans = mutable.ArrayBuffer[SpanRec]()
  val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, name)
      val start = nowMs
      try {
        val r = body
        spans += SpanRec(name, start, nowMs)
        r
      } finally sc.setLocalProperty(Tracer.Key, prev)
    }

  /** The most recent span, to attach counters to (None untraced). */
  def last: Option[SpanRec] = spans.lastOption

  /** The spans and jobs, once every listener event has been handled. */
  def export(): (Seq[SpanRec], Seq[JobRec]) = {
    if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
    (spans.toSeq, listener.synchronized(listener.jobs.values.toSeq))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
