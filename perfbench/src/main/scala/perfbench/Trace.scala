package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One Spark job as seen by [[JobListener]]. */
final class JobRec(val start: Long, val module: String, val span: String,
                   val phase: String, val stageIds: Seq[Int]) {
  var end: Long = -1L
  var tasks = 0
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  def wallMs(now: Long): Long = (if (end < 0) now else end) - start
}

/** Call-site attribution of jobs to repository modules.
  *
  * A job belongs to the module of the FIRST `graft.<module>.` frame of
  * its long call site (innermost library frame that triggered the
  * action), never to a file name: `Profile.scala` exists in both `ops`
  * and `tools`. Jobs started on helper threads (broadcast builds) carry
  * no library frame of their own; they inherit the call site of the SQL
  * execution that spawned them. Whatever is left is `unattributed`.
  */
object Attribution {
  private val Frame = """(?m)(?:^|[\s/])graft\.([a-z][a-z0-9_]*)\.[A-Z]""".r

  def moduleOf(callSite: String): Option[String] =
    Option(callSite).flatMap(s => Frame.findFirstMatchIn(s).map(_.group(1)))

  val Unattributed = "unattributed"
}

/** Collects per-job counters for the traced run. Every job is tagged
  * with the benchmark span active on the calling thread (the
  * `perfbench.span` local property, which Spark copies onto helper
  * threads) and with the run phase (`run` for the timed body, `check`
  * for the benchmark's own verification jobs).
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val execModule = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      Attribution.moduleOf(e.details).foreach(m => synchronized { execModule(e.executionId) = m })
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = if (js.stageInfos.isEmpty) None
      else Attribution.moduleOf(js.stageInfos.maxBy(_.stageId).details)
    val fromExec = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(prop).flatMap(id => scala.util.Try(id.toLong).toOption)
      .flatMap(execModule.get).headOption
    val rec = new JobRec(js.time,
      site.orElse(fromExec).getOrElse(Attribution.Unattributed),
      prop(Tracer.SpanKey).getOrElse(""), prop(Tracer.PhaseKey).getOrElse(""), js.stageIds)
    jobs(js.jobId) = rec
    js.stageIds.foreach(s => stageJob(s) = rec)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    stageJob.get(te.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.executorRunMs += m.executorRunTime
        j.executorCpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
      if (te.taskInfo != null)
        stageTaskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += te.taskInfo.duration
    }
  }

  /** Drain the listener bus, then hand back (and forget) everything
    * recorded since the last call.
    */
  def take(sc: SparkContext): (Seq[JobRec], Map[Int, Seq[Long]]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = (jobs.values.toSeq, stageTaskMs.map { case (k, v) => k -> v.toSeq }.toMap)
      jobs.clear(); stageJob.clear(); stageTaskMs.clear(); execModule.clear()
      out
    }
  }
}

/** Spans the benchmark records around its own calls into the library.
  * Untraced, a span is a plain call; traced, it tags the calling
  * thread's jobs and records its wall time.
  */
final class Tracer(val sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans(name) = spans.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  def phase(p: String): Unit = if (enabled) sc.setLocalProperty(Tracer.PhaseKey, p)

  def takeSpans(): Map[String, Double] = { val s = spans.toMap; spans.clear(); s }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
  /** Phase of a run's timed part; other jobs (checks, direct calls) are
    * kept out of the per-run numbers.
    */
  val RunPhase = "run"
  val CheckPhase = "check"
}
