package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Counters of one traced execution (an op, or a kernel probe), filled
  * from Spark's listener events. */
final class Counters {
  var jobs, stages, tasks, failedTasks, smallTasks = 0L
  var taskMs, cpuNs, gcMs, inBytes, inRows = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var batches, batchMs, stateMs = 0L
  /** (job id, start epoch ms, end epoch ms or -1 while running) */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** The traced run's `exec` and `streaming` layers, measured from Spark's
  * public listener events. Each job is attributed to the execution id in
  * the `perfbench.exec` local property of the thread that started it;
  * jobs started on threads that lack it (streaming micro-batches) fall
  * back to the execution running when they started. */
final class Trace(smallTaskMs: Long) {
  @volatile var current: String = null
  val byExec = mutable.LinkedHashMap.empty[String, Counters]
  private val stageExec = mutable.HashMap.empty[Int, String]
  private val jobExec = mutable.HashMap.empty[Int, String]
  private val streamExec = mutable.HashMap.empty[java.util.UUID, String]
  @volatile private var lastEventNs = System.nanoTime()

  private def counters(id: String): Counters =
    byExec.getOrElseUpdate(id, new Counters)

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      lastEventNs = System.nanoTime()
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key)))
        .getOrElse(current)
      if (id != null) {
        jobExec(e.jobId) = id
        e.stageIds.foreach(stageExec(_) = id)
        val c = counters(id)
        c.jobs += 1
        c.jobSpans += ((e.jobId, e.time, -1L))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      lastEventNs = System.nanoTime()
      jobExec.remove(e.jobId).foreach { id =>
        val spans = counters(id).jobSpans
        val i = spans.indexWhere(_._1 == e.jobId)
        if (i >= 0) spans(i) = spans(i).copy(_3 = e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        lastEventNs = System.nanoTime()
        stageExec.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      lastEventNs = System.nanoTime()
      stageExec.get(e.stageId).foreach { id =>
        val c = counters(id)
        c.tasks += 1
        if (e.reason != org.apache.spark.Success) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          if (m.executorRunTime < smallTaskMs) c.smallTasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inBytes += m.inputMetrics.bytesRead
          c.inRows += m.inputMetrics.recordsRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = Trace.this.synchronized {
      if (current != null) streamExec(e.id) = current
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.this.synchronized {
      lastEventNs = System.nanoTime()
      val p = e.progress
      Option(streamExec.getOrElse(p.id, current)).foreach { id =>
        val c = counters(id)
        c.batches += 1
        c.batchMs += p.batchDuration
        c.stateMs += p.stateOperators.map(s =>
          s.allUpdatesTimeMs + s.allRemovalsTimeMs + s.commitTimeMs).sum
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Waits (at most `capMs`) until every attributed job has ended and
    * the listener bus has been quiet for 200 ms, so the counters are
    * complete before they are read. */
  def drain(capMs: Long = 10000L): Unit = {
    val t0 = System.nanoTime()
    def settled = synchronized(jobExec.isEmpty) &&
      System.nanoTime() - lastEventNs > 200L * 1000 * 1000
    while (!settled && System.nanoTime() - t0 < capMs * 1000L * 1000) Thread.sleep(20)
  }

  def snapshot(id: String): Option[Counters] = synchronized(byExec.get(id))
}

object Trace {
  val Key = "perfbench.exec"
}

/** One recorded span: a layer call inside one op execution. Times are
  * epoch microseconds so that spans from Spark events (epoch ms) and
  * from the benchmark's own clock share an axis. */
final case class Span(exec: String, name: String, parent: String,
    startUs: Long, endUs: Long)
