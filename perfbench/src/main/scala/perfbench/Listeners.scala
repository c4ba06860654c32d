package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records every progress event of every streaming query, from outside the
  * program, through Spark's public listener interface. */
final class ProgressLog extends StreamingQueryListener {
  import ProgressLog.Entry

  private val byQuery = mutable.Map[String, mutable.ArrayBuffer[Entry]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators.toVector
    val entry = Entry(p.runId.toString, p.batchId, Instant.parse(p.timestamp).toEpochMilli,
      d, p.numInputRows,
      st.map(_.numRowsTotal).sum, st.map(_.numRowsUpdated).sum,
      st.map(_.allUpdatesTimeMs).sum, st.map(_.commitTimeMs).sum,
      st.map(_.memoryUsedBytes).sum)
    synchronized(byQuery.getOrElseUpdate(p.name, mutable.ArrayBuffer()) += entry)
  }

  /** Progress of query `name` in run `runId` (one start of the query). */
  def entries(name: String, runId: String): Vector[Entry] =
    synchronized(byQuery.get(name).map(_.filter(_.runId == runId).toVector).getOrElse(Vector.empty))

  /** Wait until the event of `batchId` of that run has been delivered. */
  def awaitBatch(name: String, runId: String, batchId: Long, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!entries(name, runId).exists(_.batchId >= batchId)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"no progress event for $name batch $batchId")
      Thread.sleep(5)
    }
  }
}

object ProgressLog {
  final case class Entry(runId: String, batchId: Long, startMs: Long,
      durationMs: Map[String, Long], rows: Long, stateRowsTotal: Long,
      stateRowsUpdated: Long, stateUpdateMs: Long, stateCommitMs: Long,
      stateMemoryBytes: Long) {
    def phase(k: String): Long = durationMs.getOrElse(k, 0L)
    def trigger: Stats.Trigger = Stats.Trigger(startMs, phase("triggerExecution"), rows)
  }
}

/** Executor-side totals from Spark's listener bus: jobs, stages, tasks and
  * their metrics. In a traced run it also records job and stage spans: a
  * job's cause is the span its description names ([[Trace.causeOfJob]]), a
  * stage's is its job. */
final class SparkStats extends SparkListener {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** Per running job: its span id, its cause and its start time. */
  private val jobSpan = mutable.Map[Int, (Long, Long, Double)]()
  private val stageSpanCause = mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    val id = Trace.newId()
    jobSpan(e.jobId) = (id, desc.map(Trace.causeOfJob).getOrElse(Trace.NoCause), e.time.toDouble)
    e.stageIds.foreach(s => stageSpanCause(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, cause, start) =>
      Trace.record(id, "spark.job", start, e.time.toDouble, cause)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val info = e.stageInfo
    for (s <- info.submissionTime; c <- info.completionTime)
      Trace.record(Trace.keyedId(Trace.stageKey(info.stageId, info.attemptNumber)),
        "spark.stage", s.toDouble, c.toDouble,
        stageSpanCause.remove(info.stageId).getOrElse(Trace.NoCause))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  /** Median over stages with at least two tasks of (slowest task / median task). */
  def taskSkew: Double = synchronized {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }.toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}
