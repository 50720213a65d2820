package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw, kept in memory until the run ends.  Times are
  * epoch milliseconds, as Spark stamps its events. */
final case class JobRec(id: Int, group: Option[String], start: Long, end: Long,
    stages: Seq[Int])
final case class TaskRec(stage: Int, runMs: Long, gcMs: Long,
    shuffleWriteRecords: Long, shuffleWriteBytes: Long,
    shuffleReadRecords: Long, shuffleReadBytes: Long,
    spillBytes: Long, inputRecords: Long, accums: Map[Long, Long])
final case class QueryRec(analysisStart: Long, phasesMs: Map[String, Long],
    graftRulesNs: Long)
final case class ProgressRec(timestamp: Long, durationMs: Map[String, Long])

/** The benchmark's three listeners: Spark jobs and tasks, Catalyst planning
  * phases per executed query, and Structured Streaming progress. */
final class Tracer {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStarts.put(e.jobId, JobRec(e.jobId, group, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val accums = e.taskInfo.accumulables.iterator.flatMap { a =>
          a.update match {
            case Some(v: Long) => Some(a.id -> v)
            case _ => None
          }
        }.toMap
        tasks.add(TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.inputMetrics.recordsRead, accums))
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val start = phases.get("analysis").map(_.startTimeMs)
        .getOrElse(System.currentTimeMillis())
      val graftNs = qe.tracker.rules.iterator
        .collect { case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs }.sum
      queries.add(QueryRec(start, phases.map { case (k, v) => k -> v.durationMs }, graftNs))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Stage id → job id, over the jobs seen so far. */
  def stageToJob: Map[Int, Int] =
    jobs.asScala.iterator.flatMap(j => j.stages.map(_ -> j.id)).toMap
}
