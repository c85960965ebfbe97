package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans collected from outside the engine by public listeners. The
  * listeners are registered through session config only in traced runs;
  * everything is held in memory and read once the run has finished. */
object Trace {
  final case class Job(id: Int, group: String, start: Long, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, taskMs: Long, shuffleBytes: Long)
  /** One Catalyst action: its planning phases as (name, startMs, endMs). */
  final case class Action(phases: Seq[(String, Long, Long)])
  final case class Batch(batchId: Long, startMs: Long, durations: Map[String, Long], rows: Long)

  val jobs = new ConcurrentLinkedQueue[Job]
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]
  val actions = new ConcurrentLinkedQueue[Action]
  val batches = new ConcurrentLinkedQueue[Batch]

  type Iv = (Long, Long)

  /** Disjoint sorted union of half-open intervals. */
  def union(ivs: Iterable[Iv]): List[Iv] =
    ivs.filter { case (a, b) => b > a }.toList.sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def clip(ivs: Iterable[Iv], lo: Long, hi: Long): List[Iv] =
    union(ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })

  def length(ivs: Iterable[Iv]): Long = union(ivs).map { case (a, b) => b - a }.sum

  /** Self-time split of one operation window [lo, hi) in ms: time inside a
    * Spark job of the op, Catalyst planning outside any job, and the rest
    * (driver work outside both). The three parts sum to hi - lo exactly. */
  final case class Split(wall: Long, job: Long, catalyst: Long, gap: Long)

  def split(lo: Long, hi: Long, jobIvs: Iterable[Iv], phaseIvs: Iterable[Iv]): Split = {
    val j = clip(jobIvs, lo, hi)
    val jl = length(j)
    val cl = length(clip(phaseIvs, lo, hi) ++ j) - jl
    Split(hi - lo, jl, cl, (hi - lo) - jl - cl)
  }

  def jobEnd(j: Job): Long = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.start)
}

class JobListener(conf: SparkConf) extends SparkListener {
  def this() = this(null)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Trace.jobs.add(Trace.Job(e.jobId, g, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    Trace.stages.put(i.stageId, Trace.Stage(i.stageId, i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
  }
}

class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    Trace.actions.add(Trace.Action(qe.tracker.phases.toSeq.map { case (n, p) =>
      (n, p.startTimeMs, p.endTimeMs)
    }))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

class BatchListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    Trace.batches.add(Trace.Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
  }
}
