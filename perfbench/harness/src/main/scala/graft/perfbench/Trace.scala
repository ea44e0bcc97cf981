package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Spans of one operation
  * share `trace`; `parent` is the id of the span that caused it (0 = none).
  * Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, trace: String, kind: String,
    name: String, startMs: Double, endMs: Double)

/** Listens to one SparkContext (jobs, stages, tasks, streaming progress)
  * and to the main session's query executions. Events are kept in memory;
  * [[Recorder.layers]] and [[Recorder.spans]] turn them into per-layer
  * numbers and spans once the listener bus has drained. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val planned = new ConcurrentLinkedQueue[Planned]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1), s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.jvmGCTime))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val d = p.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Progress(java.time.Instant.parse(p.progress.timestamp).toEpochMilli, d))
    case _ =>
  }

  /** Since Spark 3 this arrives on the listener bus, after the query
    * returned, so the query is placed by the times its own tracker recorded
    * on the query thread, never by the time of delivery. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onPlanned(qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })

  /** Records a query's planner phases (name → (start, end), epoch ms). */
  def onPlanned(phases: Map[String, (Long, Long)]): Unit =
    if (phases.nonEmpty) planned.add(Planned(phases.values.map(_._2).max, phases))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Per-op averages of each layer's counters over the ops' intervals.
    * `ops` holds (build start, build end, execution end) in epoch ms. */
  def layers(ops: Seq[(Double, Double, Double)], cores: Int): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    def inOps(t: Double) = ops.exists { case (s, _, e) => t >= s && t <= e }
    def inBuild(t: Double) = ops.exists { case (s, b, _) => t >= s && t < b }
    def inExec(t: Double) = ops.exists { case (_, b, e) => t >= b - ClockSlackMs && t <= e }
    val js = jobs.values.asScala.toSeq.filter(j => inOps(j.startMs.toDouble))
    val ts = tasks.asScala.toSeq.filter(t => inOps(t.endMs.toDouble))
    val ss = stages.asScala.toSeq.filter(s => inOps(s.startMs.toDouble))
    val ps = planned.asScala.toSeq.filter(p => inExec(p.endMs.toDouble))
    val pr = progress.asScala.toSeq.filter(p => inOps(p.tsMs.toDouble))
    val wallS = ops.map { case (s, _, e) => e - s }.sum / 1e3
    def phase(k: String) = ps.flatMap(_.phases.get(k)).map { case (a, b) => b - a }.sum / 1e3 / n
    def streaming(k: String) = pr.flatMap(_.durations.get(k)).sum / 1e3 / n
    val runS = ts.map(_.runMs).sum / 1e3
    Map(
      "operators.build_s" -> ops.map { case (s, b, _) => b - s }.sum / 1e3 / n,
      "operators.eager_jobs" -> js.count(j => inBuild(j.startMs.toDouble)) / n,
      "planner.analysis_s" -> phase("analysis"),
      "planner.optimization_s" -> phase("optimization"),
      "planner.planning_s" -> phase("planning"),
      "scheduler.jobs" -> js.size / n,
      "scheduler.stages" -> ss.size / n,
      "scheduler.tasks" -> ts.size / n,
      "executor.run_s" -> runS / n,
      "executor.cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "executor.utilization" -> (if (wallS > 0) runS / (cores * wallS) else 0.0),
      "executor.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6 / n,
      "executor.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1e6 / n,
      "executor.spill_mb" -> ts.map(_.spill).sum / 1e6 / n,
      "executor.gc_s" -> ts.map(_.gcMs).sum / 1e3 / n,
      "streaming.batches" -> pr.size / n,
      "streaming.batch_planning_s" -> streaming("queryPlanning"),
      "streaming.wal_commit_s" -> streaming("walCommit"),
      "streaming.add_batch_s" -> streaming("addBatch"))
  }

  /** Spans below the given op-phase spans: planner phases of each timed
    * write, then jobs, then stages, each parented to the innermost earlier
    * span whose interval holds its start. Ids continue from `nextId`. */
  def spans(opSpans: Seq[Span], nextId: Int): Seq[Span] = {
    var id = nextId
    val out = scala.collection.mutable.ArrayBuffer.empty[Span] ++ opSpans
    def holder(t: Double, kinds: Set[String]): Option[Span] =
      out.filter(s => kinds(s.kind) && t >= s.startMs && t <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption
    def add(kind: String, name: String, s: Double, e: Double, parentKinds: Set[String]): Option[Span] =
      holder(s, parentKinds).map { p =>
        id += 1
        val sp = Span(id, p.id, p.trace, kind, name, s, e)
        out += sp
        sp
      }
    val opKinds = Set("build", "execution")
    planned.asScala.toSeq.sortBy(_.endMs).foreach { p =>
      holder(p.endMs.toDouble + ClockSlackMs, Set("execution")).foreach { _ =>
        p.phases.toSeq.sortBy(_._2._1).foreach { case (k, (s, e)) =>
          add(k, k, s.toDouble, e.toDouble, opKinds)
        }
      }
    }
    val jobSpan = scala.collection.mutable.HashMap.empty[Int, Span]
    jobs.values.asScala.toSeq.sortBy(_.startMs).filter(_.endMs >= 0).foreach { j =>
      add("job", s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble, opKinds)
        .foreach(jobSpan(j.id) = _)
    }
    stages.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      jobSpan.get(s.jobId).foreach { j =>
        id += 1
        out += Span(id, j.id, j.trace, "stage", s"stage ${s.id}", s.startMs.toDouble, s.endMs.toDouble)
      }
    }
    out.toSeq
  }
}

object Recorder {
  /** Op intervals come from `nanoTime` mapped to epoch ms, tracker phases
    * from `currentTimeMillis` (whole ms), so a phase end may read up to 1 ms
    * before the execution it belongs to started. An eager query of the
    * build cannot fall in that slack: its job runs after its planning ends
    * and before the build returns. */
  val ClockSlackMs = 1.0
  final case class Job(id: Int, startMs: Long, var endMs: Long = -1L)
  final case class Stage(id: Int, jobId: Int, startMs: Long, endMs: Long)
  final case class Task(endMs: Long, runMs: Long, cpuNs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, gcMs: Long)
  /** `endMs`: the end of the query's last planner phase. */
  final case class Planned(endMs: Long, phases: Map[String, (Long, Long)])
  final case class Progress(tsMs: Long, durations: Map[String, Long])
}
