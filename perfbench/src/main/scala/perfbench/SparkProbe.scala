package perfbench

import java.util.concurrent.ConcurrentHashMap

import graft.api.MiniJson
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Driver- and executor-side counters, attached by the benchmark to a
  * session it owns: one record per Spark job (its interval and stages), the
  * task metrics summed per stage, and the planning time of every query
  * execution from `QueryExecution.tracker`. Records carry epoch-ms times
  * only; the harness attributes them to ops by interval.
  */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageSum]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  @volatile private var recording = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (recording) jobs.put(e.jobId, Job(e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      val s = stages.computeIfAbsent(e.stageId, _ => new StageSum)
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failed += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shufRead += m.shuffleReadMetrics.totalBytesRead
          s.shufWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (recording) {
      val ph = qe.tracker.phases
      val timed = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (timed.nonEmpty)
        plans.add(Plan(timed.map(_.startTimeMs).min, timed.map(_.endTimeMs).max,
          timed.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def start(): Unit = recording = true

  /** Stop recording once every event already posted has been delivered. */
  def stop(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    recording = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def toJson: MiniJson.Raw = {
    import MiniJson.{arr, obj}
    val stageToJob = jobs.asScala.toSeq.flatMap { case (id, j) => j.stages.map(_ -> id) }.toMap
    obj(
      "jobs" -> arr(jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
        obj("job" -> id, "start_ms" -> j.start, "end_ms" -> j.end, "ok" -> j.ok)
      }),
      "stages" -> arr(stages.asScala.toSeq.sortBy(_._1).flatMap { case (id, s) =>
        stageToJob.get(id).map(job => obj("stage" -> id, "job" -> job,
          "tasks" -> s.tasks, "failed" -> s.failed, "run_ms" -> s.runMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_read_b" -> s.shufRead,
          "shuffle_write_b" -> s.shufWrite, "spill_b" -> s.spill,
          "input_b" -> s.input))
      }),
      "plans" -> arr(plans.asScala.toSeq.sortBy(_.start).map(p =>
        obj("start_ms" -> p.start, "end_ms" -> p.end, "plan_ms" -> p.planMs))))
  }
}

object SparkProbe {
  private final case class Job(start: Long, stages: Seq[Int], var end: Long = 0L,
      var ok: Boolean = false)
  private final class StageSum {
    var tasks, failed, runMs, cpuNs, gcMs, shufRead, shufWrite, spill, input = 0L
  }
  private final case class Plan(start: Long, end: Long, planMs: Long)
}
