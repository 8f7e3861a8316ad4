package graftbench

import scala.collection.mutable

import org.apache.spark.{BusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The traced run's only instrument: spans opened and closed by the
  * benchmark around its calls into graft, and one listener that sums
  * each Spark job's task counters under the step span the job was
  * tagged with. Everything stays in memory until [[record]]. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private final class Job(val id: Int, val step: Int, val startMs: Long) {
    var endMs = 0L
    val n = mutable.LinkedHashMap[String, Long](
      "stages" -> 0L, "tasks" -> 0L, "failed_tasks" -> 0L,
      "task_run_ms" -> 0L, "task_cpu_ns" -> 0L, "gc_ms" -> 0L,
      "sched_delay_ms" -> 0L, "shuffle_write_b" -> 0L, "shuffle_read_b" -> 0L,
      "shuffle_records" -> 0L, "spill_b" -> 0L, "peak_exec_mem_b" -> 0L,
      "input_b" -> 0L, "result_b" -> 0L)
    def add(k: String, v: Long): Unit = n(k) += v
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Tags every job the calling thread (and threads it starts) submits
    * until the next call with the id of the step's span. */
  def tag(stepSpan: Int): Unit =
    spark.sparkContext.setLocalProperty(TagKey, stepSpan.toString)

  def open(name: String, parent: Int): Int = synchronized {
    spans += mutable.Map("id" -> spans.size, "parent" -> parent,
      "name" -> name, "start_ms" -> Clock.nowMs, "end_ms" -> -1.0)
    spans.size - 1
  }

  def close(id: Int): Unit = synchronized { spans(id)("end_ms") = Clock.nowMs }

  /** Waits for every posted event to reach this listener. */
  def drain(): Unit = BusDrain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
    val j = new Job(e.jobId, tagged.fold(-1)(_.toInt), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.add("stages", 1)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.add("tasks", 1)
      if (e.reason != Success) j.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        j.add("task_run_ms", m.executorRunTime)
        j.add("task_cpu_ns", m.executorCpuTime)
        j.add("gc_ms", m.jvmGCTime)
        val info = e.taskInfo
        j.add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
        j.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        j.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
        j.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        j.add("spill_b", m.diskBytesSpilled)
        j.n("peak_exec_mem_b") = math.max(j.n("peak_exec_mem_b"), m.peakExecutionMemory)
        j.add("input_b", m.inputMetrics.bytesRead)
        j.add("result_b", m.resultSize)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    planned(funcName, qe)

  private def planned(funcName: String, qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }
    plans += Map("func" -> funcName, "phases" -> phases)
  }

  /** Everything recorded, for the result file. */
  def record: Map[String, Any] = {
    drain()
    synchronized {
      Map(
        "spans" -> spans.map(_.toMap).toList,
        "jobs" -> jobs.values.map(j => Map("id" -> j.id, "step" -> j.step,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs) ++ j.n).toList,
        "plans" -> plans.toList)
    }
  }
}

object Tracer {
  val TagKey = "graftbench.step"
}
