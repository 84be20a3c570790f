package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced mode: benchmark spans plus what Spark's public listeners report
  * (jobs, stages, tasks, cached blocks, Catalyst phase times).
  *
  * Everything stays in memory until [[dump]]; span trees and self times are
  * derived from this raw record when the run ends (perfbench/metrics.py).
  * Untraced runs never construct a recorder, so they register no listener.
  */
final class Recorder(spark: SparkSession) {
  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L
  private var nextId = 0L

  final class StageRec(val id: Int, val name: String, val submitMs: Long) {
    var completeMs = 0L
    var numTasks = 0
    val tasks = mutable.ArrayBuffer.empty[Array[Long]]
  }

  /** One span; `trace` groups the spans of one query run. Returns its id. */
  def span(name: String, layer: String, parent: Long, trace: String,
      startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty): Long =
    lock.synchronized {
      nextId += 1
      spans += Map("id" -> nextId, "parent" -> parent, "trace" -> trace,
        "name" -> name, "layer" -> layer, "start_us" -> startUs,
        "end_us" -> endUs) ++ attrs
      nextId
    }

  def resetBlockPeak(): Unit = lock.synchronized { blockPeak = blockBytes }
  def blockPeakMb: Double = lock.synchronized { blockPeak / 1048576.0 }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start_ms" -> e.time,
        "end_ms" -> 0L, "group" -> prop("spark.jobGroup.id"),
        // a job's call site names its result stage
        "call_site" -> (if (e.stageInfos.isEmpty) ""
                        else e.stageInfos.maxBy(_.stageId).name),
        "stream_batch" -> prop("streaming.sql.batchId"),
        "stream_query" -> prop("sql.streaming.queryId"),
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        stages(i.stageId) = new StageRec(i.stageId, i.name,
          i.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        stages.get(i.stageId).foreach { s =>
          s.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
          s.numTasks = i.numTasks
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      stages.get(e.stageId).foreach { s =>
        if (m != null) s.tasks += Array(
          e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      lock.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val key = info.blockId.name
          val now = if (info.storageLevel.isValid)
            info.memSize + info.diskSize else 0L
          blockBytes += now - blocks.getOrElse(key, 0L)
          if (now == 0L) blocks.remove(key) else blocks(key) = now
          blockPeak = math.max(blockPeak, blockBytes)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit =
      lock.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          phases += Map("func" -> func, "phase" -> phase,
            "start_ms" -> s.startTimeMs, "end_ms" -> s.endTimeMs)
        }
      }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = record(func, qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def unregister(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The raw record, for the result file. */
  def dump: Map[String, Any] = lock.synchronized {
    Map(
      "spans" -> spans.toList,
      "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.values.map { s =>
        Map("id" -> s.id, "name" -> s.name, "submit_ms" -> s.submitMs,
          "complete_ms" -> s.completeMs, "num_tasks" -> s.numTasks,
          // launch, finish, run ms, cpu ns, shuffle w, shuffle r, spill, input
          "tasks" -> s.tasks.map(_.toSeq).toList)
      }.toList,
      "phases" -> phases.toList,
      "cached_peak_mb" -> blockPeak / 1048576.0)
  }
}
