package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Bytes that materialization (`localCheckpoint`, `persist`) wrote into
  * Spark block storage: every RDD block that was stored with a valid
  * storage level. Cheap enough to stay registered in untimed-overhead
  * runs; read it only after draining the listener bus.
  */
final class BlockCounter extends SparkListener {
  private var bytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid)
      synchronized { bytes += i.memSize + i.diskSize }
  }

  /** Bytes written since the previous call. */
  def take(): Long = synchronized { val b = bytes; bytes = 0; b }
}

/** One Spark job of a traced pass, with the task metrics of the stages it
  * ran. `group` is the job group the benchmark set before the call that
  * launched it (`<pass>/<query>/<phase>`).
  */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks = 0L
  var cpuNs, runMs, shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRecords, resultBytes = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "group" -> group, "start_ms" -> startMs, "end_ms" -> endMs,
    "stages" -> stages, "tasks" -> tasks, "cpu_ns" -> cpuNs,
    "run_ms" -> runMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "result_bytes" -> resultBytes)
}

/** Records jobs, stages and task metrics per job. Registered only for
  * traced passes.
  */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.resultBytes += m.resultSize
    }
  }

  def all: Seq[JobRec] = synchronized(jobs.values.toList)
}
