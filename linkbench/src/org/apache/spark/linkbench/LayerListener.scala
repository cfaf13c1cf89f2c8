package org.apache.spark.linkbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Counters of one layer over one traced pass. Times are seconds. */
final case class LayerCounts(jobs: Long, stages: Long, tasks: Long,
                             shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
                             executorRunS: Double, jobBusyS: Double, taskSkew: Double,
                             failedTasks: Long, inputRecords: Long, inputBytes: Long)

/**
 * Attributes Spark's own job, stage and task events to benchmark layers.
 *
 * A layer is named by the job group the benchmark sets around each call it
 * makes into the engine; jobs without a group (set-up, output checks) are not
 * counted. The class lives under `org.apache.spark` only so that [[drain]] can
 * reach `listenerBus.waitUntilEmpty`: counters are read after the bus has
 * delivered every event, never after a sleep.
 */
final class LayerListener extends SparkListener {

  private final class Acc {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill, runMs, failed, inRecords, inBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val layers = mutable.Map.empty[String, Acc]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Map.empty[Int, (String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID))).foreach { l =>
      layers.getOrElseUpdate(l, new Acc).jobs += 1
      openJobs(e.jobId) = (l, e.time)
      e.stageIds.foreach(stageLayer(_) = l)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (l, t0) => layers(l).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageLayer.get(e.stageInfo.stageId).foreach(l => layers(l).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(e.stageId).foreach { l =>
      val a = layers(l)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inRecords += m.inputMetrics.recordsRead
        a.inBytes += m.inputMetrics.bytesRead
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Blocks until every posted event has reached this listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def reset(): Unit = synchronized { layers.clear(); stageLayer.clear(); openJobs.clear() }

  def snapshot(): Map[String, LayerCounts] = synchronized {
    layers.map { case (l, a) => l -> LayerCounts(a.jobs, a.stages, a.tasks, a.shuffleRead,
      a.shuffleWrite, a.spill, a.runMs / 1e3, union(a.jobSpans.toSeq) / 1e3, skew(a),
      a.failed, a.inRecords, a.inBytes)
    }.toMap
  }

  /** Milliseconds covered by at least one job. */
  private def union(spans: Seq[(Long, Long)]): Long = {
    var covered = 0L; var end = Long.MinValue
    for ((s, t) <- spans.sortBy(_._1)) {
      if (t > end) { covered += t - math.max(s, end); end = t }
    }
    covered
  }

  /** Max over median task run time in the layer's heaviest stage (the one
    * with the most summed task time), the stage whose stragglers cost most. */
  private def skew(a: Acc): Double =
    if (a.stageTaskMs.isEmpty) 0.0
    else {
      val ts = a.stageTaskMs.values.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
}
