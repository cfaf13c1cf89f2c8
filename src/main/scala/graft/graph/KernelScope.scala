package graft.graph

import graft.util.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * The one place an iterative kernel touches session state. A scope owns:
 *
 *  - CONF: AQE off for the whole run (it re-plans every superstep and its
 *    partition coalescing breaks the co-partitioning reuse between the state
 *    and the static edge layout — measured 3x slower with AQE on), the
 *    kernel shuffle width ([[width]]) and, for CC, the shuffled-hash join
 *    preference. All of them are restored in ONE finally.
 *  - CACHES: frames persisted through [[persist]] are released on exit,
 *    including when the kernel throws. A frame that the returned LAZY result
 *    still reads must be persisted directly instead, outside the scope.
 *  - the CHECKPOINT/STOP boundary ([[boundary]]).
 */
private[graph] final class KernelScope private (spark: SparkSession, kernel: String,
                                                checkpointDir: Option[String],
                                                stop: Option[StopMarker]) {

  /** The session's configured shuffle width, read at entry. */
  private val confPartitions: Int = spark.conf.get(KernelScope.Width, "32").toInt

  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  def persist(df: DataFrame): DataFrame = {
    cached += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Kernel partition count for `edgeCount` edges, without touching conf. */
  def partitions(edgeCount: Long): Int = GraphOps.kernelPartitions(confPartitions, edgeCount)

  /** Sets the kernel-internal shuffle width for `edgeCount` edges and returns
    * it: every aggregation exchange in the loop must match the static
    * layout's width, or EnsureRequirements inserts an extra per-superstep
    * exchange to reconcile the two (AQE is off, so nothing else narrows
    * them; measured on the 48k-edge mined graph: agg at 32 vs layout at 8). */
  def width(edgeCount: Long): Int = {
    val p = partitions(edgeCount)
    spark.conf.set(KernelScope.Width, p.toLong)
    p
  }

  /** The checkpoint/stop boundary: with a checkpoint dir, writes `state` as
    * superstep `step` plus its manifest and LATEST pointer; then reports
    * whether a cooperative STOP was requested — the run ends at this
    * (checkpointed, resumable) boundary. */
  def boundary(step: Int, state: DataFrame): Boolean = {
    checkpointDir.foreach { dir =>
      state.write.mode("overwrite").parquet(s"$dir/$kernel/superstep=$step")
      val rows = state.count()
      val manifest =
        s"""{"kernel": "$kernel", "superstep": $step, "rows": $rows, "partitions": ${state.rdd.getNumPartitions}}"""
      Fs.write(spark, s"$dir/$kernel/MANIFEST-$step.json", manifest)
      Fs.write(spark, s"$dir/$kernel/LATEST", step.toString)
    }
    stop.exists(_.requested(spark))
  }
}

private[graph] object KernelScope {
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Width = "spark.sql.shuffle.partitions"
  private val PreferSmj = "spark.sql.join.preferSortMergeJoin"

  /** Runs `body` inside a kernel scope. `shuffledHash` prefers shuffled-hash
    * over sort-merge joins (guide §3.1) for kernels whose build sides hold
    * one row per key. */
  def apply[T](spark: SparkSession, kernel: String, checkpointDir: Option[String] = None,
               stop: Option[StopMarker] = None, shuffledHash: Boolean = false)
              (body: KernelScope => T): T = {
    val saved = Seq(Aqe, Width, PreferSmj).map(k => k -> spark.conf.getOption(k))
    val scope = new KernelScope(spark, kernel, checkpointDir, stop)
    try {
      spark.conf.set(Aqe, false)
      if (shuffledHash) spark.conf.set(PreferSmj, false)
      body(scope)
    } finally {
      scope.cached.foreach(_.unpersist(false))
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
