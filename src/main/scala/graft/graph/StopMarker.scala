package graft.graph

import graft.util.Fs
import org.apache.spark.sql.SparkSession

/**
 * Cooperative STOP request for a resumable kernel run (reference `stop`,
 * Task.java:207-217): a marker file on the store FS whose payload is
 * `"<epochMs> seq=<n>"`. A kernel checks it at each checkpoint boundary and
 * ends there, resumable; it works from any node that shares the FS.
 *
 * Staleness is by WATERMARK, not deletion: markers older than the launch are
 * ignored, so a stop racing a fresh launch is never swallowed and concurrent
 * runs can't cancel each other's requests by deleting the file.
 *
 * @param afterMs markers modified before this epoch-ms watermark are stale
 *                (0 = honor any marker)
 * @param seqSeen marker seq the launcher saw at entry; a later marker is
 *                honored iff its seq is HIGHER (-1 = no seq captured)
 */
final case class StopMarker(path: String, afterMs: Long = 0L, seqSeen: Long = -1L) {

  /** True iff the marker exists and records a STOP request newer than the
    * launch watermark. Two freshness channels, most-robust first:
    *
    *  1. SEQUENCE: if the payload carries `seq=<n>` AND the launcher
    *     captured the seq it saw at entry (`seqSeen >= 0`), the stop is
    *     honored iff `n > seqSeen` — a monotonic counter comparison with no
    *     clock dependency at all (closes the both-clocks-behind residual of
    *     the timestamp scheme).
    *  2. TIMESTAMP (fallback for seq-less markers or legacy callers):
    *     freshness is the MAX of the payload timestamp (epoch-ms or ISO
    *     instant, written by the stopping node) and the FS mtime — the max
    *     means a stop survives EITHER a coarse/fileserver-stamped mtime
    *     (payload rescues it) or a lagging stopping-node clock (mtime
    *     rescues it).
    *
    * Any races with a concurrent marker delete (exists/read/stat TOCTOU)
    * read as "no stop" — a vanished marker means the request was withdrawn,
    * never a crash. */
  def requested(spark: SparkSession): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && {
        val payload = Fs.read(spark, path).map(_.trim)
        payload.flatMap(StopMarker.parseSeq) match {
          case Some(seq) if seqSeen >= 0L => seq > seqSeen
          case _ =>
            val payloadMs = payload.flatMap { s =>
              val head = s.split("\\s+").headOption.getOrElse(s)
              scala.util.Try(head.toLong).toOption
                .orElse(scala.util.Try(java.time.Instant.parse(head).toEpochMilli).toOption)
            }
            math.max(payloadMs.getOrElse(Long.MinValue),
              fs.getFileStatus(p).getModificationTime) >= afterMs
        }
      }
    } catch { case _: java.io.IOException => false }
}

object StopMarker {

  /** The marker a launcher watches, captured at COMMAND ENTRY (before any
    * setup job): a stop issued during setup counts as "after launch", and a
    * marker already present now (whatever its clocks say) must NOT stop the
    * run — only a HIGHER seq written later is honored. */
  def atEntry(spark: SparkSession, path: String): StopMarker = {
    val invokedAtMs = System.currentTimeMillis()
    StopMarker(path, invokedAtMs, seq(spark, path).getOrElse(0L))
  }

  /** Write a STOP request: this node's epoch-ms AND the previous marker's
    * seq + 1, so honoring it needs no clock agreement, while the epoch-ms
    * keeps the timestamp channel working for runners without a seq. */
  def request(spark: SparkSession, path: String): Unit = {
    val nextSeq = seq(spark, path).getOrElse(0L) + 1L
    Fs.write(spark, path, s"${System.currentTimeMillis()} seq=$nextSeq")
  }

  private def seq(spark: SparkSession, path: String): Option[Long] =
    Fs.read(spark, path).flatMap(parseSeq)

  private def parseSeq(payload: String): Option[Long] =
    payload.trim.split("\\s+").collectFirst { case t if t.startsWith("seq=") => t.drop(4) }
      .flatMap(t => scala.util.Try(t.toLong).toOption)
}
