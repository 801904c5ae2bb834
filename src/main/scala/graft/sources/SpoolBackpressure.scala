package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounds for the receivers' durable spool — the `sending_queue`
  * semantics the reference inherits from the collector's
  * exporterhelper (`/root/reference/config.go:25-27`: a bounded queue
  * between consume and export; when it is full the component SHEDS the
  * request instead of growing without bound). Our spool IS that queue
  * (push → durable file → pull), so the bound applies to spool bytes
  * and file count. Defaults are unbounded, preserving prior receiver
  * behavior unless a deployment opts in. */
final case class SpoolLimits(maxBytes: Long = Long.MaxValue,
                             maxFiles: Long = Long.MaxValue) {
  require(maxBytes > 0 && maxFiles > 0,
    s"spool limits must be positive (got bytes=$maxBytes files=$maxFiles)")
  def bounded: Boolean =
    maxBytes != Long.MaxValue || maxFiles != Long.MaxValue
}

object SpoolLimits {
  val Unbounded: SpoolLimits = SpoolLimits()
}

/** Tracks the spool's current size so an accept decision costs a
  * synchronized counter check, not a filesystem walk. The gauge keeps
  * two ledgers: DISK truth (what a rescan of the spool dirs found) and
  * PENDING reservations (admissions whose file has not yet been
  * renamed into the spool). `tryAcquire` reserves against disk+pending;
  * the receiver calls [[confirm]] once the file lands (reservation →
  * disk ledger) or [[release]] if the write fails. A concurrent
  * [[refresh]] therefore never drops an in-flight admission: the
  * rescan resets only the disk ledger, and a file counted by BOTH
  * ledgers during the rename window merely over-counts briefly —
  * shedding errs on the safe side. Drains by the streaming source
  * (cleanSource deletes, spool GC) are observed by a cheap periodic
  * rescan, so recovery is at most `refreshIntervalMs` late. */
final class SpoolGauge(spoolDir: String, dirs: Seq[String],
                       val limits: SpoolLimits,
                       refreshIntervalMs: Long = 2000L) {

  private var diskBytes = 0L
  private var diskFiles = 0L
  private var pendingBytes = 0L
  private var pendingFiles = 0L
  // running totals of confirm(), so a rescan can tell what landed meanwhile
  private var confirmedBytes = 0L
  private var confirmedFiles = 0L
  private val lastRefreshMs = new AtomicLong(0L)
  refresh() // adopt whatever a prior receiver incarnation left behind

  /** Rescan the spool dirs (shallow: the receivers write flat dirs)
    * and reset the DISK ledger to ground truth; pending reservations
    * are preserved. */
  def refresh(): Unit = {
    val (bytesBefore, filesBefore) = synchronized((confirmedBytes, confirmedFiles))
    var b = 0L
    var n = 0L
    dirs.foreach { d =>
      val p: Path = Paths.get(spoolDir, d)
      if (Files.isDirectory(p)) {
        val it = Files.newDirectoryStream(p)
        try it.forEach { f =>
          if (Files.isRegularFile(f)) { b += Files.size(f); n += 1 }
        } finally it.close()
      }
    }
    // a file confirmed during the walk may be missing from it: add it
    // (if the walk saw it too, the over-count sheds early, never late)
    synchronized {
      diskBytes = b + confirmedBytes - bytesBefore
      diskFiles = n + confirmedFiles - filesBefore
    }
    lastRefreshMs.set(System.currentTimeMillis())
  }

  /** Admit `incomingBytes` as one new spool file (a PENDING
    * reservation the caller must [[confirm]] or [[release]]), or
    * refuse because the spool is at capacity. Refreshes from the
    * filesystem first when the cached view is stale (so a drained
    * spool re-opens within the refresh interval). Unbounded limits
    * short-circuit to true without reserving. */
  def tryAcquire(incomingBytes: Long): Boolean = {
    if (!limits.bounded) return true
    if (System.currentTimeMillis() - lastRefreshMs.get() > refreshIntervalMs)
      refresh()
    synchronized {
      val ok =
        diskBytes + pendingBytes + incomingBytes <= limits.maxBytes &&
        diskFiles + pendingFiles + 1 <= limits.maxFiles
      if (ok) { pendingBytes += incomingBytes; pendingFiles += 1 }
      ok
    }
  }

  /** The reserved file is on disk: move the reservation to the disk
    * ledger (the next rescan re-derives it from the directory walk). */
  def confirm(incomingBytes: Long): Unit =
    if (limits.bounded) synchronized {
      pendingBytes -= incomingBytes
      pendingFiles -= 1
      diskBytes += incomingBytes
      diskFiles += 1
      confirmedBytes += incomingBytes
      confirmedFiles += 1
    }

  /** The reserved write failed: drop the reservation. */
  def release(incomingBytes: Long): Unit =
    if (limits.bounded) synchronized {
      pendingBytes -= incomingBytes
      pendingFiles -= 1
    }

  def currentBytes: Long = synchronized(diskBytes + pendingBytes)
  def currentFiles: Long = synchronized(diskFiles + pendingFiles)

  /** Read-only shed probe: would a minimal next request be refused?
    * (The health surfaces report this without reserving anything.) */
  def atCapacity: Boolean =
    limits.bounded && synchronized {
      diskBytes + pendingBytes >= limits.maxBytes ||
      diskFiles + pendingFiles + 1 > limits.maxFiles
    }
}

/** Aggregate in-memory pressure valve — the collector `memory_limiter`
  * processor's semantics (`/root/reference/example/otel-config.yaml:
  * 31-34`: `limit_mib`) applied where this pipeline actually buffers:
  * the receivers' request bodies. The per-request gzip cap bounds any
  * ONE request; this bounds the SUM across concurrent handlers, so N
  * simultaneous near-cap requests shed (429 / RESOURCE_EXHAUSTED)
  * instead of holding N × cap bytes on heap. Receivers acquire
  * incrementally WHILE buffering, so an over-limit request stops
  * consuming memory at the chunk where it crossed the line, not after
  * a full read. */
final class MemoryLimiter(val maxBytes: Long) {
  require(maxBytes > 0, s"memory limit must be positive (got $maxBytes)")
  private var held = 0L
  private var peak = 0L

  def tryAcquire(n: Long): Boolean = synchronized {
    if (held + n > maxBytes) false
    else { held += n; if (held > peak) peak = held; true }
  }

  def release(n: Long): Unit = synchronized { held -= n }

  def currentBytes: Long = synchronized(held)
  /** High-water mark — lets specs assert the bound actually held. */
  def peakBytes: Long = synchronized(peak)
}

/** Per-request OUTCOME counters for a receiver — the receiver-side
  * complement of [[graft.streaming.ExportTelemetry]]'s per-batch
  * metrics: one counter per (signal, outcome, wire code), covering
  * accepted requests and every shed/reject path (429 backpressure,
  * 415 media, bad gzip, bad route/method, gRPC statuses), so an
  * operator can alert on shed rate the way the reference's
  * exporterhelper queue metrics allow. Bounded memory: the key space
  * is (3 signals + unrouted) × outcome kinds, never request count. */
final class ReceiverTelemetry(val transport: String) {

  private val counters = mutable.Map.empty[(String, String, Int), Long]

  def record(signal: String, outcome: String, code: Int): Unit =
    synchronized {
      val k = (signal, outcome, code)
      counters.update(k, counters.getOrElse(k, 0L) + 1L)
    }

  def count(signal: String, outcome: String): Long = synchronized {
    counters.collect { case ((s, o, _), n) if s == signal && o == outcome => n }
      .sum
  }

  def snapshot: Map[(String, String, Int), Long] =
    synchronized { counters.toMap }

  /** One row per (signal, outcome, code) with its request count —
    * queryable like [[graft.streaming.ExportTelemetry.Collector.toDF]]. */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    snapshot.toSeq
      .map { case ((s, o, c), n) => (transport, s, o, c, n) }
      .sortBy(t => (t._2, t._3, t._4))
      .toDF("transport", "signal", "outcome", "code", "requests")
  }
}
