package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Export-path SELF-TELEMETRY — the observability surface the
  * reference drives with `Verbosity` (`config.go:31`: the collector's
  * telemetry of its own export path). [[graft.config.ExporterConfig]]
  * validates the knob; this is what it controls: per-micro-batch
  * rows / files / bytes / retries / duration / outcome, recorded by
  * the ingest loop ([[IngestLoop]], behind
  * [[Delivery.ingestWithManifestRetrying]] and
  * [[StreamingIngest.ingestWithManifest]]) and queryable as a
  * DataFrame — what an operator running the exporter at scale
  * dashboards and alerts on.
  *
  * Scale shape: one in-memory row per micro-batch (bounded by batch
  * cadence, never by data volume); files and bytes are the entries the
  * batch's register step appended, rows one count of the pinned batch
  * — never a read of the manifest or a second scan of the source. */
object ExportTelemetry {

  final case class BatchMetric(
      batchId: Long, table: String, outcome: String,
      rows: Long, files: Long, bytes: Long,
      retries: Long, durationMs: Long, errors: Seq[String])

  /** Thread-safe per-process collector. `verbosity` redacts per the
    * reference's levels:
    *  - `basic`    — counts only (rows/files/outcome);
    *  - `normal`   — + bytes, retries, duration (default);
    *  - `detailed` — + the per-attempt error messages. */
  final class Collector(val verbosity: String = "normal") {
    require(Set("basic", "normal", "detailed")(verbosity),
      s"verbosity '$verbosity' not supported " +
        "(supported: basic, normal, detailed)")
    private val buf = ArrayBuffer.empty[BatchMetric]

    private[streaming] def record(m: BatchMetric): Unit = synchronized {
      buf += (verbosity match {
        case "basic" =>
          m.copy(bytes = 0L, retries = 0L, durationMs = 0L, errors = Nil)
        case "normal" => m.copy(errors = Nil)
        case _ => m
      })
      ()
    }

    def metrics: Seq[BatchMetric] = synchronized { buf.toVector }

    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      metrics.map(m => (m.batchId, m.table, m.outcome, m.rows, m.files,
        m.bytes, m.retries, m.durationMs, m.errors))
        .toDF("batch_id", "table", "outcome", "rows", "files", "bytes",
          "retries", "duration_ms", "errors")
    }
  }
}
