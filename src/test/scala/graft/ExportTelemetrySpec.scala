package graft

import java.io.IOException
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.StreamingQueryException

import graft.sink.PartitionedParquetSink.SinkConfig
import graft.streaming.{Delivery, ExportTelemetry, StreamingIngest}
import graft.streaming.Delivery.RetryPolicy

/** Export-path self-telemetry (config.go:31 Verbosity semantics): the
  * retrying ingest loop must report per-batch rows/files/bytes/retries
  * with the configured verbosity's redaction, on success AND failure. */
class ExportTelemetrySpec extends SparkSpec {

  private def run(base: String, verbosity: String, failures: Int,
                  permanent: Boolean = false)
      : (ExportTelemetry.Collector, Long) = {
    val batch = Tables.events(spark, sf).limit(300)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)
    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "daily")
    val left = new AtomicInteger(failures)
    val tel = new ExportTelemetry.Collector(verbosity)
    val q = Delivery.ingestWithManifestRetrying(
      StreamingIngest.readEvents(spark, srcDir, batch.schema), cfg,
      s"$base/chk", s"$base/manifest",
      policy = RetryPolicy(maxAttempts = 5, initialBackoffMs = 1, sleep = _ => ()),
      beforeRegister = _ =>
        if (left.getAndDecrement() > 0)
          throw new IOException(
            if (permanent) "403 Forbidden: catalog write denied"
            else "connection reset"),
      telemetry = Some(tel))
    if (permanent) intercept[StreamingQueryException](q.awaitTermination())
    else q.awaitTermination()
    (tel, batch.count())
  }

  test("detailed: per-batch rows/files/bytes/retries on an injected-retry run") {
    val base = tempDir("graft-tel")
    val (tel, nRows) = run(base, "detailed", failures = 2)
    val ms = tel.metrics
    assert(ms.size === 1, s"one micro-batch → one metric row: $ms")
    val m = ms.head
    assert(m.outcome === "success")
    assert(m.rows === nRows)
    assert(m.retries === 2L)
    assert(m.errors.size === 2 && m.errors.forall(_.contains("connection reset")))
    // the batch registered real files and bytes (retried attempts'
    // orphans included — they are bytes the export path produced)
    assert(m.files > 0L, s"files: $m")
    assert(m.bytes > 0L, s"bytes: $m")
    assert(m.table === "events")
    // and the DataFrame surface round-trips the same numbers
    val row = tel.toDF(spark).collect()(0)
    assert(row.getAs[Long]("rows") === nRows)
    assert(row.getAs[Long]("retries") === 2L)
  }

  test("basic: counts only — bytes/retries/errors redacted") {
    val base = tempDir("graft-tel-basic")
    val (tel, nRows) = run(base, "basic", failures = 1)
    val m = tel.metrics.head
    assert(m.outcome === "success" && m.rows === nRows && m.files > 0L)
    assert(m.bytes === 0L && m.retries === 0L && m.errors.isEmpty)
  }

  test("normal: numbers kept, error strings dropped") {
    val base = tempDir("graft-tel-normal")
    val (tel, _) = run(base, "normal", failures = 1)
    val m = tel.metrics.head
    assert(m.retries === 1L && m.bytes > 0L && m.errors.isEmpty)
  }

  test("permanent failure: outcome recorded as failed with the cause") {
    val base = tempDir("graft-tel-perm")
    val (tel, _) = run(base, "detailed", failures = 99, permanent = true)
    val m = tel.metrics.head
    assert(m.outcome === "failed")
    assert(m.retries === 0L) // fail-fast: no retry before the failure
    assert(m.errors.exists(_.contains("403 Forbidden")))
  }

  test("ingestWithManifest (non-retrying loop) reports the same counters") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("graft-tel-plain")
    val batch = Tables.events(spark, sf).limit(200)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)
    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "daily")
    val tel = new ExportTelemetry.Collector("normal")
    StreamingIngest.ingestWithManifest(
      StreamingIngest.readEvents(spark, srcDir, batch.schema), cfg,
      s"$base/chk", s"$base/manifest", telemetry = Some(tel))
      .awaitTermination()
    val m = tel.metrics.head
    assert(m.rows === batch.count() && m.files > 0L && m.bytes > 0L)
    assert(m.outcome === "success")
    // counters agree with what actually landed
    val manifest = spark.read.parquet(s"$base/manifest")
    assert(m.files === manifest.count())
    assert(m.bytes === manifest.agg(
      org.apache.spark.sql.functions.sum(col("file_size")))
      .collect()(0).getLong(0))
  }
}
