package graft

import org.apache.spark.sql.functions._

import graft.config.ExporterConfig._
import graft.otel.OtelTraces
import graft.sink.PartitionedParquetSink

/** End-to-end reference path: OTLP-shaped batch → flatten → configured
  * partitioned sink → read back → downstream span analytics. */
class OtelPipelineSpec extends SparkSpec {

  test("traces flow: flatten -> config-resolved sink -> partition-pruned query") {
    import spark.implicits._
    val base = tempDir("graft-otel-e2e")
    val res = TResource(Map("service.name" -> "checkout"), 0)
    val scope = TScope("lib", "1.0", Map.empty, 0)
    def span(id: Int, startNs: Long, durNs: Long, code: Int) =
      TSpan(f"trace$id%02d", f"span$id%02d", "", "", 0, s"op-${id % 3}", 2,
            startNs, startNs + durNs, Map.empty, 0, Seq.empty, 0, Seq.empty, 0,
            TStatus(code, ""))
    // spans across two different hours of 2024-03-05
    val h1 = 1709623800000000000L // 2024-03-05T07:30Z
    val h2 = 1709627400000000000L // 2024-03-05T08:30Z
    val batch = Seq(
      TraceBatch(res, scope, (0 until 6).map(i => span(i, h1 + i, 1000000L * (i + 1), 0))),
      TraceBatch(res, scope, (6 until 10).map(i => span(i, h2 + i, 2000000L * i, 2))))

    val flat = OtelTraces.flatten(batch.toDF())
    val cfg = Config(Filesystem(base, compression = "zstd"), Catalog("none"))
    PartitionedParquetSink.writeBatch(
      flat, cfg.sinkFor("traces", tsColumn = "start_time_unix_nano"))

    // layout: <base>/otel_traces/year=2024/month=03/day=05/hour=07|08
    val hourDirs = new java.io.File(s"$base/otel_traces/year=2024/month=03/day=05")
      .listFiles().map(_.getName).sorted
    assert(hourDirs === Array("hour=07", "hour=08"))

    // downstream query with a pruning time predicate
    val back = spark.read.parquet(s"$base/otel_traces")
    val stats = back
      .filter($"hour" === "08")
      .groupBy($"service_name", $"span_name", $"status_code")
      .agg(count(lit(1)).as("n"), round(avg($"duration" / 1e6), 4).as("avg_ms"))
    val rows = stats.collect()
    assert(rows.map(_.getAs[Long]("n")).sum === 4)
    assert(rows.forall(_.getAs[String]("status_code") === "ERROR"))
    assert(rows.forall(_.getAs[String]("service_name") === "checkout"))
  }

  test("exemplar -> trace pivot resolves sampled exemplars against the span table") {
    import spark.implicits._
    import graft.otel.{OtelAnalytics, OtelMetrics}
    val res = TResource(Map("service.name" -> "checkout"), 0)
    val scope = TScope("lib", "1.0", Map.empty, 0)
    val t0 = 1709623800000000000L
    def span(tid: String, sid: String, name: String, durNs: Long, code: Int) =
      TSpan(tid, sid, "", "", 0, name, 2, t0, t0 + durNs, Map.empty, 0,
            Seq.empty, 0, Seq.empty, 0, TStatus(code, ""))
    val spans = OtelTraces.flatten(Seq(TraceBatch(res, scope, Seq(
      span("t1", "s1", "GET /cart", 5000000L, 0),
      span("t1", "s2", "SELECT", 2000000L, 0),
      span("t2", "s3", "GET /pay", 9000000L, 2)))).toDF())

    // two exemplars resolve (one to the slow error span), one points at a
    // trace that was sampled out of ingestion
    val metrics = OtelMetrics.flattenGauge(Seq(GaugeBatch(res, scope,
      MMetric("http.latency", "", "ms", Map.empty, 0, false), Seq(
        GPoint(t0, t0, Map.empty, 0, Some(1.0), None, Seq(
          MExemplar(t0 + 1, Some(5.0), None, "s1", "t1", Map.empty),
          MExemplar(t0 + 2, Some(9.0), None, "s3", "t2", Map.empty))),
        GPoint(t0 + 10, t0, Map.empty, 0, Some(2.0), None, Seq(
          MExemplar(t0 + 3, Some(7.0), None, "sX", "tX", Map.empty)))))).toDF())

    val out = OtelAnalytics.exemplarTraces(metrics, spans).collect()
    assert(out.length === 3)
    val byTrace = out.map(r => r.getAs[String]("trace_id") -> r).toMap
    assert(byTrace("t1").getAs[String]("span_name") === "GET /cart")
    assert(byTrace("t1").getAs[Double]("duration_ms") === 5.0)
    assert(byTrace("t2").getAs[String]("status_code") === "ERROR" &&
           byTrace("t2").getAs[Boolean]("span_found"))
    assert(!byTrace("tX").getAs[Boolean]("span_found") &&
           byTrace("tX").getAs[String]("service_name") == null)
    assert(out.forall(_.getAs[String]("metric_name") === "http.latency"))
  }
}
