package graft

import java.nio.file.{Files, Paths}

import graft.otel.{OtelLogs, OtelMetrics, OtelTraces}
import graft.sources.OtelJsonSource

class OtelJsonSourceSpec extends SparkSpec {

  private def writeLines(lines: String*): String = {
    val f = Paths.get(tempDir("otlp"), "input.json")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("OTLP/JSON traces parse end-to-end through the trace flatten") {
    val path = writeLines(
      """{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-j"}}],"droppedAttributesCount":0},"scopeSpans":[{"scope":{"name":"lib","version":"2.0"},"spans":[{"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"b7ad6b7169203331","traceState":"","parentSpanId":"","name":"GET /api","kind":2,"startTimeUnixNano":"1700000000000000000","endTimeUnixNano":"1700000001500000000","attributes":[{"key":"http.status_code","value":{"intValue":"200"}}],"events":[{"timeUnixNano":"1700000000100000000","name":"ev1","attributes":[]}],"links":[],"status":{"code":1}}]}]}]}""")
    val out = OtelTraces.flatten(OtelJsonSource.traces(spark, path))
    val r = out.collect()(0)
    assert(r.getAs[String]("service_name") === "svc-j")
    assert(r.getAs[String]("span_kind") === "SERVER")
    assert(r.getAs[String]("status_code") === "OK")
    assert(r.getAs[Long]("duration") === 1500000000L)
    assert(r.getAs[String]("span_attributes").contains("\"http.status_code\":\"200\""))
    assert(r.getAs[Seq[String]]("events_name") === Seq("ev1"))
    assert(r.isNullAt(r.fieldIndex("parent_span_id"))) // "" → NULL
    assert(out.columns.length === 33)
  }

  test("OTLP/JSON spans flow end-to-end into spanmetrics RED output") {
    val path = writeLines(
      """{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-red"}}]},"scopeSpans":[{"scope":{"name":"lib"},"spans":[{"traceId":"t1","spanId":"a","name":"GET /y","kind":2,"startTimeUnixNano":"1700000000000000000","endTimeUnixNano":"1700000000010000000","attributes":[],"events":[],"links":[],"status":{"code":1}},{"traceId":"t1","spanId":"b","parentSpanId":"a","name":"GET /y","kind":2,"startTimeUnixNano":"1700000000000000000","endTimeUnixNano":"1700000000030000000","attributes":[],"events":[],"links":[],"status":{"code":2}}]}]}]}""")
    val red = graft.otel.OtelAnalytics.spanMetrics(
      OtelTraces.flatten(OtelJsonSource.traces(spark, path))).collect()
    assert(red.length === 1)
    val r = red(0)
    assert(r.getAs[String]("service_name") === "svc-red")
    assert(r.getAs[Long]("n_spans") === 2L)
    assert(r.getAs[Long]("n_errors") === 1L)
    assert(r.getAs[Double]("error_rate") === 0.5)
  }

  test("OTLP/JSON logs parse with proto3 string int64s and raw scalar body") {
    val path = writeLines(
      """{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-j"}}]},"scopeLogs":[{"scope":{"name":"lib"},"logRecords":[{"timeUnixNano":"1700000000000000000","observedTimeUnixNano":"1700000000000000100","severityNumber":17,"severityText":"ERROR","body":{"stringValue":"it broke"},"attributes":[{"key":"k","value":{"intValue":"7"}}],"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"b7ad6b7169203331"}]}]}]}""")
    val out = OtelLogs.flatten(OtelJsonSource.logs(spark, path))
    val r = out.collect()(0)
    assert(r.getAs[String]("body") === "it broke")
    assert(r.getAs[Int]("severity_number") === 17)
    assert(r.getAs[String]("log_attributes").contains("\"k\":\"7\""))
    assert(r.getAs[String]("trace_id") === "0af7651916cd43dd8448eb211c80319c")
    assert(r.isNullAt(r.fieldIndex("event_name")))
    assert(out.columns.length === 18)
  }

  test("OTLP/JSON metrics route to the five typed flattens") {
    val path = writeLines(
      """{"resourceMetrics":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-m"}}]},"scopeMetrics":[{"scope":{"name":"lib"},"metrics":[""" +
        """{"name":"cpu.load","unit":"1","gauge":{"dataPoints":[{"timeUnixNano":"1700000000000000000","asDouble":0.5,"attributes":[{"key":"core","value":{"intValue":"0"}}],"exemplars":[{"timeUnixNano":"1700000000100000000","asInt":"9","spanId":"s1","traceId":"t1","filteredAttributes":[]}]}]}},""" +
        """{"name":"reqs","sum":{"dataPoints":[{"timeUnixNano":"1700000001000000000","asInt":"42"}],"aggregationTemporality":2,"isMonotonic":true}},""" +
        """{"name":"lat","histogram":{"dataPoints":[{"timeUnixNano":"1700000002000000000","count":"10","sum":55.5,"min":0.5,"max":20.0,"bucketCounts":["1","4","5"],"explicitBounds":[1.0,10.0]}],"aggregationTemporality":1}},""" +
        """{"name":"lat2","exponentialHistogram":{"dataPoints":[{"timeUnixNano":"1700000003000000000","count":"7","sum":9.9,"scale":2,"zeroCount":"1","positive":{"offset":3,"bucketCounts":["2","5"]},"negative":{"offset":0,"bucketCounts":[]}}],"aggregationTemporality":2}},""" +
        """{"name":"gc","summary":{"dataPoints":[{"timeUnixNano":"1700000004000000000","count":"100","sum":123.5,"quantileValues":[{"quantile":0.5,"value":3.0},{"quantile":0.99,"value":17.0}]}]}}""" +
        """]}]}]}""")

    val g = OtelMetrics.flattenGauge(OtelJsonSource.metricsGauge(spark, path)).collect()
    assert(g.length === 1)
    assert(g(0).getAs[Double]("as_double") === 0.5)
    assert(g(0).getAs[String]("service_name") === "svc-m")
    assert(g(0).getAs[Seq[Long]]("exemplars_as_int") === Seq(9L))
    assert(g(0).getAs[Seq[Double]]("exemplars_as_double") === Seq(0.0))

    val s = OtelMetrics.flattenSum(OtelJsonSource.metricsSum(spark, path)).collect()
    assert(s.length === 1 && s(0).getAs[Long]("as_int") === 42L)
    assert(s(0).getAs[String]("aggregation_temporality") === "CUMULATIVE")
    assert(s(0).getAs[Boolean]("is_monotonic"))

    val h = OtelMetrics.flattenHistogram(OtelJsonSource.metricsHistogram(spark, path)).collect()
    assert(h.length === 1 && h(0).getAs[Long]("count") === 10L)
    assert(h(0).getAs[Seq[Long]]("bucket_counts") === Seq(1L, 4L, 5L))
    assert(h(0).getAs[String]("aggregation_temporality") === "DELTA")

    val eh = OtelMetrics.flattenExponentialHistogram(
      OtelJsonSource.metricsExponentialHistogram(spark, path)).collect()
    assert(eh.length === 1 && eh(0).getAs[Int]("positive_offset") === 3)
    assert(eh(0).getAs[Seq[Long]]("positive_buckets") === Seq(2L, 5L))

    val sm = OtelMetrics.flattenSummary(OtelJsonSource.metricsSummary(spark, path)).collect()
    assert(sm.length === 1 && sm(0).getAs[Long]("count") === 100L)
    assert(sm(0).getAs[Seq[Double]]("quantile_values.quantile") === Seq(0.5, 0.99))
  }
}
