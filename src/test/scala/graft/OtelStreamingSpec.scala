package graft

import java.nio.file.{Files, Paths}

import graft.config.ExporterConfig._
import graft.otel.{OtelLogs, OtelMetrics, OtelTraces}
import graft.sources.OtelJsonSource
import graft.streaming.StreamingIngest

/** The reference exporter's CONTINUOUS loop, file-fed: a collector
  * drops OTLP/JSON request files, the streaming source tails them, the
  * flattens (narrow, streaming-safe) produce the flat tables, and the
  * partitioned sink lands them — with exactly-once file-log semantics
  * across restarts. */
class OtelStreamingSpec extends SparkSpec {

  private val res = """{"attributes":[{"key":"service.name","value":{"stringValue":"checkout"}}]}"""
  private def traceLine(tid: String, startNs: Long): String =
    s"""{"resourceSpans":[{"resource":$res,"scopeSpans":[{"scope":{"name":"lib"},
       |"spans":[{"traceId":"$tid","spanId":"1112131415161718","name":"GET /",
       |"kind":2,"startTimeUnixNano":"$startNs","endTimeUnixNano":"${startNs + 5000000}",
       |"status":{"code":0}}]}]}]}""".stripMargin.replace("\n", "")

  test("streamed OTLP traces flatten and land partitioned, exactly once across restarts") {
    val base = tempDir("graft-otlp-stream")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))
    val t0 = 1709623800000000000L // 2024-03-05T07:30Z
    Files.write(Paths.get(s"$srcDir/r1.json"),
      (traceLine("0102030405060708090a0b0c0d0e0f10", t0) + "\n" +
       traceLine("0102030405060708090a0b0c0d0e0f11", t0 + 1)).getBytes("UTF-8"))

    val cfg = Config(Filesystem(base), Catalog("none"))
      .sinkFor("traces", tsColumn = "start_time_unix_nano")
    def runOnce(): Unit =
      StreamingIngest.ingest(
        OtelTraces.flatten(OtelJsonSource.tracesStream(spark, srcDir)),
        cfg, s"$base/chk").awaitTermination()
    runOnce()

    val table = s"$base/otel_traces"
    val out = spark.read.parquet(table)
    assert(out.count() === 2)
    assert(out.columns.contains("service_name") && out.columns.contains("hour"))

    // streamed rows == batch-flattened rows (modulo partition columns)
    val batch = OtelTraces.flatten(OtelJsonSource.traces(spark, s"$srcDir/r1.json"))
    val partCols = Seq("year", "month", "day", "hour")
    assert(out.drop(partCols: _*).toJSON.collect().sorted.toSeq ===
           batch.toJSON.collect().sorted.toSeq)

    // restart with no new files: nothing duplicated; new file: delta only
    runOnce()
    assert(spark.read.parquet(table).count() === 2)
    Files.write(Paths.get(s"$srcDir/r2.json"),
      traceLine("0102030405060708090a0b0c0d0e0f12", t0 + 2).getBytes("UTF-8"))
    runOnce()
    assert(spark.read.parquet(table).count() === 3)
  }

  test("streamed OTLP logs and gauge metrics match their batch flattens") {
    val base = tempDir("graft-otlp-stream2")
    val logDir = s"$base/logs"; val metDir = s"$base/metrics"
    Files.createDirectories(Paths.get(logDir))
    Files.createDirectories(Paths.get(metDir))
    Files.write(Paths.get(s"$logDir/l1.json"),
      s"""{"resourceLogs":[{"resource":$res,"scopeLogs":[{"scope":{"name":"lib"},
         |"logRecords":[{"timeUnixNano":"1709623800000000001","severityNumber":17,
         |"severityText":"ERROR","body":{"stringValue":"disk full"}}]}]}]}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    Files.write(Paths.get(s"$metDir/m1.json"),
      s"""{"resourceMetrics":[{"resource":$res,"scopeMetrics":[{"scope":{"name":"lib"},
         |"metrics":[{"name":"cpu.load","gauge":{"dataPoints":[
         |{"timeUnixNano":"1709623800000000002","asDouble":0.7}]}}]}]}]}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))

    def drain(name: String, stream: org.apache.spark.sql.DataFrame): Seq[String] = {
      val q = stream.writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).toJSON.collect().sorted.toSeq
    }
    assert(drain("s_logs", OtelLogs.flatten(OtelJsonSource.logsStream(spark, logDir))) ===
      OtelLogs.flatten(OtelJsonSource.logs(spark, s"$logDir/l1.json"))
        .toJSON.collect().sorted.toSeq)
    assert(drain("s_gauge", OtelMetrics.flattenGauge(
        OtelJsonSource.metricsGaugeStream(spark, metDir))) ===
      OtelMetrics.flattenGauge(OtelJsonSource.metricsGauge(spark, s"$metDir/m1.json"))
        .toJSON.collect().sorted.toSeq)
  }

  /** The remaining three metric tables (histogram — the most common
    * production metric type — exponential histogram, summary) stream
    * with the same contract as gauge/sum: batch parity on first drain,
    * exactly-once across restarts, delta-only on new files. */
  test("streamed histogram/exp-histogram/summary match batch flattens, restart delta-only") {
    def histLine(n: Long) =
      s"""{"resourceMetrics":[{"resource":$res,"scopeMetrics":[{"scope":{"name":"lib"},
         |"metrics":[
         |{"name":"latency","histogram":{"dataPoints":[{"timeUnixNano":"$n","count":"10",
         |"sum":55.5,"bucketCounts":["1","4","5"],"explicitBounds":[0.5,2.5]}],
         |"aggregationTemporality":1}},
         |{"name":"latency.exp","exponentialHistogram":{"dataPoints":[{"timeUnixNano":"$n",
         |"count":"7","sum":12.25,"scale":-2,"zeroCount":"2",
         |"positive":{"offset":3,"bucketCounts":["1","2"]},
         |"negative":{"offset":-3,"bucketCounts":["4"]}}],"aggregationTemporality":2}},
         |{"name":"rpc.duration","summary":{"dataPoints":[{"timeUnixNano":"$n",
         |"count":"100","sum":999.5,"quantileValues":[{"quantile":0.5,"value":1.25}]}]}}
         |]}]}]}""".stripMargin.replace("\n", "")
    val base = tempDir("graft-otlp-stream3")
    val metDir = s"$base/metrics"
    Files.createDirectories(Paths.get(metDir))
    val t0 = 1709623800000000003L
    Files.write(Paths.get(s"$metDir/m1.json"), histLine(t0).getBytes("UTF-8"))

    val types = Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      ("hist", OtelMetrics.flattenHistogram,
        OtelJsonSource.metricsHistogramStream(_, _), OtelJsonSource.metricsHistogram),
      ("exph", OtelMetrics.flattenExponentialHistogram,
        OtelJsonSource.metricsExponentialHistogramStream(_, _),
        OtelJsonSource.metricsExponentialHistogram),
      ("summ", OtelMetrics.flattenSummary,
        OtelJsonSource.metricsSummaryStream(_, _), OtelJsonSource.metricsSummary))

    def runOnce(name: String,
                flat: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                stream: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val q = flat(stream(spark, metDir)).writeStream.format("parquet")
        .option("path", s"$base/out_$name")
        .option("checkpointLocation", s"$base/chk_$name")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    types.foreach { case (name, flat, stream, batch) =>
      runOnce(name, flat, stream)
      val got = spark.read.parquet(s"$base/out_$name").toJSON.collect().sorted.toSeq
      val want = flat(batch(spark, s"$metDir/m1.json")).toJSON.collect().sorted.toSeq
      assert(got.nonEmpty, s"$name: stream produced no rows")
      assert(got === want, s"$name: stream != batch flatten")
      // restart with no new files: nothing duplicated
      runOnce(name, flat, stream)
      assert(spark.read.parquet(s"$base/out_$name").count() === want.size.toLong,
        s"$name: restart duplicated rows")
    }
    // new file → each stream picks up ONLY the delta
    Files.write(Paths.get(s"$metDir/m2.json"), histLine(t0 + 1).getBytes("UTF-8"))
    types.foreach { case (name, flat, stream, _) =>
      val before = spark.read.parquet(s"$base/out_$name").count()
      runOnce(name, flat, stream)
      assert(spark.read.parquet(s"$base/out_$name").count() === before * 2,
        s"$name: delta ingest wrong")
    }
  }
}
