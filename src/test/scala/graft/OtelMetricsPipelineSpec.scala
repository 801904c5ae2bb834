package graft

import java.nio.file.{Files, Paths}

import graft.config.ExporterConfig._
import graft.otel.{OtelMetrics, OtelMetricsPipeline}
import graft.sources.OtelJsonSource

/** The five-table metrics exporter loop end to end: one spool feeds
  * five streaming queries, each landing its own partitioned table
  * under the config's naming rules, exactly-once per table across
  * restarts — exporter.go's consumeMetrics → metrics.go's five arrow
  * tables, pull-side. */
class OtelMetricsPipelineSpec extends SparkSpec {

  private val res = """{"attributes":[{"key":"service.name","value":{"stringValue":"checkout"}}]}"""
  private def line(n: Long) =
    s"""{"resourceMetrics":[{"resource":$res,"scopeMetrics":[{"scope":{"name":"lib"},
       |"metrics":[
       |{"name":"cpu.load","gauge":{"dataPoints":[{"timeUnixNano":"$n","asDouble":0.7}]}},
       |{"name":"requests","sum":{"dataPoints":[{"timeUnixNano":"$n","asInt":"42"}],
       |"aggregationTemporality":2,"isMonotonic":true}},
       |{"name":"latency","histogram":{"dataPoints":[{"timeUnixNano":"$n","count":"10",
       |"sum":55.5,"bucketCounts":["1","4","5"],"explicitBounds":[0.5,2.5]}],
       |"aggregationTemporality":1}},
       |{"name":"latency.exp","exponentialHistogram":{"dataPoints":[{"timeUnixNano":"$n",
       |"count":"7","sum":12.25,"scale":-2,"zeroCount":"2",
       |"positive":{"offset":3,"bucketCounts":["1","2"]}}],"aggregationTemporality":2}},
       |{"name":"rpc.duration","summary":{"dataPoints":[{"timeUnixNano":"$n",
       |"count":"100","sum":999.5,"quantileValues":[{"quantile":0.5,"value":1.25}]}]}}
       |]}]}]}""".stripMargin.replace("\n", "")

  test("one spool drains into five partitioned tables, exactly once across restarts") {
    val base = tempDir("graft-met-pipe")
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    val t0 = 1709623800000000003L
    Files.write(Paths.get(s"$spool/m1.json"), line(t0).getBytes("UTF-8"))

    val cfg = Config(Filesystem(base), Catalog("none"),
      tables = TableNames(metrics = "mx"))
    def drain(): Unit = OtelMetricsPipeline
      .startAll(spark, spool, cfg, s"$base/chk", format = "json")
      .values.foreach(_.awaitTermination())
    drain()

    val expect = Map(
      "mx_gauge" -> OtelMetrics.flattenGauge(
        OtelJsonSource.metricsGauge(spark, s"$spool/m1.json")),
      "mx_sum" -> OtelMetrics.flattenSum(
        OtelJsonSource.metricsSum(spark, s"$spool/m1.json")),
      "mx_histogram" -> OtelMetrics.flattenHistogram(
        OtelJsonSource.metricsHistogram(spark, s"$spool/m1.json")),
      "mx_exponential_histogram" -> OtelMetrics.flattenExponentialHistogram(
        OtelJsonSource.metricsExponentialHistogram(spark, s"$spool/m1.json")),
      "mx_summary" -> OtelMetrics.flattenSummary(
        OtelJsonSource.metricsSummary(spark, s"$spool/m1.json")))
    val partCols = Seq("year", "month", "day", "hour")
    expect.foreach { case (table, batch) =>
      val out = spark.read.parquet(s"$base/$table")
      assert(out.count() === 1L, s"$table row count")
      partCols.foreach(c => assert(out.columns.contains(c), s"$table/$c"))
      assert(out.drop(partCols: _*).toJSON.collect().sorted.toSeq ===
        batch.toJSON.collect().sorted.toSeq, s"$table != batch flatten")
    }

    // restart with no new files: no duplicates anywhere; a new spool
    // file lands exactly once per table
    drain()
    expect.keys.foreach(t =>
      assert(spark.read.parquet(s"$base/$t").count() === 1L, s"$t duped"))
    Files.write(Paths.get(s"$spool/m2.json"), line(t0 + 1).getBytes("UTF-8"))
    drain()
    expect.keys.foreach(t =>
      assert(spark.read.parquet(s"$base/$t").count() === 2L, s"$t delta"))
  }
}
