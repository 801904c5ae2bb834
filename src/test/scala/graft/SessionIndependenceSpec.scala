package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{IcebergMaintenance, IcebergTableReader}
import graft.functions.GraftFunctions
import graft.otel.OtelAnalytics
import graft.sink.PartitionedParquetSink
import graft.sink.PartitionedParquetSink.SinkConfig
import graft.streaming.StreamingIngest

/** DataFrame code reaches graft's native functions through the typed
  * builders, so the public APIs built on them work — and plan the same
  * operators — in a session nobody has registered anything in. The
  * registry queries get the same check in PlanHygieneSpec; the source
  * guard keeps `src/main` off the name-lookup path. */
class SessionIndependenceSpec extends SparkSpec {
  import PlanHygieneSpec.{inFreshSession, nodeNames}

  private def flatSpans(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    ("t1", "a", null, "GET /x", 100L, 200L, "OK"),
    ("t1", "b", "a", "db.q", 110L, 150L, "ERROR"),
    ("t2", "c", null, "GET /y", 300L, 340L, "OK")))
    .toDF("trace_id", "span_id", "parent_span_id", "span_name",
      "start_time_unix_nano", "end_time_unix_nano", "status_code")

  /** Public DataFrame APIs outside the registry, each over its input
    * built in the session under test. */
  private val apis: Seq[(String, SparkSession => DataFrame)] = Seq(
    "OtelAnalytics.traceSummary" -> (s => OtelAnalytics.traceSummary(flatSpans(s))),
    "StreamingIngest.trendingTopK" -> (s => StreamingIngest.trendingTopK(Tables.events(s, sf))),
    "StreamingIngest.m4Stream" -> (s => StreamingIngest.m4Stream(Tables.events(s, sf))),
    "IcebergMaintenance.bucketClustered" ->
      (s => IcebergMaintenance.bucketClustered(Tables.events(s, sf), "user_id", 8)))

  test("public DataFrame APIs plan the same operators in a fresh session") {
    GraftFunctions.register(spark)
    apis.foreach { case (name, build) =>
      val shared = nodeNames(build(spark).queryExecution.executedPlan)
      val fresh = inFreshSession(spark) { s =>
        Try(nodeNames(build(s).queryExecution.executedPlan)).toEither.left.map(_.getMessage)
      }
      assert(fresh === Right(shared), name)
    }
  }

  test("writeNdvIndex and a hilbert writeBatch run in a fresh session") {
    val base = tempDir("graft-fresh-session")
    try {
      val events = Tables.events(spark, sf)
      events.write.parquet(s"$base/src")
      val (nTypes, nRows) = (events.select("event_type").distinct().count(), events.count())
      inFreshSession(spark) { s =>
        val loc = s"$base/tbl"
        IcebergMaintenance.rewriteBucketed(s, s"$base/src", loc, "user_id", 4)
        IcebergMaintenance.writeNdvIndex(s, loc, Seq("event_type"))
        val ndv = IcebergTableReader.ndvFromStats(s, loc)
          .where("column = 'event_type'").select("ndv", "exact").collect()
        assert(ndv.length === 1 && ndv(0).getLong(0) === nTypes && ndv(0).getBoolean(1))

        PartitionedParquetSink.writeBatch(Tables.events(s, sf),
          SinkConfig(base, "hil", tsColumn = "ts", granularity = "monthly",
            writeTasks = Some(1), zOrderBy = Seq("user_id", "event_id"), curve = "hilbert"))
        assert(s.read.parquet(s"$base/hil").count() === nRows)
      }
    } finally FileUtils.deleteDirectory(new File(base))
  }

  test("src/main names no native function through call_function") {
    val names = GraftFunctions.descriptors.map(_._1.funcName).toSet
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val call = """call_function\(\s*"([^"]+)"""".r
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .flatMap { (p: Path) =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        call.findAllMatchIn(text).filter(m => names(m.group(1))).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          s"$p:$line: call_function(\"${m.group(1)}\") — use the GraftFunctions builder"
        }
      }
    assert(names.size === GraftFunctions.descriptors.size)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
