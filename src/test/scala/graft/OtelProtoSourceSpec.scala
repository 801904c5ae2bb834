package graft

import java.nio.file.{Files, Paths}

import graft.sources.{OtelJsonSource, OtelProtoSource}
import graft.{ProtoWriter => W}

/** OTLP/protobuf wire-format parity: the same telemetry encoded as
  * proto3 wire bytes and as OTLP/JSON must decode to IDENTICAL batch
  * rows (and flow through the flattens identically). The test encoder
  * ([[ProtoWriter]]) writes the wire format from the public
  * opentelemetry-proto field numbers independently of the decoder's
  * reading loop, so a misread tag/wire-type shows up as a parity
  * failure, not a silent agreement. */
class OtelProtoSourceSpec extends SparkSpec {

  private def kvStr(k: String, v: String): W =
    new W().str(1, k).msg(2, new W().str(1, v))
  private def kvInt(k: String, v: Long): W =
    new W().str(1, k).msg(2, new W().vint(3, v))
  private def kvDbl(k: String, v: Double): W =
    new W().str(1, k).msg(2, new W().dbl(4, v))
  private def kvBool(k: String, v: Boolean): W =
    new W().str(1, k).msg(2, new W().vint(2, if (v) 1 else 0))

  private val attrsJson =
    """[{"key":"svc","value":{"stringValue":"checkout"}},
      |{"key":"n","value":{"intValue":"7"}},
      |{"key":"load","value":{"doubleValue":2.5}},
      |{"key":"ok","value":{"boolValue":true}}]""".stripMargin.replace("\n", "")
  private def attrsInto(w: W, field: Int): W =
    w.msg(field, kvStr("svc", "checkout")).msg(field, kvInt("n", 7))
      .msg(field, kvDbl("load", 2.5)).msg(field, kvBool("ok", true))

  private def resourceW: W = attrsInto(new W(), 1).vint(2, 1)
  private val resourceJson = s"""{"attributes":$attrsJson,"droppedAttributesCount":1}"""
  private def scopeW: W =
    attrsInto(new W().str(1, "lib").str(2, "1.2"), 3).vint(4, 2)
  private val scopeJson =
    s"""{"name":"lib","version":"1.2","attributes":$attrsJson,"droppedAttributesCount":2}"""

  private def writeTo(dir: String, name: String, bytes: Array[Byte]): String = {
    val d = Paths.get(dir); Files.createDirectories(d)
    Files.write(d.resolve(name), bytes); dir
  }

  test("decoder is field-ORDER-insensitive and skips unknown fields (fuzz)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import OtelProtoSource.{PbSpan, PbStatus}
    // a span's wire fields as independent (writer-fragment, expectation)
    // pairs; serializing them in ANY permutation — with unknown fields
    // interleaved — must decode to the same span. Proto3 serializers are
    // free to reorder fields, so order-insensitivity is a protocol
    // requirement, not a nicety.
    val idGen = Gen.listOfN(8, Gen.choose(0, 255))
      .map(_.map(b => f"$b%02x").mkString)
    val spanGen = for {
      tid <- idGen; sid <- idGen
      name <- Gen.alphaNumStr.map(_.take(12))
      kind <- Gen.choose(0, 5)
      start <- Gen.choose(1L, Long.MaxValue / 2)
      dur <- Gen.choose(0L, 1000000000L)
      code <- Gen.choose(0, 2)
      flags <- Gen.choose(0, 1 << 20)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (tid, sid, name, kind, start, dur, code, flags, seed)
    val prop = Prop.forAll(spanGen) {
      case (tid, sid, name, kind, start, dur, code, flags, seed) =>
        val fragments: List[(W => W)] = List(
          _.hex(1, tid), _.hex(2, sid), _.str(5, name), _.vint(6, kind.toLong),
          _.fixed64(7, start), _.fixed64(8, start + dur),
          _.msg(15, new W().str(2, "m").vint(3, code.toLong)),
          _.fixed32(16, flags),
          // unknown fields the decoder must skip: varint, fixed64,
          // length-delimited, fixed32 at unassigned tag numbers
          _.vint(900, 42L), _.fixed64(901, 7L),
          _.str(902, "future-proto-field"), _.fixed32(903, 9))
        val shuffled = new scala.util.Random(seed).shuffle(fragments)
        val w = shuffled.foldLeft(new W())((acc, f) => f(acc))
        val req = new W().msg(1, new W()
          .msg(2, new W().msg(2, w)))
        val out = OtelProtoSource.decodeTraces(req.toBytes)
        val expected = PbSpan(tid, sid, "", "", flags, name, kind, start,
          start + dur, Map.empty, 0, Seq.empty, 0, Seq.empty, 0,
          PbStatus(code, "m"))
        out.length == 1 && out.head.spans == Seq(expected)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.toString)
  }

  test("exp-histogram point decode survives field order, packed/unpacked repeats, zigzag extremes (fuzz)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import OtelProtoSource.{PbBuckets, PbExpHistPoint}
    val prop = Prop.forAll(
      for {
        scale <- Gen.choose(-20, 20)
        offP <- Gen.choose(-100, 100); offN <- Gen.choose(-100, 100)
        cntsP <- Gen.listOf(Gen.choose(0L, 1L << 40)).map(_.take(6))
        cntsN <- Gen.listOf(Gen.choose(0L, 1L << 40)).map(_.take(6))
        count <- Gen.choose(0L, Long.MaxValue)
        packed <- Gen.oneOf(true, false)
        seed <- Gen.choose(0L, Long.MaxValue)
      } yield (scale, offP, offN, cntsP, cntsN, count, packed, seed)) {
      case (scale, offP, offN, cntsP, cntsN, count, packed, seed) =>
        def buckets(off: Int, cnts: Seq[Long]): W = {
          val w = new W().sint32(1, off)
          if (packed) w.packedVarints(2, cnts)
          else { cnts.foreach(c => w.vint(2, c)); w }
        }
        val fragments: List[(W => W)] = List(
          _.sint32(6, scale), _.fixed64(4, count),
          _.msg(8, buckets(offP, cntsP)), _.msg(9, buckets(offN, cntsN)),
          _.fixed64(3, 77L), _.dbl(14, 0.5),
          _.str(800, "unknown"), _.vint(801, 3L))
        val shuffled = new scala.util.Random(seed).shuffle(fragments)
        val point = shuffled.foldLeft(new W())((acc, f) => f(acc))
        val req = new W().msg(1, new W().msg(2, new W().msg(2,
          new W().str(1, "m").msg(10, new W().msg(1, point).vint(2, 1)))))
        val bytes = req.toBytes
        val got = OtelProtoSource.decodeMetricScopes(bytes)
          .collect { case (_, _, m) if m.kind == 3 => m.exp }.flatten
        val expected = PbExpHistPoint(77L, 0L, Map.empty, 0, count, None,
          None, None, scale, 0L, 0.5, PbBuckets(offP, cntsP),
          PbBuckets(offN, cntsN), Seq.empty)
        got == Seq(expected)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.toString)
  }

  test("trace wire bytes and OTLP/JSON decode to identical batches and flattens") {
    val base = tempDir("graft-otlp-pb")

    val span1 = new W()
      .hex(1, "0102030405060708090a0b0c0d0e0f10").hex(2, "1112131415161718")
      .str(3, "w3c=1").hex(4, "2122232425262728").str(5, "GET /cart").vint(6, 3)
      .fixed64(7, 1700000000000000001L).fixed64(8, 1700000000500000001L)
    attrsInto(span1, 9)
    span1.vint(10, 3)
      .msg(11, attrsInto(new W().fixed64(1, 1700000000100000001L).str(2, "cache.miss"), 3).vint(4, 1))
      .vint(12, 1)
      .msg(13, attrsInto(new W().hex(1, "0102030405060708090a0b0c0d0e0f10")
        .hex(2, "3132333435363738").str(3, "st"), 4).vint(5, 2).fixed32(6, 256))
      .vint(14, 1)
      .msg(15, new W().str(2, "boom").vint(3, 2))
      .fixed32(16, 1)
    val span2 = new W().hex(1, "0102030405060708090a0b0c0d0e0f10")
      .hex(2, "4142434445464748").str(5, "inner").fixed64(7, 1700000000100000001L)
      .fixed64(8, 1700000000200000001L)

    val req = new W().msg(1, new W()
      .msg(1, resourceW)
      .msg(2, new W().msg(1, scopeW).msg(2, span1).msg(2, span2))
      .msg(2, new W().msg(1, new W().str(1, "lib2")).msg(2, span2)))
    writeTo(s"$base/pb", "traces.pb", req.toBytes)

    val span1Json =
      s"""{"traceId":"0102030405060708090a0b0c0d0e0f10","spanId":"1112131415161718",
         |"traceState":"w3c=1","parentSpanId":"2122232425262728","name":"GET /cart","kind":3,
         |"startTimeUnixNano":"1700000000000000001","endTimeUnixNano":"1700000000500000001",
         |"attributes":$attrsJson,"droppedAttributesCount":3,
         |"events":[{"timeUnixNano":"1700000000100000001","name":"cache.miss",
         |"attributes":$attrsJson,"droppedAttributesCount":1}],"droppedEventsCount":1,
         |"links":[{"traceId":"0102030405060708090a0b0c0d0e0f10","spanId":"3132333435363738",
         |"traceState":"st","attributes":$attrsJson,"droppedAttributesCount":2,"flags":256}],
         |"droppedLinksCount":1,"status":{"code":2,"message":"boom"},"flags":1}""".stripMargin.replace("\n", "")
    val span2Json =
      s"""{"traceId":"0102030405060708090a0b0c0d0e0f10","spanId":"4142434445464748",
         |"name":"inner","startTimeUnixNano":"1700000000100000001",
         |"endTimeUnixNano":"1700000000200000001"}""".stripMargin.replace("\n", "")
    val line =
      s"""{"resourceSpans":[{"resource":$resourceJson,"scopeSpans":[
         |{"scope":$scopeJson,"spans":[$span1Json,$span2Json]},
         |{"scope":{"name":"lib2"},"spans":[$span2Json]}]}]}""".stripMargin.replace("\n", "")
    Files.write(Paths.get(s"$base/traces.json"), line.getBytes("UTF-8"))

    val pb = OtelProtoSource.traces(spark, s"$base/pb")
    val js = OtelJsonSource.traces(spark, s"$base/traces.json")
    assert(pb.toJSON.collect().toSeq === js.toJSON.collect().toSeq)

    val fPb = graft.otel.OtelTraces.flatten(pb)
    val fJs = graft.otel.OtelTraces.flatten(js)
    assert(fPb.toJSON.collect().toSeq === fJs.toJSON.collect().toSeq)
    assert(fPb.count() === 3)
  }

  test("log wire bytes and OTLP/JSON decode identically (string and int bodies)") {
    val base = tempDir("graft-otlp-pb-log")

    val rec1 = attrsInto(new W().fixed64(1, 1700000001000000001L).vint(2, 17)
      .str(3, "ERROR").msg(5, new W().str(1, "disk full")), 6)
      .vint(7, 4).fixed32(8, 1)
      .hex(9, "0102030405060708090a0b0c0d0e0f10").hex(10, "1112131415161718")
      .fixed64(11, 1700000001000000501L).str(12, "device.disk")
    val rec2 = new W().fixed64(1, 1700000002000000001L)
      .msg(5, new W().vint(3, -5L))
    val req = new W().msg(1, new W().msg(1, resourceW)
      .msg(2, new W().msg(1, scopeW).msg(2, rec1).msg(2, rec2)))
    writeTo(s"$base/pb", "logs.pb", req.toBytes)

    val line =
      s"""{"resourceLogs":[{"resource":$resourceJson,"scopeLogs":[{"scope":$scopeJson,
         |"logRecords":[{"timeUnixNano":"1700000001000000001","severityNumber":17,
         |"severityText":"ERROR","body":{"stringValue":"disk full"},"attributes":$attrsJson,
         |"droppedAttributesCount":4,"flags":1,"traceId":"0102030405060708090a0b0c0d0e0f10",
         |"spanId":"1112131415161718","observedTimeUnixNano":"1700000001000000501",
         |"eventName":"device.disk"},
         |{"timeUnixNano":"1700000002000000001","body":{"intValue":"-5"}}]}]}]}""".stripMargin.replace("\n", "")
    Files.write(Paths.get(s"$base/logs.json"), line.getBytes("UTF-8"))

    val pb = OtelProtoSource.logs(spark, s"$base/pb")
    val js = OtelJsonSource.logs(spark, s"$base/logs.json")
    assert(pb.toJSON.collect().toSeq === js.toJSON.collect().toSeq)
    assert(graft.otel.OtelLogs.flatten(pb).toJSON.collect().toSeq ===
           graft.otel.OtelLogs.flatten(js).toJSON.collect().toSeq)
  }

  test("all five metric types decode identically from wire bytes and JSON") {
    val base = tempDir("graft-otlp-pb-met")

    val exemplar = attrsInto(new W().fixed64(2, 1700000003000000001L).dbl(3, 9.5)
      .hex(4, "1112131415161718").hex(5, "0102030405060708090a0b0c0d0e0f10"), 7)
    val exemplarJson =
      s"""{"timeUnixNano":"1700000003000000001","asDouble":9.5,
         |"spanId":"1112131415161718","traceId":"0102030405060708090a0b0c0d0e0f10",
         |"filteredAttributes":$attrsJson}""".stripMargin.replace("\n", "")

    val gaugePoint1 = attrsInto(new W().fixed64(2, 1700000000000000001L)
      .fixed64(3, 1700000003000000001L).dbl(4, 3.5).msg(5, exemplar), 7).vint(8, 1)
    val gaugePoint2 = new W().fixed64(3, 1700000004000000001L).fixed64(6, 42L)
    val gauge = new W().str(1, "cpu.load").str(2, "load").str(3, "1")
      .msg(5, new W().msg(1, gaugePoint1).msg(1, gaugePoint2))
      .msg(12, kvStr("origin", "agent"))
    val sumM = new W().str(1, "requests").msg(7, new W().msg(1, gaugePoint2)
      .vint(2, 2).vint(3, 1))
    val histPoint = attrsInto(new W().fixed64(2, 1700000000000000001L)
      .fixed64(3, 1700000005000000001L).fixed64(4, 10L).dbl(5, 55.5)
      .packedFixed64(6, Seq(1L, 4L, 5L)).packedDoubles(7, Seq(0.5, 2.5))
      .msg(8, exemplar), 9).vint(10, 0).dbl(11, 0.1).dbl(12, 20.5)
    val histM = new W().str(1, "latency").msg(9, new W().msg(1, histPoint).vint(2, 1))
    val expPoint = attrsInto(new W(), 1).fixed64(2, 1700000000000000001L)
      .fixed64(3, 1700000006000000001L).fixed64(4, 7L).dbl(5, 12.25)
      .sint32(6, -2).fixed64(7, 2L)
      .msg(8, new W().sint32(1, 3).packedVarints(2, Seq(1L, 2L)))
      .msg(9, new W().sint32(1, -3).packedVarints(2, Seq(4L)))
      .vint(10, 1).dbl(14, 0.001)
    val expM = new W().str(1, "latency.exp").msg(10, new W().msg(1, expPoint).vint(2, 2))
    val sumPoint = attrsInto(new W().fixed64(2, 1700000000000000001L)
      .fixed64(3, 1700000007000000001L).fixed64(4, 100L).dbl(5, 999.5)
      .msg(6, new W().dbl(1, 0.5).dbl(2, 1.25))
      .msg(6, new W().dbl(1, 0.99).dbl(2, 9.75)), 7)
    val summaryM = new W().str(1, "rpc.duration").msg(11, new W().msg(1, sumPoint))

    val req = new W().msg(1, new W().msg(1, resourceW)
      .msg(2, new W().msg(1, scopeW).msg(2, gauge).msg(2, sumM).msg(2, histM)
        .msg(2, expM).msg(2, summaryM)))
    writeTo(s"$base/pb", "metrics.pb", req.toBytes)

    val line =
      s"""{"resourceMetrics":[{"resource":$resourceJson,"scopeMetrics":[{"scope":$scopeJson,
         |"metrics":[
         |{"name":"cpu.load","description":"load","unit":"1","metadata":[{"key":"origin",
         |"value":{"stringValue":"agent"}}],"gauge":{"dataPoints":[
         |{"startTimeUnixNano":"1700000000000000001","timeUnixNano":"1700000003000000001",
         |"asDouble":3.5,"exemplars":[$exemplarJson],"attributes":$attrsJson,"flags":1},
         |{"timeUnixNano":"1700000004000000001","asInt":"42"}]}},
         |{"name":"requests","sum":{"dataPoints":[{"timeUnixNano":"1700000004000000001",
         |"asInt":"42"}],"aggregationTemporality":2,"isMonotonic":true}},
         |{"name":"latency","histogram":{"dataPoints":[
         |{"startTimeUnixNano":"1700000000000000001","timeUnixNano":"1700000005000000001",
         |"count":"10","sum":55.5,"bucketCounts":["1","4","5"],"explicitBounds":[0.5,2.5],
         |"exemplars":[$exemplarJson],"attributes":$attrsJson,"flags":0,"min":0.1,
         |"max":20.5}],"aggregationTemporality":1}},
         |{"name":"latency.exp","exponentialHistogram":{"dataPoints":[
         |{"attributes":$attrsJson,"startTimeUnixNano":"1700000000000000001",
         |"timeUnixNano":"1700000006000000001","count":"7","sum":12.25,"scale":-2,
         |"zeroCount":"2","positive":{"offset":3,"bucketCounts":["1","2"]},
         |"negative":{"offset":-3,"bucketCounts":["4"]},"flags":1,
         |"zeroThreshold":0.001}],"aggregationTemporality":2}},
         |{"name":"rpc.duration","summary":{"dataPoints":[
         |{"startTimeUnixNano":"1700000000000000001","timeUnixNano":"1700000007000000001",
         |"count":"100","sum":999.5,"quantileValues":[{"quantile":0.5,"value":1.25},
         |{"quantile":0.99,"value":9.75}],"attributes":$attrsJson}]}}]}]}]}""".stripMargin.replace("\n", "")
    Files.write(Paths.get(s"$base/metrics.json"), line.getBytes("UTF-8"))

    def pairs = Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                     (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      ("gauge", OtelProtoSource.metricsGauge, OtelJsonSource.metricsGauge),
      ("sum", OtelProtoSource.metricsSum, OtelJsonSource.metricsSum),
      ("histogram", OtelProtoSource.metricsHistogram, OtelJsonSource.metricsHistogram),
      ("exp_histogram", OtelProtoSource.metricsExponentialHistogram,
        OtelJsonSource.metricsExponentialHistogram),
      ("summary", OtelProtoSource.metricsSummary, OtelJsonSource.metricsSummary))
    pairs.foreach { case (name, pbF, jsF) =>
      val pb = pbF(spark, s"$base/pb").toJSON.collect().toSeq
      val js = jsF(spark, s"$base/metrics.json").toJSON.collect().toSeq
      assert(pb.nonEmpty, s"$name: proto decoded no rows")
      assert(pb === js, s"$name mismatch:\n  pb=$pb\n  js=$js")
    }
  }

  /** All five metric streaming twins must decode the spool identically
    * to their batch counterparts — the reference exports every type
    * continuously (metrics.go, five tables), so the collector-tail
    * pipeline can't be gauge/sum-only. */
  test("all five metric streaming twins match their batch decodes") {
    val base = tempDir("graft-otlp-pb-stream")
    val spool = s"$base/pb"
    val point = new W().fixed64(3, 1700000004000000001L).fixed64(6, 42L)
    val gauge = new W().str(1, "cpu.load").msg(5, new W().msg(1, point))
    val sumM = new W().str(1, "requests").msg(7, new W().msg(1, point)
      .vint(2, 2).vint(3, 1))
    val histPoint = new W().fixed64(3, 1700000005000000001L).fixed64(4, 10L)
      .dbl(5, 55.5).packedFixed64(6, Seq(1L, 4L, 5L)).packedDoubles(7, Seq(0.5, 2.5))
    val histM = new W().str(1, "latency").msg(9, new W().msg(1, histPoint).vint(2, 1))
    val expPoint = new W().fixed64(3, 1700000006000000001L).fixed64(4, 7L)
      .dbl(5, 12.25).sint32(6, -2).fixed64(7, 2L)
      .msg(8, new W().sint32(1, 3).packedVarints(2, Seq(1L, 2L)))
    val expM = new W().str(1, "latency.exp").msg(10, new W().msg(1, expPoint).vint(2, 2))
    val sPoint = new W().fixed64(3, 1700000007000000001L).fixed64(4, 100L)
      .dbl(5, 999.5).msg(6, new W().dbl(1, 0.5).dbl(2, 1.25))
    val summaryM = new W().str(1, "rpc.duration").msg(11, new W().msg(1, sPoint))
    val req = new W().msg(1, new W().msg(1, resourceW)
      .msg(2, new W().msg(1, scopeW).msg(2, gauge).msg(2, sumM).msg(2, histM)
        .msg(2, expM).msg(2, summaryM)))
    writeTo(spool, "metrics.pb", req.toBytes)

    val pairs = Seq[(String,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      ("pbs_gauge", OtelProtoSource.metricsGaugeStream(_, _), OtelProtoSource.metricsGauge),
      ("pbs_sum", OtelProtoSource.metricsSumStream(_, _), OtelProtoSource.metricsSum),
      ("pbs_hist", OtelProtoSource.metricsHistogramStream(_, _),
        OtelProtoSource.metricsHistogram),
      ("pbs_exph", OtelProtoSource.metricsExponentialHistogramStream(_, _),
        OtelProtoSource.metricsExponentialHistogram),
      ("pbs_summ", OtelProtoSource.metricsSummaryStream(_, _),
        OtelProtoSource.metricsSummary))
    pairs.foreach { case (name, streamF, batchF) =>
      val q = streamF(spark, spool).writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(name).toJSON.collect().sorted.toSeq
      val want = batchF(spark, spool).toJSON.collect().sorted.toSeq
      assert(got.nonEmpty, s"$name: stream decoded no rows")
      assert(got === want, s"$name: stream != batch decode")
    }
  }

  /** r6 (ADVICE): the Reader must fail LOUDLY on malformed input — a
    * truncated buffer or a hostile length must raise the decoder's own
    * IllegalArgumentException, never a raw ArrayIndexOutOfBounds, a
    * silent misread into sibling bytes, or (negative length moving pos
    * backwards) a non-terminating loop on an executor. */
  test("malformed input: every truncation and hostile length fails loudly") {
    val good = new W().msg(1, new W()
      .msg(1, resourceW)
      .msg(2, new W().msg(1, scopeW).msg(2, new W()
        .hex(1, "0102030405060708090a0b0c0d0e0f10").hex(2, "1112131415161718")
        .str(5, "GET /").vint(6, 2L)
        .fixed64(7, 1700000000000000000L).fixed64(8, 1700000001000000000L))))
      .toBytes
    assert(OtelProtoSource.decodeTraces(good).nonEmpty)
    // every strict prefix decodes to SOMETHING or raises IAE — nothing else
    (0 until good.length).foreach { cut =>
      try { OtelProtoSource.decodeTraces(good.take(cut)); () }
      catch {
        case _: IllegalArgumentException => ()
        // any other throwable (AIOOBE, NPE) propagates and fails the test
      }
    }
    // length varint that is negative as a Long (10×0xFF + 0x01 = -1):
    // previously pos += -1 walked BACKWARDS — an infinite loop
    val negLen = Array[Byte](0x0a) ++ Array.fill(9)(0xff.toByte) :+ 0x01.toByte
    intercept[IllegalArgumentException] { OtelProtoSource.decodeTraces(negLen) }
    // length far past the buffer end
    val overLen = Array[Byte](0x0a, 0x7f, 0x01)
    intercept[IllegalArgumentException] { OtelProtoSource.decodeTraces(overLen) }
    // logs and metrics go through the same Reader
    intercept[IllegalArgumentException] { OtelProtoSource.decodeLogs(negLen) }
    intercept[IllegalArgumentException] {
      OtelProtoSource.decodeMetricScopes(negLen)
    }
  }
}
