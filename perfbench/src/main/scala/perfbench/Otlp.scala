package perfbench

import java.io.ByteArrayOutputStream

import scala.collection.mutable.ArrayBuffer

import graft.sources.OtelProtoSource.{PbEvent, PbResource, PbScope, PbSpan,
  PbStatus, PbTraceBatch}

/** Seeded OTLP trace generator and wire encoder.
  *
  * Every trace is a pure function of (seed, trace index, root start), so
  * the Spark driver can regenerate any trace to check a query answer and
  * executors can generate a corpus in parallel. The encoder writes
  * `ExportTraceServiceRequest` bytes from the public opentelemetry-proto
  * field numbers (trace/v1/trace.proto, common/v1/common.proto,
  * resource/v1/resource.proto, collector/trace/v1/trace_service.proto).
  */
object Otlp {

  val NumServices = 16
  val MaxDepth = 4
  private val MaxSpansPerTrace = 24

  val services: IndexedSeq[String] = (0 until NumServices).map(i => f"svc-$i%02d")
  private val ops = Array("GET /api/items", "POST /api/orders", "GET /api/cart",
    "db.query", "cache.get", "queue.publish", "render", "auth.check")
  private val methods = Array("GET", "POST", "PUT")

  def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, idx: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(splitmix(splitmix(seed ^ (stream << 48)) + idx))

  private def hex16(v: Long): String = f"$v%016x"

  def resource(svc: Int): PbResource = PbResource(Map(
    "service.name" -> services(svc),
    "service.version" -> s"1.${svc % 4}.0",
    "host.name" -> s"host-${svc % 5}",
    "telemetry.sdk.language" -> "java"), 0)

  val scope: PbScope = PbScope("io.opentelemetry.perfbench", "1.32.0", Map.empty, 0)

  /** One trace tree, at most [[MaxDepth]] levels deep: (service, span)
    * pairs in generation order, the root first. */
  def trace(seed: Long, idx: Long, rootStartNs: Long): Array[(Int, PbSpan)] = {
    val r = rng(seed, 1, idx)
    val tid = hex16(r.nextLong()) + hex16(r.nextLong() | 1L)
    val out = ArrayBuffer.empty[(Int, PbSpan)]
    def node(parent: String, svc: Int, kind: Int, depth: Int,
             start: Long, dur: Long): Unit = {
      val sid = hex16(r.nextLong() | 1L)
      val op = ops(r.nextInt(ops.length))
      val error = r.nextInt(100) < 3
      val status =
        if (error) PbStatus(2, "upstream failed")
        else if (r.nextBoolean()) PbStatus(1, "") else PbStatus(0, "")
      val attrs = Map(
        "http.method" -> methods(r.nextInt(methods.length)),
        "http.status_code" -> (if (error) "500" else "200"),
        "peer.service" -> services(r.nextInt(NumServices)))
      val events =
        if (error) Seq(PbEvent(start + dur / 2, "exception",
          Map("exception.type" -> "TimeoutError"), 0))
        else Nil
      out += ((svc, PbSpan(tid, sid, "", parent, 1, op, kind, start,
        start + dur, attrs, 0, events, 0, Nil, 0, status)))
      if (depth + 1 < MaxDepth) {
        val fanout = r.nextInt(if (depth == 0) 4 else 3)
        var childStart = start + dur / 20
        var c = 0
        while (c < fanout && out.size < MaxSpansPerTrace) {
          val cdur = math.max(1000L, dur * (20 + r.nextInt(50)) / 100 / fanout)
          val cross = r.nextInt(100) < 60
          val csvc = if (cross) (svc + 1 + r.nextInt(NumServices - 1)) % NumServices
                     else svc
          node(sid, csvc, if (cross) 2 else 1, depth + 1, childStart, cdur)
          childStart += cdur + dur / 50
          c += 1
        }
      }
    }
    val rootDur = 2000000L + (math.exp(r.nextDouble() * 5.0) * 1000000L).toLong
    node("", r.nextInt(NumServices), 2, 0, rootStartNs, rootDur)
    out.toArray
  }

  /** Spans grouped the way an OTLP exporter batches them: one
    * ResourceSpans per service, in order of first appearance, each with
    * one ScopeSpans. This is exactly what `decodeTraces` returns. */
  def batches(spans: Seq[(Int, PbSpan)]): Seq[PbTraceBatch] = {
    val order = spans.map(_._1).distinct
    val bySvc = spans.groupBy(_._1)
    order.map(s => PbTraceBatch(resource(s), scope, bySvc(s).map(_._2)))
  }

  // ---- wire encoder ----------------------------------------------------

  private final class W {
    private val b = new ByteArrayOutputStream(256)
    private def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { b.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      b.write(v.toInt)
    }
    private def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def uint(field: Int, v: Long): W = { if (v != 0L) { tag(field, 0); varint(v) }; this }
    def fixed64(field: Int, v: Long): W = {
      tag(field, 1)
      var i = 0
      while (i < 8) { b.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
      this
    }
    def fixed32(field: Int, v: Int): W = {
      tag(field, 5)
      var i = 0
      while (i < 4) { b.write((v >>> (8 * i)) & 0xff); i += 1 }
      this
    }
    def bytes(field: Int, arr: Array[Byte]): W = {
      tag(field, 2); varint(arr.length.toLong); b.write(arr, 0, arr.length); this
    }
    def str(field: Int, s: String): W =
      if (s.isEmpty) this else bytes(field, s.getBytes("UTF-8"))
    def hexId(field: Int, h: String): W =
      if (h.isEmpty) this
      else bytes(field, h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    def msg(field: Int, m: W): W = bytes(field, m.toBytes)
    def toBytes: Array[Byte] = b.toByteArray
  }

  /** KeyValue{1 key, 2 AnyValue}: integral strings go out as
    * AnyValue.int_value (3), everything else as string_value (1). */
  private def keyValue(k: String, v: String): W = {
    val any = new W()
    if (v.nonEmpty && v.forall(_.isDigit) && v.length < 18) any.uint(3, v.toLong)
    else any.str(1, v)
    new W().str(1, k).msg(2, any)
  }

  private def attrs(w: W, field: Int, m: Map[String, String]): W = {
    m.toSeq.sortBy(_._1).foreach { case (k, v) => w.msg(field, keyValue(k, v)) }
    w
  }

  private def span(s: PbSpan): W = {
    val w = new W().hexId(1, s.trace_id).hexId(2, s.span_id).str(3, s.trace_state)
      .hexId(4, s.parent_span_id).str(5, s.name).uint(6, s.kind.toLong)
      .fixed64(7, s.start_time_unix_nano).fixed64(8, s.end_time_unix_nano)
    attrs(w, 9, s.attributes)
    s.events.foreach { e =>
      w.msg(11, attrs(new W().fixed64(1, e.time_unix_nano).str(2, e.name), 3, e.attributes))
    }
    w.msg(15, new W().str(2, s.status.message).uint(3, s.status.code.toLong))
    w.fixed32(16, s.flags)
  }

  /** ExportTraceServiceRequest{1 ResourceSpans{1 Resource{1 attrs},
    * 2 ScopeSpans{1 InstrumentationScope{1 name, 2 version}, 2 Span}}}. */
  def encode(bs: Seq[PbTraceBatch]): Array[Byte] = {
    val req = new W()
    bs.foreach { b =>
      val ss = new W().msg(1, new W().str(1, b.scope.name).str(2, b.scope.version))
      b.spans.foreach(s => ss.msg(2, span(s)))
      req.msg(1, new W().msg(1, attrs(new W(), 1, b.resource.attributes)).msg(2, ss))
    }
    req.toBytes
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 3 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }
}
