package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

/** OTLP/gRPC PUSH receiver — the transport the reference's own
  * deployment example enables FIRST
  * (`/root/reference/example/otel-config.yaml:19-22`: `protocols:
  * grpc: ... http: ...`) and the collector default (:4317) most OTel
  * SDKs ship with. A stock SDK exporter speaks gRPC over cleartext
  * HTTP/2 (h2c, prior knowledge); this receiver implements that wire
  * surface dependency-free — the same hand-rolled-public-spec play as
  * [[OtelProtoSource]]'s proto3 decoder:
  *
  *   - HTTP/2 framing per RFC 9113: connection preface, SETTINGS
  *     exchange, HEADERS/CONTINUATION + DATA streams, PING, PADDED
  *     flag handling, RST_STREAM/GOAWAY, and receive-side flow control
  *     (WINDOW_UPDATE replenishment — without it a compliant client
  *     stalls at the 64 KiB initial window).
  *   - HPACK per RFC 7541: full static table, dynamic table with size
  *     accounting and eviction, all four literal representations, and
  *     Huffman decoding (the Appendix B code table embedded below —
  *     real SDK clients Huffman-encode header values, so a receiver
  *     without it cannot parse a stock exporter's `:path`).
  *   - gRPC message framing: 5-byte (compressed-flag, u32 length)
  *     prefixed messages in DATA, unary `Export` calls on the three
  *     collector services, `grpc-status` trailers; `grpc-encoding:
  *     gzip` message compression (the stock SDK `compression: gzip`
  *     path) inflated size-capped before the spool, with the proper
  *     INTERNAL/UNIMPLEMENTED statuses for unannounced or unsupported
  *     codecs and `grpc-accept-encoding` advertised.
  *
  * Identical durability contract to [[OtlpHttpReceiver]]: each
  * received `Export*ServiceRequest` is written whole to the SAME
  * `<spool>/<signal>/` layout — temp file + ATOMIC rename BEFORE the
  * OK trailer — so both transports feed one streaming pipeline
  * ([[OtelProtoSource]] tails the spool; decode happens on executors).
  * An acked request is on disk; at-least-once end to end.
  *
  * Scale: one instance is collector-sidecar shaped (blocking accept
  * loop, thread per connection — gRPC clients multiplex many calls on
  * ONE connection, so thread count tracks peers, not requests). For a
  * 1000-executor deployment run N receivers behind a balancer, all
  * spooling to shared storage, exactly like the HTTP twin.
  */
final class OtlpGrpcReceiver(spoolDir: String, host: String = "127.0.0.1",
                             port: Int = 0,
                             limits: SpoolLimits = SpoolLimits.Unbounded,
                             gc: Option[SpoolGcTriggers] = None,
                             memory: Option[MemoryLimiter] = None) {
  import OtlpGrpcReceiver._

  private val services = Map(
    "/opentelemetry.proto.collector.trace.v1.TraceService/Export" -> "traces",
    "/opentelemetry.proto.collector.logs.v1.LogsService/Export" -> "logs",
    "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export" -> "metrics")

  private val seq = new AtomicLong(0L)
  val accepted: Map[String, AtomicLong] =
    services.values.map(_ -> new AtomicLong(0L)).toMap

  /** Per-request outcome counters (accepted / shed / rejects). */
  val telemetry = new ReceiverTelemetry("grpc")

  private val inflight: Path = {
    val p = Paths.get(spoolDir, ".inflight")
    Files.createDirectories(p)
    services.values.foreach(s => Files.createDirectories(Paths.get(spoolDir, s)))
    p
  }

  /** `sending_queue` parity (config.go:25-27): over the spool cap,
    * requests shed with RESOURCE_EXHAUSTED and nothing more spools. */
  val gauge =
    new SpoolGauge(spoolDir, services.values.toSeq, limits)

  /** `file_storage` compaction parity (example/otel-config.yaml:8-15):
    * sweep committed spool files at start and on the rebound
    * threshold, so a capped spool drains without manual GC. */
  private val autoGc = gc.map(t => new SpoolAutoGc(t, spoolDir, gauge))
  autoGc.foreach(_.sweepOnStart())

  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(host, port))
  private val running = new AtomicBoolean(true)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()

  pool.execute(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        pool.execute(() => handleConnection(sock))
      } catch { case _: Throwable if !running.get() => () case _: Throwable => () }
    }
  })

  def address: String = s"$host:${server.getLocalPort}"
  def grpcPort: Int = server.getLocalPort
  def stop(): Unit = {
    running.set(false)
    try server.close() catch { case _: Throwable => () }
    pool.shutdownNow()
    ()
  }

  /** Spool one gRPC message (an Export*ServiceRequest) durably. The
    * caller holds a gauge reservation for `body.length`; it is
    * confirmed once the file lands and released if the write fails, so
    * a concurrent gauge rescan never drops an in-flight admission. */
  private def spool(signal: String, body: Array[Byte]): Unit = {
    val name =
      f"${System.currentTimeMillis()}%013d-g${seq.getAndIncrement()}%06d.pb"
    val tmp = inflight.resolve(s"$signal-$name")
    try {
      Files.write(tmp, body)
      Files.move(tmp, Paths.get(spoolDir, signal, name),
        StandardCopyOption.ATOMIC_MOVE)
      gauge.confirm(body.length.toLong)
    } catch { case t: Throwable =>
      gauge.release(body.length.toLong)
      throw t
    }
    accepted(signal).incrementAndGet()
    ()
  }

  // ---- per-connection HTTP/2 state machine ----------------------------

  private final class StreamState {
    val headers = mutable.Map.empty[String, String]
    val headerBlock = new java.io.ByteArrayOutputStream()
    var headersDone = false
    val data = new java.io.ByteArrayOutputStream()
    var closed = false
    // memory_limiter accounting: bytes this stream holds against the
    // aggregate valve, and whether it crossed the line (shed at close)
    var memHeld = 0L
    var memShed = false
  }

  /** Acquire `n` bytes against the aggregate memory valve for `st`. */
  private def hold(st: StreamState, n: Long): Boolean = memory.forall { m =>
    if (m.tryAcquire(n)) { st.memHeld += n; true } else false
  }

  private def handleConnection(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      // client connection preface (RFC 9113 §3.4)
      val preface = readN(in, 24)
      if (!java.util.Arrays.equals(preface, Preface)) { sock.close(); return }
      writeFrame(out, FrameSettings, 0, 0, Array.emptyByteArray) // our SETTINGS
      out.flush()
      val hpack = new HpackDecoder
      val streams = mutable.Map.empty[Int, StreamState]
      var continuationFor = -1
      var open = true
      while (open) {
        val hdr =
          try readN(in, 9)
          catch { case _: EOFException => open = false; null }
        if (hdr != null) {
          val len = ((hdr(0) & 0xff) << 16) | ((hdr(1) & 0xff) << 8) | (hdr(2) & 0xff)
          val tpe = hdr(3) & 0xff
          val flags = hdr(4) & 0xff
          val sid = ((hdr(5) & 0x7f) << 24) | ((hdr(6) & 0xff) << 16) |
            ((hdr(7) & 0xff) << 8) | (hdr(8) & 0xff)
          val payload = readN(in, len)
          if (continuationFor >= 0 && tpe != FrameContinuation)
            open = false // header block must be contiguous (RFC 9113 §4.3)
          else tpe match {
            case FrameSettings =>
              if ((flags & FlagAck) == 0) {
                writeFrame(out, FrameSettings, FlagAck, 0, Array.emptyByteArray)
                out.flush()
              }
            case FramePing =>
              if ((flags & FlagAck) == 0) {
                writeFrame(out, FramePing, FlagAck, 0, payload)
                out.flush()
              }
            case FrameWindowUpdate | FramePriority => () // we never send enough to block
            case FrameRstStream => streams.remove(sid); ()
            case FrameGoaway => open = false
            case FrameHeaders =>
              val st = streams.getOrElseUpdate(sid, new StreamState)
              var body = payload
              var off = 0
              var padLen = 0
              if ((flags & FlagPadded) != 0) { padLen = body(0) & 0xff; off += 1 }
              if ((flags & FlagPriority) != 0) off += 5
              st.headerBlock.write(body, off, body.length - off - padLen)
              if ((flags & FlagEndStream) != 0) st.closed = true
              if ((flags & FlagEndHeaders) != 0) {
                finishHeaders(hpack, st)
                if (st.closed) { respond(out, sid, st, streams) }
              } else continuationFor = sid
            case FrameContinuation =>
              streams.get(sid).foreach { st =>
                st.headerBlock.write(payload, 0, payload.length)
                if ((flags & FlagEndHeaders) != 0) {
                  continuationFor = -1
                  finishHeaders(hpack, st)
                  if (st.closed) { respond(out, sid, st, streams) }
                }
              }
            case FrameData =>
              val st = streams.getOrElseUpdate(sid, new StreamState)
              var off = 0
              var padLen = 0
              if ((flags & FlagPadded) != 0) { padLen = payload(0) & 0xff; off += 1 }
              // memory_limiter parity: buffer DATA only while the
              // AGGREGATE in-flight bytes stay under the valve; an
              // over-limit stream stops consuming heap here and sheds
              // RESOURCE_EXHAUSTED at end-of-stream
              val dataLen = payload.length - off - padLen
              if (!st.memShed && hold(st, dataLen.toLong))
                st.data.write(payload, off, dataLen)
              else st.memShed = true
              // replenish receive windows (connection + stream) so a
              // compliant sender never stalls at the 64 KiB initial window
              if (len > 0) {
                writeWindowUpdate(out, 0, len)
                writeWindowUpdate(out, sid, len)
                out.flush()
              }
              if ((flags & FlagEndStream) != 0) {
                st.closed = true
                respond(out, sid, st, streams)
              }
            case _ => () // unknown frame types are ignored per spec
          }
        }
      }
      streams.values.foreach(releaseHold)
      sock.close()
    } catch { case _: Throwable => try sock.close() catch { case _: Throwable => () } }
  }

  private def releaseHold(st: StreamState): Unit = {
    memory.foreach(_.release(st.memHeld))
    st.memHeld = 0L
  }

  private def finishHeaders(hpack: HpackDecoder, st: StreamState): Unit = {
    if (!st.headersDone) {
      hpack.decode(st.headerBlock.toByteArray)
        .foreach { case (k, v) => st.headers(k) = v }
      st.headersDone = true
    }
  }

  /** Unary gRPC response: message frames spooled, then HEADERS + empty
    * Export response DATA + grpc-status trailers. Errors are
    * trailers-only responses with the proper status code. */
  private def respond(out: OutputStream, sid: Int, st: StreamState,
                      streams: mutable.Map[Int, StreamState]): Unit = out.synchronized {
    streams.remove(sid)
    val path = st.headers.getOrElse(":path", "")
    val ct = st.headers.getOrElse("content-type", "")
    // the stream's hold is released before the response leaves, so a
    // client that has its reply never sees the valve still charged
    val resp = new java.io.ByteArrayOutputStream()
    try respondInner(resp, sid, st, path, ct)
    finally releaseHold(st)
    resp.writeTo(out)
    out.flush()
  }

  private def respondInner(out: OutputStream, sid: Int, st: StreamState,
                           path: String, ct: String): Unit = {
    if (st.memShed) {
      // the aggregate memory valve tripped while buffering: shed with
      // the retryable status BEFORE any decode (the body is partial)
      val signal = services.getOrElse(path, "_unrouted")
      telemetry.record(signal, "shed_memory", 8)
      writeTrailersOnly(out, sid, 8, // RESOURCE_EXHAUSTED
        "receiver memory limit reached; retry later")
      return
    }
    services.get(path) match {
      case None if path == "/grpc.health.v1.Health/Check" =>
        // the standard gRPC health service shape on the OTLP port —
        // what a collector-replacement deployment probes
        // (example/otel-config.yaml:4-6 health_check): SERVING while
        // the spool admits, NOT_SERVING while it is shedding at cap
        telemetry.record("_health", "checked", 0)
        // HealthCheckResponse{status = SERVING(1) | NOT_SERVING(2)}
        val msg = Array[Byte](0x08, if (gauge.atCapacity) 2 else 1)
        val respHeaders = encodeHeaders(Seq(
          ":status" -> "200", "content-type" -> "application/grpc"))
        writeFrame(out, FrameHeaders, FlagEndHeaders, sid, respHeaders)
        writeFrame(out, FrameData, 0, sid,
          Array[Byte](0, 0, 0, 0, msg.length.toByte) ++ msg)
        writeFrame(out, FrameHeaders, FlagEndHeaders | FlagEndStream, sid,
          encodeHeaders(Seq("grpc-status" -> "0")))
        out.flush()
      case None =>
        telemetry.record("_unrouted", "bad_route", 12)
        writeTrailersOnly(out, sid, 12, s"unknown service: $path") // UNIMPLEMENTED
      case Some(signal) if !ct.startsWith("application/grpc") =>
        telemetry.record(signal, "unsupported_media", 3)
        writeTrailersOnly(out, sid, 3, "content-type must be application/grpc")
      case Some(signal) =>
        // per-message compression (gRPC spec §compression): the request's
        // grpc-encoding header names the codec for messages whose
        // compressed flag is 1. gzip is the codec stock OTel SDKs ship
        // (`compression: gzip`); flag=1 with identity/absent encoding is
        // INTERNAL (13), an unannounced codec is UNIMPLEMENTED (12) with
        // grpc-accept-encoding advertised. Decompression happens HERE so
        // the spool always holds plain protobuf — the streaming decode
        // path is codec-free.
        val encoding = st.headers.getOrElse("grpc-encoding", "identity")
          .trim.toLowerCase
        val buf = st.data.toByteArray
        var pos = 0
        var err: Option[(Int, String)] = None
        var nMsgs = 0
        while (err.isEmpty && pos < buf.length) {
          if (pos + 5 > buf.length) err = Some((13, "truncated gRPC frame header"))
          else {
            val compressed = buf(pos) & 0xff
            val mlen = ((buf(pos + 1) & 0xff) << 24) | ((buf(pos + 2) & 0xff) << 16) |
              ((buf(pos + 3) & 0xff) << 8) | (buf(pos + 4) & 0xff)
            if (pos + 5 + mlen > buf.length) err = Some((13, "truncated gRPC message"))
            else {
              val raw = java.util.Arrays.copyOfRange(buf, pos + 5, pos + 5 + mlen)
              // backpressure BEFORE any write (sending_queue parity): a
              // full spool sheds this request with RESOURCE_EXHAUSTED —
              // the spec-blessed retryable status — and spools nothing
              // further (messages already spooled stay: at-least-once,
              // the same partial-failure stance as a retried export)
              def admit(body: Array[Byte]): Boolean = {
                // rebound sweep BEFORE the check (on_rebound parity):
                // committed backlog frees space for this very message
                autoGc.foreach(_.maybeRebound())
                if (gauge.tryAcquire(body.length.toLong)) true
                else {
                  err = Some((8, // RESOURCE_EXHAUSTED
                    s"spool at capacity (${gauge.currentFiles} files, " +
                      s"${gauge.currentBytes} bytes); retry later"))
                  false
                }
              }
              if (compressed == 0) {
                if (admit(raw)) {
                  spool(signal, raw)
                  nMsgs += 1
                }
              } else encoding match {
                case "gzip" =>
                  try {
                    val plain = TransportGzip.inflate(raw,
                      TransportGzip.DefaultMaxInflatedBytes)
                    // the inflated copy is in-flight memory too
                    if (!hold(st, plain.length.toLong))
                      err = Some((8,
                        "receiver memory limit reached; retry later"))
                    else if (admit(plain)) {
                      spool(signal, plain)
                      nMsgs += 1
                    }
                  } catch {
                    case e: Exception =>
                      err = Some((13, s"corrupt gzip message: ${e.getMessage}"))
                  }
                case "identity" =>
                  err = Some((13,
                    "compressed-flag message but grpc-encoding is identity/absent"))
                case other =>
                  err = Some((12, s"grpc-encoding $other unsupported " +
                    "(grpc-accept-encoding: gzip, identity)"))
              }
              if (err.isEmpty) pos += 5 + mlen
            }
          }
        }
        err match {
          case Some((code, m)) =>
            val outcome =
              if (code == 8) "shed"
              else if (m.startsWith("corrupt gzip")) "bad_gzip"
              else if (code == 12) "unsupported_encoding"
              else "bad_request"
            telemetry.record(signal, outcome, code)
            writeTrailersOnly(out, sid, code, m)
          case None =>
            telemetry.record(signal, "accepted", 0)
            val respHeaders = encodeHeaders(Seq(
              ":status" -> "200", "content-type" -> "application/grpc",
              "grpc-accept-encoding" -> "gzip, identity"))
            writeFrame(out, FrameHeaders, FlagEndHeaders, sid, respHeaders)
            // empty Export*ServiceResponse: one gRPC frame, zero-length message
            writeFrame(out, FrameData, 0, sid, Array[Byte](0, 0, 0, 0, 0))
            val trailers = encodeHeaders(Seq("grpc-status" -> "0"))
            writeFrame(out, FrameHeaders, FlagEndHeaders | FlagEndStream, sid, trailers)
            out.flush()
        }
    }
  }

  private def writeTrailersOnly(out: OutputStream, sid: Int, status: Int,
                                msg: String): Unit = {
    val hs = encodeHeaders(Seq(
      ":status" -> "200", "content-type" -> "application/grpc",
      "grpc-accept-encoding" -> "gzip, identity",
      "grpc-status" -> status.toString,
      "grpc-message" -> java.net.URLEncoder.encode(msg, "UTF-8")))
    writeFrame(out, FrameHeaders, FlagEndHeaders | FlagEndStream, sid, hs)
    out.flush()
  }
}

object OtlpGrpcReceiver {

  private[sources] val Preface =
    "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(ISO_8859_1)

  private val FrameData = 0x0
  private val FrameHeaders = 0x1
  private val FramePriority = 0x2
  private val FrameRstStream = 0x3
  private val FrameSettings = 0x4
  private val FramePing = 0x6
  private val FrameGoaway = 0x7
  private val FrameWindowUpdate = 0x8
  private val FrameContinuation = 0x9

  private val FlagEndStream = 0x1
  private val FlagAck = 0x1
  private val FlagEndHeaders = 0x4
  private val FlagPadded = 0x8
  private val FlagPriority = 0x20

  private def readN(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException()
      off += r
    }
    buf
  }

  private def writeFrame(out: OutputStream, tpe: Int, flags: Int, sid: Int,
                         payload: Array[Byte]): Unit = {
    val len = payload.length
    out.write(Array[Byte](
      ((len >> 16) & 0xff).toByte, ((len >> 8) & 0xff).toByte, (len & 0xff).toByte,
      tpe.toByte, flags.toByte,
      ((sid >> 24) & 0x7f).toByte, ((sid >> 16) & 0xff).toByte,
      ((sid >> 8) & 0xff).toByte, (sid & 0xff).toByte))
    out.write(payload)
  }

  private def writeWindowUpdate(out: OutputStream, sid: Int, inc: Int): Unit =
    writeFrame(out, FrameWindowUpdate, 0, sid, Array[Byte](
      ((inc >> 24) & 0x7f).toByte, ((inc >> 16) & 0xff).toByte,
      ((inc >> 8) & 0xff).toByte, (inc & 0xff).toByte))

  /** Response headers: literal-without-indexing, plain (non-Huffman)
    * strings — always-valid HPACK that needs no encoder state. */
  private def encodeHeaders(hs: Seq[(String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    hs.foreach { case (k, v) =>
      out.write(0x00) // literal without indexing, literal name
      writeStr(out, k)
      writeStr(out, v)
    }
    out.toByteArray
  }

  private def writeStr(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    // 7-bit-prefix length, H=0; header strings here are < 127 bytes
    require(b.length < 127, "header too long for the simple encoder")
    out.write(b.length)
    out.write(b, 0, b.length)
  }

  // ---- HPACK (RFC 7541) ----------------------------------------------

  /** Static table, RFC 7541 Appendix A. */
  private val Static: Array[(String, String)] = Array(
    ":authority" -> "", ":method" -> "GET", ":method" -> "POST",
    ":path" -> "/", ":path" -> "/index.html", ":scheme" -> "http",
    ":scheme" -> "https", ":status" -> "200", ":status" -> "204",
    ":status" -> "206", ":status" -> "304", ":status" -> "400",
    ":status" -> "404", ":status" -> "500", "accept-charset" -> "",
    "accept-encoding" -> "gzip, deflate", "accept-language" -> "",
    "accept-ranges" -> "", "accept" -> "",
    "access-control-allow-origin" -> "", "age" -> "", "allow" -> "",
    "authorization" -> "", "cache-control" -> "",
    "content-disposition" -> "", "content-encoding" -> "",
    "content-language" -> "", "content-length" -> "",
    "content-location" -> "", "content-range" -> "", "content-type" -> "",
    "cookie" -> "", "date" -> "", "etag" -> "", "expect" -> "",
    "expires" -> "", "from" -> "", "host" -> "", "if-match" -> "",
    "if-modified-since" -> "", "if-none-match" -> "", "if-range" -> "",
    "if-unmodified-since" -> "", "last-modified" -> "", "link" -> "",
    "location" -> "", "max-forwards" -> "", "proxy-authenticate" -> "",
    "proxy-authorization" -> "", "range" -> "", "referer" -> "",
    "refresh" -> "", "retry-after" -> "", "server" -> "",
    "set-cookie" -> "", "strict-transport-security" -> "",
    "transfer-encoding" -> "", "user-agent" -> "", "vary" -> "",
    "via" -> "", "www-authenticate" -> "")

  /** Huffman code table, RFC 7541 Appendix B (symbols 0–256; 256 is
    * EOS). Embedded from the public spec — a receiver without Huffman
    * cannot read a stock gRPC client's headers. */
  private val HuffCodes: Array[Int] = Array(
    0x1ff8, 0x7fffd8, 0xfffffe2, 0xfffffe3, 0xfffffe4, 0xfffffe5, 0xfffffe6, 0xfffffe7,
    0xfffffe8, 0xffffea, 0x3ffffffc, 0xfffffe9, 0xfffffea, 0x3ffffffd, 0xfffffeb, 0xfffffec,
    0xfffffed, 0xfffffee, 0xfffffef, 0xffffff0, 0xffffff1, 0xffffff2, 0x3ffffffe, 0xffffff3,
    0xffffff4, 0xffffff5, 0xffffff6, 0xffffff7, 0xffffff8, 0xffffff9, 0xffffffa, 0xffffffb,
    0x14, 0x3f8, 0x3f9, 0xffa, 0x1ff9, 0x15, 0xf8, 0x7fa,
    0x3fa, 0x3fb, 0xf9, 0x7fb, 0xfa, 0x16, 0x17, 0x18,
    0x0, 0x1, 0x2, 0x19, 0x1a, 0x1b, 0x1c, 0x1d,
    0x1e, 0x1f, 0x5c, 0xfb, 0x7ffc, 0x20, 0xffb, 0x3fc,
    0x1ffa, 0x21, 0x5d, 0x5e, 0x5f, 0x60, 0x61, 0x62,
    0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a,
    0x6b, 0x6c, 0x6d, 0x6e, 0x6f, 0x70, 0x71, 0x72,
    0xfc, 0x73, 0xfd, 0x1ffb, 0x7fff0, 0x1ffc, 0x3ffc, 0x22,
    0x7ffd, 0x3, 0x23, 0x4, 0x24, 0x5, 0x25, 0x26,
    0x27, 0x6, 0x74, 0x75, 0x28, 0x29, 0x2a, 0x7,
    0x2b, 0x76, 0x2c, 0x8, 0x9, 0x2d, 0x77, 0x78,
    0x79, 0x7a, 0x7b, 0x7ffe, 0x7fc, 0x3ffd, 0x1ffd, 0xffffffc,
    0xfffe6, 0x3fffd2, 0xfffe7, 0xfffe8, 0x3fffd3, 0x3fffd4, 0x3fffd5, 0x7fffd9,
    0x3fffd6, 0x7fffda, 0x7fffdb, 0x7fffdc, 0x7fffdd, 0x7fffde, 0xffffeb, 0x7fffdf,
    0xffffec, 0xffffed, 0x3fffd7, 0x7fffe0, 0xffffee, 0x7fffe1, 0x7fffe2, 0x7fffe3,
    0x7fffe4, 0x1fffdc, 0x3fffd8, 0x7fffe5, 0x3fffd9, 0x7fffe6, 0x7fffe7, 0xffffef,
    0x3fffda, 0x1fffdd, 0xfffe9, 0x3fffdb, 0x3fffdc, 0x7fffe8, 0x7fffe9, 0x1fffde,
    0x7fffea, 0x3fffdd, 0x3fffde, 0xfffff0, 0x1fffdf, 0x3fffdf, 0x7fffeb, 0x7fffec,
    0x1fffe0, 0x1fffe1, 0x3fffe0, 0x1fffe2, 0x7fffed, 0x3fffe1, 0x7fffee, 0x7fffef,
    0xfffea, 0x3fffe2, 0x3fffe3, 0x3fffe4, 0x7ffff0, 0x3fffe5, 0x3fffe6, 0x7ffff1,
    0x3ffffe0, 0x3ffffe1, 0xfffeb, 0x7fff1, 0x3fffe7, 0x7ffff2, 0x3fffe8, 0x1ffffec,
    0x3ffffe2, 0x3ffffe3, 0x3ffffe4, 0x7ffffde, 0x7ffffdf, 0x3ffffe5, 0xfffff1, 0x1ffffed,
    0x7fff2, 0x1fffe3, 0x3ffffe6, 0x7ffffe0, 0x7ffffe1, 0x3ffffe7, 0x7ffffe2, 0xfffff2,
    0x1fffe4, 0x1fffe5, 0x3ffffe8, 0x3ffffe9, 0xffffffd, 0x7ffffe3, 0x7ffffe4, 0x7ffffe5,
    0xfffec, 0xfffff3, 0xfffed, 0x1fffe6, 0x3fffe9, 0x1fffe7, 0x1fffe8, 0x7ffff3,
    0x3fffea, 0x3fffeb, 0x1ffffee, 0x1ffffef, 0xfffff4, 0xfffff5, 0x3ffffea, 0x7ffff4,
    0x3ffffeb, 0x7ffffe6, 0x3ffffec, 0x3ffffed, 0x7ffffe7, 0x7ffffe8, 0x7ffffe9, 0x7ffffea,
    0x7ffffeb, 0xffffffe, 0x7ffffec, 0x7ffffed, 0x7ffffee, 0x7ffffef, 0x7fffff0, 0x3ffffee,
    0x3fffffff)

  private val HuffLens: Array[Int] = Array(
    13, 23, 28, 28, 28, 28, 28, 28, 28, 24, 30, 28, 28, 30, 28, 28, 28, 28, 28, 28,
    28, 28, 30, 28, 28, 28, 28, 28, 28, 28, 28, 28, 6, 10, 10, 12, 13, 6, 8, 11,
    10, 10, 8, 11, 8, 6, 6, 6, 5, 5, 5, 6, 6, 6, 6, 6, 6, 6, 7, 8,
    15, 6, 12, 10, 13, 6, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7,
    7, 7, 7, 7, 7, 7, 7, 7, 8, 7, 8, 13, 19, 13, 14, 6, 15, 5, 6, 5,
    6, 5, 6, 6, 6, 5, 7, 7, 6, 6, 6, 5, 6, 7, 6, 5, 5, 6, 7, 7,
    7, 7, 7, 15, 11, 14, 13, 28, 20, 22, 20, 20, 22, 22, 22, 23, 22, 23, 23, 23,
    23, 23, 24, 23, 24, 24, 22, 23, 24, 23, 23, 23, 23, 21, 22, 23, 22, 23, 23, 24,
    22, 21, 20, 22, 22, 23, 23, 21, 23, 22, 22, 24, 21, 22, 23, 23, 21, 21, 22, 21,
    23, 22, 23, 23, 20, 22, 22, 22, 23, 22, 22, 23, 26, 26, 20, 19, 22, 23, 22, 25,
    26, 26, 26, 27, 27, 26, 24, 25, 19, 21, 26, 27, 27, 26, 27, 24, 21, 21, 26, 26,
    28, 27, 27, 27, 20, 24, 20, 21, 22, 21, 21, 23, 22, 22, 25, 25, 24, 24, 26, 23,
    26, 27, 26, 26, 27, 27, 27, 27, 27, 28, 27, 27, 27, 27, 27, 26, 30)

  /** (length, code) → symbol, grouped for the bit-at-a-time decode. */
  private val HuffDecode: Map[(Int, Int), Int] =
    (0 until 257).map(i => (HuffLens(i), HuffCodes(i)) -> i).toMap

  private def huffmanDecode(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder()
    var cur = 0
    var bits = 0
    var i = 0
    while (i < bytes.length) {
      var bit = 7
      val b = bytes(i) & 0xff
      while (bit >= 0) {
        cur = (cur << 1) | ((b >> bit) & 1)
        bits += 1
        HuffDecode.get((bits, cur)) match {
          case Some(sym) if sym < 256 =>
            sb.append(sym.toChar); cur = 0; bits = 0
          case Some(_) => // EOS inside the string: treat as end
            cur = 0; bits = 0
          case None =>
            if (bits > 30) throw new IllegalArgumentException("bad huffman code")
        }
        bit -= 1
      }
      i += 1
    }
    // trailing bits must be a prefix of EOS (all ones) — be lenient on
    // content, strict on length per RFC 7541 §5.2
    if (bits > 7) throw new IllegalArgumentException("huffman padding too long")
    sb.toString
  }

  /** Stateful HPACK decoder: one instance per connection (the dynamic
    * table is connection-scoped). */
  private[sources] final class HpackDecoder {
    private val dynamic = mutable.ArrayDeque.empty[(String, String)]
    private var maxSize = 4096
    private var curSize = 0

    private def entrySize(kv: (String, String)): Int =
      kv._1.length + kv._2.length + 32

    private def evict(): Unit =
      while (curSize > maxSize && dynamic.nonEmpty) {
        curSize -= entrySize(dynamic.removeLast())
      }

    private def add(kv: (String, String)): Unit = {
      curSize += entrySize(kv)
      dynamic.prepend(kv)
      evict()
    }

    private def lookup(idx: Int): (String, String) =
      if (idx >= 1 && idx <= Static.length) Static(idx - 1)
      else if (idx > Static.length && idx <= Static.length + dynamic.length)
        dynamic(idx - Static.length - 1)
      else throw new IllegalArgumentException(s"bad HPACK index $idx")

    def decode(block: Array[Byte]): Seq[(String, String)] = {
      val out = mutable.ArrayBuffer.empty[(String, String)]
      var pos = 0
      def readInt(prefixBits: Int): Int = {
        val mask = (1 << prefixBits) - 1
        var v = block(pos) & mask
        pos += 1
        if (v == mask) {
          var shift = 0
          var more = true
          while (more) {
            val b = block(pos) & 0xff
            pos += 1
            v += (b & 0x7f) << shift
            shift += 7
            more = (b & 0x80) != 0
          }
        }
        v
      }
      def readString(): String = {
        val huff = (block(pos) & 0x80) != 0
        val len = readInt(7)
        val raw = java.util.Arrays.copyOfRange(block, pos, pos + len)
        pos += len
        if (huff) huffmanDecode(raw) else new String(raw, ISO_8859_1)
      }
      while (pos < block.length) {
        val b = block(pos) & 0xff
        if ((b & 0x80) != 0) { // indexed
          out += lookup(readInt(7))
        } else if ((b & 0xc0) == 0x40) { // literal, incremental indexing
          val idx = readInt(6)
          val name = if (idx == 0) readString() else lookup(idx)._1
          val value = readString()
          add(name -> value)
          out += (name -> value)
        } else if ((b & 0xe0) == 0x20) { // dynamic table size update
          maxSize = readInt(5)
          evict()
        } else { // literal without indexing (0x00) / never indexed (0x10)
          val idx = readInt(4)
          val name = if (idx == 0) readString() else lookup(idx)._1
          out += (name -> readString())
        }
      }
      out.toSeq
    }
  }
}
