package graft.sources

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** OTLP/HTTP PUSH receiver — closes the last ingestion-shape gap with
  * the reference, which is fed live pdata batches by the collector
  * runtime (`/root/reference/exporter.go:101,130,175`
  * `consumeTraces`/`consumeMetrics`/`consumeLogs`). Spark executors
  * can't accept pushes, so the receiver bridges push → pull with a
  * durable SPOOL: each accepted POST body (a serialized
  * `Export{Trace,Logs,Metrics}ServiceRequest`) is written whole to
  * `<spool>/<signal>/` — write-to-temp then ATOMIC rename, so the
  * streaming file source never observes a partial file — and the 200
  * is sent only after the spool write completes. That is at-least-once
  * handoff with the same durability point as the reference's
  * consume→write path: an acked request is on disk.
  *
  * The receiver does NO parsing on the hot path (beyond the route) —
  * decoding happens on executors via [[OtelProtoSource.tracesStream]] /
  * [[OtelProtoSource.logsStream]] / metrics twins, exactly like a
  * collector receiver's enqueue. Standard OTLP/HTTP surface:
  * `POST /v1/{traces,logs,metrics}` with BOTH spec encodings —
  * `application/x-protobuf` spools to `<signal>/` for the wire decoder
  * ([[OtelProtoSource]]) and `application/json` (an
  * Export*ServiceRequest body IS the `{"resourceSpans": …}` shape) to
  * `<signal>_json/` for [[OtelJsonSource]]'s streaming twin;
  * `Content-Encoding: gzip` is inflated (size-capped) before the spool
  * — the setting stock OTel SDKs ship as `compression: gzip` — while
  * other codecs are an explicit 415; other content types 415, other
  * methods 405, unknown routes 404. Responses are empty
  * Export*ServiceResponse messages (zero proto bytes / `{}`), per
  * spec.
  *
  * Scale: one receiver instance is collector-sidecar shaped. For a
  * 1000-executor deployment you run N receivers behind a balancer, all
  * spooling to shared storage — the streaming source's file log
  * handles many writers; per-file decode keeps parallelism = request
  * count, and nothing funnels through the driver.
  */
final class OtlpHttpReceiver(spoolDir: String, host: String = "127.0.0.1",
                             port: Int = 0,
                             limits: SpoolLimits = SpoolLimits.Unbounded,
                             gc: Option[SpoolGcTriggers] = None,
                             memory: Option[MemoryLimiter] = None) {

  private val signals = Map(
    "/v1/traces" -> "traces", "/v1/logs" -> "logs", "/v1/metrics" -> "metrics")

  private val seq = new AtomicLong(0L)
  val accepted: Map[String, AtomicLong] =
    signals.values.map(_ -> new AtomicLong(0L)).toMap

  /** Per-request outcome counters (accepted / shed / rejects). */
  val telemetry = new ReceiverTelemetry("http")

  private val inflight: Path = {
    val p = Paths.get(spoolDir, ".inflight")
    Files.createDirectories(p)
    signals.values.foreach { s =>
      Files.createDirectories(Paths.get(spoolDir, s))
      Files.createDirectories(Paths.get(spoolDir, s + "_json"))
    }
    p
  }

  /** `sending_queue` parity (config.go:25-27): the spool is the
    * receiver's bounded queue. Over the cap, requests shed with 429 +
    * Retry-After and NOTHING is spooled. */
  val gauge = new SpoolGauge(spoolDir,
    signals.values.toSeq.flatMap(s => Seq(s, s + "_json")), limits)

  /** `file_storage` compaction parity (example/otel-config.yaml:8-15):
    * sweep committed spool files at start and whenever the gauge
    * crosses the rebound threshold — a capped spool drains on its own
    * as the consumer commits. */
  private val autoGc = gc.map(t => new SpoolAutoGc(t, spoolDir, gauge))
  autoGc.foreach(_.sweepOnStart())

  private val server: HttpServer =
    HttpServer.create(new InetSocketAddress(host, port), 0)
  /** Request handler threads; non-daemon, so [[stop]] must shut them down. */
  private[graft] val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    try handle(ex)
    catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":"${t.getMessage}"}""".getBytes("UTF-8"))
    }
  })
  server.start()

  def uri: String = s"http://$host:${server.getAddress.getPort}"
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  /** Liveness/readiness surface — the reference deployment's
    * `health_check` extension (example/otel-config.yaml:4-6) probed on
    * the receiver itself: always 200 (the process is up), with the
    * shed state and the operator's gauges in the body so a prober can
    * distinguish healthy from at-capacity. */
  private def healthBody(): Array[Byte] = {
    val counts = telemetry.snapshot.toSeq
      .map { case ((s, o, _), n) => (s"$s.$o", n) }
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
      .map { case (k, n) => s""""$k":$n""" }.mkString(",")
    val status = if (gauge.atCapacity) "shedding" else "ok"
    val mb = if (gauge.limits.maxBytes == Long.MaxValue) -1 else gauge.limits.maxBytes
    val mf = if (gauge.limits.maxFiles == Long.MaxValue) -1 else gauge.limits.maxFiles
    (s"""{"status":"$status","spool":{"bytes":${gauge.currentBytes},""" +
      s""""files":${gauge.currentFiles},"max_bytes":$mb,"max_files":$mf},""" +
      s""""requests":{$counts}}""").getBytes("UTF-8")
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    if (path == "/health") {
      ex.getResponseHeaders.add("Content-Type", "application/json")
      respond(ex, 200, healthBody())
      return
    }
    signals.get(path) match {
      case None =>
        telemetry.record("_unrouted", "bad_route", 404)
        respond(ex, 404, s"""{"error":"no route: $path"}""".getBytes("UTF-8"))
      case Some(signal) if ex.getRequestMethod != "POST" =>
        telemetry.record(signal, "bad_method", 405)
        respond(ex, 405, """{"error":"method not allowed"}""".getBytes("UTF-8"))
      case Some(signal) =>
        val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
        val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .map(_.trim.toLowerCase).getOrElse("")
        // both OTLP/HTTP encodings: protobuf spools to <signal>/ (wire
        // decode via OtelProtoSource), JSON — an Export*ServiceRequest
        // body IS the `{"resourceSpans": …}` shape OtelJsonSource
        // parses — spools to <signal>_json/ for the JSON streaming twin
        val isProto = ct.startsWith("application/x-protobuf")
        val isJson = ct.startsWith("application/json")
        if (!isProto && !isJson) {
          telemetry.record(signal, "unsupported_media", 415)
          respond(ex, 415,
            """{"error":"use application/x-protobuf or application/json"}"""
              .getBytes("UTF-8"))
        } else if (enc.nonEmpty && enc != "identity" && enc != "gzip") {
          // stock OTel SDKs ship `compression: gzip` on OTLP/HTTP exports
          // — gzip is supported below; anything else is an explicit 415,
          // never a mis-decode of the body
          telemetry.record(signal, "unsupported_encoding", 415)
          respond(ex, 415,
            s"""{"error":"unsupported Content-Encoding: $enc (supported: gzip, identity)"}"""
              .getBytes("UTF-8"))
        } else {
          // memory_limiter parity (example/otel-config.yaml:31-34): the
          // gzip cap bounds any ONE body; this bounds the SUM across
          // concurrent handlers. Acquisition is incremental while
          // buffering, so an over-limit request stops consuming heap at
          // the chunk where it crossed the line and sheds retryably.
          var memHeld = 0L
          def hold(n: Long): Boolean = memory.forall { m =>
            if (m.tryAcquire(n)) { memHeld += n; true } else false
          }
          def shedMemory(): Unit = {
            telemetry.record(signal, "shed_memory", 429)
            ex.getResponseHeaders.add("Retry-After", "1")
            respond(ex, 429,
              """{"error":"receiver memory limit reached; retry later"}"""
                .getBytes("UTF-8"))
          }
          try {
          val raw = {
            val in = ex.getRequestBody
            val out = new ByteArrayOutputStream()
            val buf = new Array[Byte](64 << 10)
            var over = false
            var n = in.read(buf)
            while (!over && n >= 0) {
              if (!hold(n.toLong)) over = true
              else { out.write(buf, 0, n); n = in.read(buf) }
            }
            if (over) None else Some(out.toByteArray)
          }
          if (raw.isEmpty) shedMemory()
          // inflate BEFORE the spool so the durable file is always plain
          // protobuf and the streaming decode path stays codec-free;
          // the inflate is size-capped (zip-bomb guard) and a corrupt
          // stream is a 400, not a spooled garbage file. The inflated
          // copy is in-flight memory too — held under the same valve.
          val body = raw.flatMap { r =>
            if (enc != "gzip") Some(r)
            else try {
              val plain = TransportGzip.inflate(r,
                TransportGzip.DefaultMaxInflatedBytes)
              if (!hold(plain.length.toLong)) { shedMemory(); None }
              else Some(plain)
            } catch { case e: Exception =>
              telemetry.record(signal, "bad_gzip", 400)
              respond(ex, 400,
                s"""{"error":"bad gzip body: ${e.getMessage}"}""".getBytes("UTF-8"))
              None
            }
          }
          body.foreach { b =>
            // backpressure BEFORE any write (sending_queue parity): a
            // full spool sheds with the spec-blessed retryable signal —
            // HTTP 429 + Retry-After — and spools nothing, so a
            // downstream stall caps disk at the configured bound
            // rebound sweep BEFORE the admission check: at/over the
            // threshold with committed backlog, the sweep frees space
            // so this very request can be admitted (on_rebound parity)
            autoGc.foreach(_.maybeRebound())
            if (!gauge.tryAcquire(b.length.toLong)) {
              telemetry.record(signal, "shed", 429)
              ex.getResponseHeaders.add("Retry-After", "1")
              respond(ex, 429,
                s"""{"error":"spool at capacity (${gauge.currentFiles} files, ${gauge.currentBytes} bytes); retry later"}"""
                  .getBytes("UTF-8"))
            } else {
              // durability point: temp write + atomic move BEFORE the ack.
              // Name is (epochMs, per-process seq) — unique and roughly
              // arrival-ordered for the file source's log. The gauge
              // reservation is confirmed once the file lands (released
              // on failure), so a concurrent rescan never drops it.
              val (dir, ext) =
                if (isProto) (signal, "pb") else (signal + "_json", "json")
              val name =
                f"${System.currentTimeMillis()}%013d-${seq.getAndIncrement()}%06d.$ext"
              val tmp = inflight.resolve(s"$dir-$name")
              try {
                Files.write(tmp, b)
                Files.move(tmp, Paths.get(spoolDir, dir, name),
                  StandardCopyOption.ATOMIC_MOVE)
                gauge.confirm(b.length.toLong)
              } catch { case t: Throwable =>
                gauge.release(b.length.toLong)
                throw t
              }
              accepted(signal).incrementAndGet()
              telemetry.record(signal, "accepted", 200)
              if (isProto) {
                ex.getResponseHeaders.add("Content-Type", "application/x-protobuf")
                respond(ex, 200, Array.emptyByteArray) // empty Export*ServiceResponse
              } else {
                ex.getResponseHeaders.add("Content-Type", "application/json")
                respond(ex, 200, "{}".getBytes("UTF-8")) // empty response object
              }
            }
          }
          } finally memory.foreach(_.release(memHeld))
        }
    }
  }
}

/** Transport-level gzip shared by both OTLP receivers (HTTP
  * `Content-Encoding: gzip`, gRPC `grpc-encoding: gzip` message
  * compression) — `java.util.zip.GZIPInputStream`, dependency-free.
  * Inflation is size-capped: a compressed body that expands past the
  * cap aborts with a clear error (zip-bomb guard) instead of exhausting
  * receiver memory. */
private[sources] object TransportGzip {

  /** 128 MiB — far above any sane OTLP export batch, far below heap. */
  val DefaultMaxInflatedBytes: Int = 128 << 20

  def inflate(bytes: Array[Byte], maxBytes: Int): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val out = new java.io.ByteArrayOutputStream(
        math.min(math.max(bytes.length * 4, 1 << 10), 1 << 20))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > maxBytes)
          throw new IllegalArgumentException(
            s"inflated body exceeds $maxBytes bytes")
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  def deflate(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }
}

object OtlpHttpReceiver {
  /** Spool subdirectory the PROTOBUF streaming sources
    * ([[OtelProtoSource]]) should tail for a signal. */
  def spoolPath(spoolDir: String, signal: String): String = s"$spoolDir/$signal"

  /** Spool subdirectory the OTLP/JSON streaming sources
    * ([[OtelJsonSource]]) should tail for a signal. */
  def jsonSpoolPath(spoolDir: String, signal: String): String =
    s"$spoolDir/${signal}_json"
}
