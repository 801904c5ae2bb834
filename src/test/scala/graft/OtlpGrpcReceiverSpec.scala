package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInitializer, SimpleChannelInboundHandler}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2._

import graft.otel.OtelTraces
import graft.sources.{OtelProtoSource, OtlpGrpcReceiver}
import graft.{ProtoWriter => W}

/** OTLP/gRPC ingestion e2e. The client side is NETTY's own HTTP/2
  * codec — an independent, spec-complete peer whose HPACK encoder
  * Huffman-compresses and incrementally indexes headers exactly like a
  * stock gRPC SDK — driving the hand-rolled h2c server: preface,
  * SETTINGS exchange, HPACK (static+dynamic table, Huffman), DATA flow
  * control, gRPC message framing, grpc-status trailers. Spooled bytes
  * then flow through the SAME streaming decode → flatten pipeline as
  * the HTTP receiver's. */
class OtlpGrpcReceiverSpec extends SparkSpec {

  private val TracePath =
    "/opentelemetry.proto.collector.trace.v1.TraceService/Export"

  private def traceRequest(tid: String, name: String, startNs: Long): Array[Byte] = {
    val resource = new W().msg(1, new W()
      .str(1, "service.name").msg(2, new W().str(1, "checkout")))
    val span = new W()
      .hex(1, tid).hex(2, "1112131415161718")
      .str(5, name).vint(6, 2L)
      .fixed64(7, startNs).fixed64(8, startNs + 5000000L)
      .msg(15, new W().vint(3, 1L))
    new W().msg(1, new W()
      .msg(1, resource)
      .msg(2, new W().msg(1, new W().str(1, "lib")).msg(2, span)))
      .toBytes
  }

  private def grpcFrame(msg: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(0)
    out.write((msg.length >> 24) & 0xff); out.write((msg.length >> 16) & 0xff)
    out.write((msg.length >> 8) & 0xff); out.write(msg.length & 0xff)
    out.write(msg)
    out.toByteArray
  }

  /** One unary gRPC call over an existing h2c connection; returns
    * (response headers, trailer headers, data bytes). */
  private def call(conn: Channel, path: String, body: Array[Byte],
                   contentType: String = "application/grpc",
                   extraHeaders: Seq[(String, String)] = Nil):
      (Map[String, String], Map[String, String], Array[Byte]) = {
    val events = new LinkedBlockingQueue[(String, AnyRef)]()
    val bs = new Http2StreamChannelBootstrap(conn)
    bs.handler(new ChannelInitializer[Channel] {
      override def initChannel(sc: Channel): Unit = {
        sc.pipeline().addLast(new SimpleChannelInboundHandler[Http2Frame]() {
          override def channelRead0(ctx: ChannelHandlerContext, f: Http2Frame): Unit =
            f match {
              case h: Http2HeadersFrame =>
                val m = scala.collection.mutable.Map.empty[String, String]
                h.headers().forEach(e => m(e.getKey.toString) = e.getValue.toString)
                events.put((if (h.isEndStream) "trailers" else "headers", m.toMap))
              case d: Http2DataFrame =>
                val arr = new Array[Byte](d.content().readableBytes())
                d.content().readBytes(arr)
                events.put(("data", arr))
                if (d.isEndStream) events.put(("end", None))
              case _ => ()
            }
        })
        ()
      }
    })
    val sch = bs.open().sync().getNow
    val hdrs = new DefaultHttp2Headers()
    hdrs.method("POST").scheme("http").authority("localhost").path(path)
    hdrs.add("content-type", contentType)
    hdrs.add("te", "trailers")
    hdrs.add("user-agent", "graft-spec-client/1.0")
    extraHeaders.foreach { case (k, v) => hdrs.add(k, v) }
    sch.write(new DefaultHttp2HeadersFrame(hdrs))
    sch.writeAndFlush(new DefaultHttp2DataFrame(
      Unpooled.wrappedBuffer(body), true)).sync()
    var headers = Map.empty[String, String]
    var trailers = Map.empty[String, String]
    val data = new ByteArrayOutputStream()
    var done = false
    while (!done) {
      val ev = events.poll(10, TimeUnit.SECONDS)
      assert(ev != null, "timed out waiting for gRPC response")
      ev match {
        case ("headers", m: Map[_, _]) =>
          val mm = m.asInstanceOf[Map[String, String]]
          // a HEADERS frame with grpc-status and END_STREAM unset never
          // happens; one WITH end-stream is either trailers or a
          // trailers-only response
          headers = headers ++ mm
        case ("trailers", m: Map[_, _]) =>
          trailers = m.asInstanceOf[Map[String, String]]; done = true
        case ("data", arr: Array[Byte]) => data.write(arr)
        case _ => ()
      }
    }
    (headers, trailers, data.toByteArray)
  }

  private def withClient(port: Int)(f: Channel => Unit): Unit = {
    val group = new NioEventLoopGroup(1)
    try {
      val conn = new Bootstrap()
        .group(group).channel(classOf[NioSocketChannel])
        .handler(new ChannelInitializer[Channel] {
          override def initChannel(ch: Channel): Unit = {
            ch.pipeline().addLast(
              Http2FrameCodecBuilder.forClient().build(),
              new Http2MultiplexHandler(
                new SimpleChannelInboundHandler[Http2Frame]() {
                  override def channelRead0(c: ChannelHandlerContext,
                                            m: Http2Frame): Unit = ()
                }))
            ()
          }
        })
        .connect("127.0.0.1", port).sync().channel()
      f(conn)
      conn.close().sync()
      ()
    } finally { group.shutdownGracefully(0, 1, TimeUnit.SECONDS); () }
  }

  test("gRPC unary export over h2c → durable spool → streaming decode → flatten") {
    val base = tempDir("graft-grpc")
    val rx = new OtlpGrpcReceiver(s"$base/spool")
    try {
      val t0 = 1709623800000000000L
      withClient(rx.grpcPort) { conn =>
        // two calls multiplexed on ONE connection — separate h2 streams
        val (h1, t1, d1) = call(conn, TracePath,
          grpcFrame(traceRequest("0102030405060708090a0b0c0d0e0f10", "GET /", t0)))
        assert(h1.get(":status").contains("200"))
        assert(h1.get("content-type").exists(_.startsWith("application/grpc")))
        assert(t1.get("grpc-status").contains("0"))
        assert(d1.toSeq === Seq[Byte](0, 0, 0, 0, 0)) // empty ExportResponse
        val (_, t2, _) = call(conn, TracePath,
          grpcFrame(traceRequest("0102030405060708090a0b0c0d0e0f11", "POST /checkout", t0 + 1)))
        assert(t2.get("grpc-status").contains("0"))
      }
      assert(rx.accepted("traces").get() === 2)
      val spool = s"$base/spool/traces"
      assert(Files.list(Paths.get(spool)).count() === 2)

      // the gRPC spool feeds the SAME streaming decode → flatten →
      // partitioned sink + manifest pipeline as the HTTP receiver
      import graft.config.ExporterConfig._
      val cfg = Config(Filesystem(base), Catalog("none"))
        .sinkFor("traces", tsColumn = "start_time_unix_nano")
      graft.streaming.StreamingIngest.ingestWithManifest(
        OtelTraces.flatten(OtelProtoSource.tracesStream(spark, spool)),
        cfg, s"$base/chk", s"$base/manifest").awaitTermination()
      val out = spark.read.parquet(s"$base/otel_traces")
      assert(out.count() === 2)
      assert(out.select("span_name").collect().map(_.getString(0)).sorted.toSeq ===
        Seq("GET /", "POST /checkout"))
      assert(out.select("service_name").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("checkout"))
      // manifest registration covers storage exactly
      val manifest = spark.read.parquet(s"$base/manifest")
      assert(graft.recovery.Recovery.scanOrphans(
        spark, s"$base/otel_traces", manifest).count() === 0)
    } finally rx.stop()
  }

  test("flow control: a body larger than the 64 KiB initial window lands byte-exact") {
    val base = tempDir("graft-grpc-big")
    val rx = new OtlpGrpcReceiver(s"$base/spool")
    try {
      // ~200 KiB request: netty MUST split DATA frames and wait for the
      // server's WINDOW_UPDATEs — a server without replenishment stalls
      val big = traceRequest("aa02030405060708090a0b0c0d0e0f10",
        "x" * 200000, 42L)
      withClient(rx.grpcPort) { conn =>
        val (_, tr, _) = call(conn, TracePath, grpcFrame(big))
        assert(tr.get("grpc-status").contains("0"))
      }
      val files = Files.list(Paths.get(s"$base/spool/traces")).toArray
      assert(files.length === 1)
      val stored = Files.readAllBytes(files(0).asInstanceOf[java.nio.file.Path])
      assert(stored.toSeq === big.toSeq, "spooled bytes differ from posted bytes")
    } finally rx.stop()
  }

  test("grpc-encoding gzip: compressed message inflates to a byte-exact spool") {
    val base = tempDir("graft-grpc-gzip")
    val rx = new OtlpGrpcReceiver(s"$base/spool")
    try {
      // a body big enough that gzip genuinely restructures it (and,
      // compressed, still crosses nothing interesting — the flow-control
      // test owns that edge)
      val plain = traceRequest("dd" * 16, "z" * 50000, 7L)
      val bos = new ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(plain); gz.close()
      val packed = bos.toByteArray
      assert(packed.length < plain.length / 2, "fixture should compress")
      val frame = new ByteArrayOutputStream()
      frame.write(1) // compressed flag
      frame.write((packed.length >> 24) & 0xff); frame.write((packed.length >> 16) & 0xff)
      frame.write((packed.length >> 8) & 0xff); frame.write(packed.length & 0xff)
      frame.write(packed)
      withClient(rx.grpcPort) { conn =>
        val (_, tr, _) = call(conn, TracePath, frame.toByteArray,
          extraHeaders = Seq("grpc-encoding" -> "gzip"))
        assert(tr.get("grpc-status").contains("0"), tr.toString)
      }
      val files = Files.list(Paths.get(s"$base/spool/traces")).toArray
      assert(files.length === 1)
      val stored = Files.readAllBytes(files(0).asInstanceOf[java.nio.file.Path])
      assert(stored.toSeq === plain.toSeq,
        "spool must hold the INFLATED protobuf, byte-exact")
      // corrupt gzip payload: INTERNAL, nothing spooled
      val bad = frame.toByteArray
      bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x55).toByte
      withClient(rx.grpcPort) { conn =>
        val (_, tr, _) = call(conn, TracePath, bad,
          extraHeaders = Seq("grpc-encoding" -> "gzip"))
        assert(tr.get("grpc-status").contains("13"), tr.toString)
      }
      assert(Files.list(Paths.get(s"$base/spool/traces")).count() === 1)
    } finally rx.stop()
  }

  test("protocol edges: unknown service, compressed frame, wrong content-type") {
    val base = tempDir("graft-grpc-edges")
    val rx = new OtlpGrpcReceiver(s"$base/spool")
    try {
      withClient(rx.grpcPort) { conn =>
        val (_, t1, _) = call(conn,
          "/opentelemetry.proto.collector.profiles.v1.ProfilesService/Export",
          grpcFrame(Array[Byte](1)))
        assert(t1.get("grpc-status").contains("12")) // UNIMPLEMENTED

        // compressed flag with NO grpc-encoding announced: the gRPC
        // spec's INTERNAL case (the message cannot be interpreted),
        // distinct from an announced-but-unsupported codec below
        val compressed = grpcFrame(traceRequest("bb" * 16, "s", 1L))
        compressed(0) = 1
        val (_, t2, _) = call(conn, TracePath, compressed)
        assert(t2.get("grpc-status").contains("13")) // INTERNAL

        // announced codec the server doesn't implement: UNIMPLEMENTED,
        // and the supported set is advertised for renegotiation
        val (_, t2b, _) = call(conn, TracePath, compressed,
          extraHeaders = Seq("grpc-encoding" -> "zstd"))
        assert(t2b.get("grpc-status").contains("12"))
        assert(t2b.get("grpc-accept-encoding").exists(_.contains("gzip")))

        val (_, t3, _) = call(conn, TracePath,
          grpcFrame(traceRequest("cc" * 16, "s", 1L)),
          contentType = "text/plain")
        assert(t3.get("grpc-status").contains("3")) // INVALID_ARGUMENT
      }
      // nothing spooled by any reject
      assert(Files.list(Paths.get(s"$base/spool/traces")).count() === 0)
      assert(rx.accepted("traces").get() === 0)
      // every reject is a counter row (one per outcome, like BatchMetric)
      assert(rx.telemetry.count("_unrouted", "bad_route") === 1)
      assert(rx.telemetry.count("traces", "bad_request") === 1) // INTERNAL 13
      assert(rx.telemetry.count("traces", "unsupported_encoding") === 1)
      assert(rx.telemetry.count("traces", "unsupported_media") === 1)
    } finally rx.stop()
  }

  test("backpressure: full spool sheds with RESOURCE_EXHAUSTED, spools nothing, recovers after drain") {
    import graft.sources.SpoolLimits
    val base = tempDir("graft-grpc-bp")
    val rx = new OtlpGrpcReceiver(s"$base/spool",
      limits = SpoolLimits(maxFiles = 1))
    try {
      val spool = Paths.get(s"$base/spool/traces")
      withClient(rx.grpcPort) { conn =>
        val (_, t1, _) = call(conn, TracePath,
          grpcFrame(traceRequest("01" * 16, "a", 1L)))
        assert(t1.get("grpc-status").contains("0"))
        // spool full: the spec-blessed retryable status, nothing written
        val (_, t2, _) = call(conn, TracePath,
          grpcFrame(traceRequest("02" * 16, "b", 1L)))
        assert(t2.get("grpc-status").contains("8")) // RESOURCE_EXHAUSTED
        assert(t2.get("grpc-message").exists(
          _.contains("spool+at+capacity")))
        assert(Files.list(spool).count() === 1)
        assert(rx.accepted("traces").get() === 1)

        // drain, refresh → accepting again
        Files.delete(Files.list(spool).findFirst().get())
        rx.gauge.refresh()
        val (_, t3, _) = call(conn, TracePath,
          grpcFrame(traceRequest("03" * 16, "c", 1L)))
        assert(t3.get("grpc-status").contains("0"))
      }
      assert(rx.telemetry.count("traces", "accepted") === 2)
      assert(rx.telemetry.count("traces", "shed") === 1)
      val row = rx.telemetry.toDF(spark).where("outcome = 'shed'").collect()
      assert(row.length === 1 && row(0).getInt(3) === 8 &&
        row(0).getLong(4) === 1L)
    } finally rx.stop()
  }

  test("grpc.health.v1 Health/Check: SERVING under cap, NOT_SERVING while shedding") {
    import graft.sources.SpoolLimits
    val base = tempDir("graft-grpc-health")
    val rx = new OtlpGrpcReceiver(s"$base/spool",
      limits = SpoolLimits(maxFiles = 1))
    try {
      withClient(rx.grpcPort) { conn =>
        // empty HealthCheckRequest -> HealthCheckResponse{status: SERVING(1)}
        val (_, t1, d1) = call(conn, "/grpc.health.v1.Health/Check",
          grpcFrame(Array.emptyByteArray))
        assert(t1.get("grpc-status").contains("0"))
        assert(d1.toSeq === Seq[Byte](0, 0, 0, 0, 2, 0x08, 1))
        // fill the spool -> the probe flips to NOT_SERVING(2)
        val (_, tok, _) = call(conn, TracePath,
          grpcFrame(traceRequest("0a" * 16, "a", 1L)))
        assert(tok.get("grpc-status").contains("0"))
        val (_, t2, d2) = call(conn, "/grpc.health.v1.Health/Check",
          grpcFrame(Array.emptyByteArray))
        assert(t2.get("grpc-status").contains("0"))
        assert(d2.toSeq === Seq[Byte](0, 0, 0, 0, 2, 0x08, 2))
      }
    } finally rx.stop()
  }

  test("memory limiter: over-valve stream sheds RESOURCE_EXHAUSTED and releases its hold") {
    import graft.sources.MemoryLimiter
    val base = tempDir("graft-grpc-mem")
    val limiter = new MemoryLimiter(1000L)
    val rx = new OtlpGrpcReceiver(s"$base/spool", memory = Some(limiter))
    try {
      withClient(rx.grpcPort) { conn =>
        // a 2000-byte body crosses the aggregate valve mid-buffer:
        // shed retryably, nothing spooled
        val (_, t1, _) = call(conn, TracePath, grpcFrame(new Array[Byte](2000)))
        assert(t1.get("grpc-status").contains("8"))
        assert(t1.get("grpc-message").exists(_.contains("memory+limit")))
        assert(Files.list(Paths.get(s"$base/spool/traces")).count() === 0)
        assert(rx.telemetry.count("traces", "shed_memory") === 1)
        assert(limiter.currentBytes === 0L) // the hold drained
        // recovery: a normal request is accepted afterwards
        val (_, t2, _) = call(conn, TracePath,
          grpcFrame(traceRequest("0b" * 16, "b", 1L)))
        assert(t2.get("grpc-status").contains("0"))
      }
      assert(limiter.currentBytes === 0L)
      assert(limiter.peakBytes <= 1000L)
    } finally rx.stop()
  }
}
