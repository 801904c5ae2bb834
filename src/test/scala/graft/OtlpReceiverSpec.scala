package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import graft.config.ExporterConfig._
import graft.otel.OtelTraces
import graft.sources.{OtelJsonSource, OtelProtoSource, OtlpHttpReceiver}
import graft.streaming.StreamingIngest
import graft.{ProtoWriter => W}

/** Push-based OTLP ingestion e2e — the reference's consume path
  * (`/root/reference/exporter.go:101` consumeTraces) re-expressed as
  * receiver → durable spool → streaming decode → flatten → partitioned
  * sink + manifest. The HTTP bodies here are hand-serialized
  * `ExportTraceServiceRequest` wire bytes, so the whole chain from the
  * collector's encoder to the parquet row is exercised without any
  * protobuf library. */
class OtlpReceiverSpec extends SparkSpec {

  /** ExportTraceServiceRequest with one span (public otlp field numbers:
    * resource_spans=1; resource=1/scope_spans=2; scope=1/spans=2). */
  private def traceRequest(tid: String, name: String, startNs: Long): Array[Byte] = {
    val resource = new W().msg(1, new W() // attributes[0] = service.name
      .str(1, "service.name").msg(2, new W().str(1, "checkout")))
    val span = new W()
      .hex(1, tid).hex(2, "1112131415161718")
      .str(5, name).vint(6, 2L)
      .fixed64(7, startNs).fixed64(8, startNs + 5000000L)
      .msg(15, new W().vint(3, 1L)) // status OK
    new W().msg(1, new W()
      .msg(1, resource)
      .msg(2, new W().msg(1, new W().str(1, "lib")).msg(2, span)))
      .toBytes
  }

  private val http = HttpClient.newHttpClient()
  private def post(uri: String, route: String, body: Array[Byte],
                   contentType: String = "application/x-protobuf"): HttpResponse[Array[Byte]] =
    http.send(
      HttpRequest.newBuilder(URI.create(uri + route))
        .header("Content-Type", contentType)
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  test("push → spool → streaming decode → flatten → partitioned sink + manifest") {
    val base = tempDir("graft-otlp-push")
    val rx = new OtlpHttpReceiver(s"$base/spool")
    try {
      val t0 = 1709623800000000000L // 2024-03-05T07:30Z
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f10", "GET /", t0))
        .statusCode() === 200)
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f11", "POST /checkout", t0 + 1))
        .statusCode() === 200)
      assert(rx.accepted("traces").get() === 2)
      // ack ⇒ durable: both requests are already on disk, atomically named
      val spool = OtlpHttpReceiver.spoolPath(s"$base/spool", "traces")
      assert(Files.list(Paths.get(spool)).count() === 2)

      val cfg = Config(Filesystem(base), Catalog("none"))
        .sinkFor("traces", tsColumn = "start_time_unix_nano")
      def runOnce(): Unit =
        StreamingIngest.ingestWithManifest(
          OtelTraces.flatten(OtelProtoSource.tracesStream(spark, spool)),
          cfg, s"$base/chk", s"$base/manifest").awaitTermination()
      runOnce()

      val table = s"$base/otel_traces"
      val out = spark.read.parquet(table)
      assert(out.count() === 2)
      assert(out.columns.contains("service_name") && out.columns.contains("hour"))
      assert(out.select("span_name").collect().map(_.getString(0)).sorted.toSeq ===
             Seq("GET /", "POST /checkout"))
      assert(out.select("service_name").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("checkout"))

      // manifest registration covers storage exactly
      val manifest = spark.read.parquet(s"$base/manifest")
      assert(graft.recovery.Recovery.scanOrphans(spark, table, manifest).count() === 0)
      assert(manifest.count() ===
             graft.recovery.Recovery.listDataFiles(spark, table).count())

      // a third push after the first drain: restart picks up ONLY the
      // delta (exactly-once via the file-source log)
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f12", "DELETE /cart", t0 + 2))
        .statusCode() === 200)
      runOnce()
      assert(spark.read.parquet(table).count() === 3)
      runOnce() // no new pushes → no duplicates
      assert(spark.read.parquet(table).count() === 3)
    } finally rx.stop()
  }

  test("ingest commit: no listing job in getBatch, no job in registration, each file once") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = tempDir("graft-otlp-commit")
    val perBatch = 45 // above Spark's default listing threshold (32)
    val nBatches = 4
    val rx = new OtlpHttpReceiver(s"$base/spool")
    try {
      val t0 = 1709623800000000000L // 2024-03-05T07:30Z
      (0 until perBatch * nBatches).foreach { i =>
        // three hours of traffic, so each batch writes several partitions
        val ts = t0 + (i % 3) * 3600L * 1000000000L
        assert(post(rx.uri, "/v1/traces",
          traceRequest(f"0102030405060708$i%016x", s"op$i", ts)).statusCode() === 200)
      }
    } finally rx.stop()
    val spool = OtlpHttpReceiver.spoolPath(s"$base/spool", "traces")
    val cfg = Config(Filesystem(base), Catalog("none"))
      .sinkFor("traces", tsColumn = "start_time_unix_nano")
    val manifest = s"$base/manifest"

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamingIngest.ingestWithManifest(
        OtelTraces.flatten(OtelProtoSource.tracesStream(spark, spool,
          Map("maxFilesPerTrigger" -> perBatch.toString))),
        cfg, s"$base/chk", manifest).awaitTermination()
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val descs = jobs.asScala.toSeq

    // getBatch stats the spool files on the driver: no listing job
    assert(!descs.exists(_.startsWith("Listing leaf files")), descs.mkString("\n"))
    // registration runs no Spark job; the data write is tagged per batch
    assert(!descs.exists(_.endsWith(": register")), descs.mkString("\n"))
    val written = descs.filter(_.endsWith(": write")).distinct
    assert(written.size === nBatches, descs.mkString("\n"))

    // every table file registered exactly once, one part per batch
    val table = graft.sink.PartitionedParquetSink.tablePath(cfg)
    val registered = graft.recovery.Recovery.readManifest(spark, manifest)
      .collect().map(_.getString(0)).toSeq
    val onDisk = graft.recovery.Recovery.listDataFiles(spark, table)
      .collect().map(_.getString(0)).toSeq
    assert(registered.sorted === onDisk.sorted)
    assert(ManifestDir.parts(manifest).size === nBatches)
    assert(ManifestDir.residue(manifest).isEmpty, ManifestDir.residue(manifest))
    assert(spark.read.parquet(registered: _*).count() === perBatch * nBatches)
  }

  test("stop() shuts down the request executor") {
    val rx = new OtlpHttpReceiver(tempDir("graft-otlp-stop"))
    assert(post(rx.uri, "/health", Array.emptyByteArray).statusCode() === 200)
    rx.stop()
    assert(rx.pool.isShutdown)
    assert(rx.pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS))
  }

  test("cold capstone: pushed OTLP → sink → standalone Iceberg commit → catalog-free analytics") {
    import org.json4s.jackson.JsonMethods.{compact, render}
    val base = tempDir("graft-otlp-cold")
    val rx = new OtlpHttpReceiver(s"$base/spool")
    val t0 = 1709623800000000000L // 2024-03-05T07:30Z
    val t1 = t0 + 7200L * 1000000000L // two hours later
    try {
      Seq(("0102030405060708090a0b0c0d0e0f10", "GET /", t0),
          ("0102030405060708090a0b0c0d0e0f11", "POST /checkout", t0 + 1),
          ("0102030405060708090a0b0c0d0e0f12", "GET /", t1)).foreach {
        case (tid, name, ts) =>
          assert(post(rx.uri, "/v1/traces", traceRequest(tid, name, ts))
            .statusCode() === 200)
      }
      val spool = OtlpHttpReceiver.spoolPath(s"$base/spool", "traces")
      val cfg = Config(Filesystem(base), Catalog("none"))
        .sinkFor("traces", tsColumn = "start_time_unix_nano")
      StreamingIngest.ingestWithManifest(
        OtelTraces.flatten(OtelProtoSource.tracesStream(spark, spool)),
        cfg, s"$base/chk", s"$base/manifest").awaitTermination()
    } finally rx.stop()
    // receiver and pipeline are GONE — commit the sink's files into a
    // stand-alone Iceberg chain with footer-harvested ts bounds, then
    // everything below is a catalog-free cold read
    val table = s"$base/otel_traces"
    val paths = graft.recovery.Recovery.listDataFiles(spark, table)
      .collect().map(_.getString(0)).toSeq
    val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
    val stats = graft.recovery.Recovery.fileColumnStats(
      spark, paths, "start_time_unix_nano")
    val (schemaJson, topIds) = graft.catalog.RestCatalogClient
      .icebergSchemaJson(spark.read.parquet(table).schema)
    val iceLoc = s"$base/otel_traces_iceberg"
    graft.catalog.IcebergCommit.commitStandalone(
      spark.sparkContext.hadoopConfiguration, iceLoc,
      compact(render(schemaJson)), None,
      paths.map { p =>
        val bounds = stats.get(p).toSeq.map { case (mn, mx) =>
          (topIds("start_time_unix_nano"),
            graft.catalog.IcebergSingleValue.longBytes(mn),
            graft.catalog.IcebergSingleValue.longBytes(mx))
        }
        graft.catalog.RestCatalogClient.DataFile(
          p, 0L, counts.getOrElse(p, 0L), bounds)
      })
    val cold = graft.catalog.IcebergTableReader.read(spark, iceLoc)
    assert(cold.count() === 3L)
    val perSvc = cold.groupBy("service_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSvc === Map("checkout" -> 3L))
    // hour-1 slice prunes hour-2's file at the MANIFEST level (the
    // flatten converts start_time_unix_nano to TIMESTAMP, so footer
    // bounds — and hence the slice — are in MICROS)
    val t0Us = t0 / 1000L
    val sliced = graft.catalog.IcebergTableReader.readSlice(
      spark, iceLoc, "start_time_unix_nano", t0Us, t0Us + 3600L * 1000000L)
    assert(sliced.count() === 2L)
    assert(sliced.inputFiles.length < cold.inputFiles.length,
      "slice must open fewer files than the full cold read")
  }

  test("backpressure: a full spool sheds with 429 + Retry-After, spools nothing, recovers after drain") {
    import graft.sources.SpoolLimits
    val base = tempDir("graft-otlp-bp")
    // cap the spool at 2 files — the sending_queue bound (config.go:25-27)
    val rx = new OtlpHttpReceiver(s"$base/spool",
      limits = SpoolLimits(maxFiles = 2))
    try {
      val t0 = 1709623800000000000L
      val spool = Paths.get(OtlpHttpReceiver.spoolPath(s"$base/spool", "traces"))
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f10", "a", t0)).statusCode() === 200)
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f11", "b", t0)).statusCode() === 200)
      // spool full: shed with the spec-blessed retryable signal, and
      // NOTHING lands on disk
      val shed = post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f12", "c", t0))
      assert(shed.statusCode() === 429)
      assert(shed.headers().firstValue("Retry-After").orElse("") === "1")
      assert(new String(shed.body(), "UTF-8").contains("spool at capacity"))
      assert(Files.list(spool).count() === 2)
      assert(rx.accepted("traces").get() === 2)
      // still shedding while full
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f13", "d", t0)).statusCode() === 429)

      // drain one file (what the streaming source's cleanSource or a
      // spool-maintenance job does) → the gauge re-opens on refresh
      val victim = Files.list(spool).findFirst().get()
      Files.delete(victim)
      rx.gauge.refresh()
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f14", "e", t0)).statusCode() === 200)
      assert(Files.list(spool).count() === 2)

      // the request-outcome counters an operator alerts on (one row per
      // (signal, outcome, code), queryable like BatchMetric)
      assert(rx.telemetry.count("traces", "accepted") === 3)
      assert(rx.telemetry.count("traces", "shed") === 2)
      val df = rx.telemetry.toDF(spark)
      assert(df.columns.toSeq ===
        Seq("transport", "signal", "outcome", "code", "requests"))
      val shedRow = df.where("outcome = 'shed'").collect()
      assert(shedRow.length === 1 && shedRow(0).getInt(3) === 429 &&
        shedRow(0).getLong(4) === 2)
    } finally rx.stop()
  }

  test("backpressure byte cap: an oversized body sheds; gauge adopts a pre-existing spool") {
    import graft.sources.SpoolLimits
    val base = tempDir("graft-otlp-bp2")
    val t0 = 1709623800000000000L
    val body = traceRequest("0102030405060708090a0b0c0d0e0f10", "a", t0)
    // seed the spool BEFORE the receiver starts (a prior incarnation's
    // backlog): the gauge must adopt it, not start from zero
    val pre = Paths.get(s"$base/spool/traces")
    Files.createDirectories(pre)
    Files.write(pre.resolve("0000000000000-prior.pb"), body)
    val rx = new OtlpHttpReceiver(s"$base/spool",
      limits = SpoolLimits(maxBytes = body.length.toLong + 10))
    try {
      assert(rx.gauge.currentFiles === 1)
      assert(rx.gauge.currentBytes === body.length.toLong)
      // the next body would exceed the byte cap → shed, nothing written
      assert(post(rx.uri, "/v1/traces", body).statusCode() === 429)
      assert(Files.list(pre).count() === 1)
      assert(rx.telemetry.count("traces", "shed") === 1)
    } finally rx.stop()
  }

  test("spool GC drains committed files: the full bounded-queue lifecycle") {
    import graft.sources.{SpoolGc, SpoolLimits}
    import graft.config.ExporterConfig._
    val base = tempDir("graft-otlp-gc")
    val rx = new OtlpHttpReceiver(s"$base/spool",
      limits = SpoolLimits(maxFiles = 2))
    try {
      val t0 = 1709623800000000000L
      val spool = OtlpHttpReceiver.spoolPath(s"$base/spool", "traces")
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f10", "a", t0)).statusCode() === 200)
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f11", "b", t0 + 1)).statusCode() === 200)
      // full: sheds
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f12", "c", t0 + 2)).statusCode() === 429)

      // GC before ANY ingest: nothing is committed, nothing may be
      // deleted (at-least-once survives any GC schedule)
      val ckpt = s"$base/chk"
      assert(SpoolGc.sweepSpool(ckpt, s"$base/spool", Some(rx.gauge)) === ((0L, 0L)))
      assert(Files.list(Paths.get(spool)).count() === 2)

      // drain: the stream ingests both spool files, then GC deletes
      // exactly the committed set and re-opens admission
      val cfg = Config(Filesystem(base), Catalog("none"))
        .sinkFor("traces", tsColumn = "start_time_unix_nano")
      StreamingIngest.ingestWithManifest(
        OtelTraces.flatten(OtelProtoSource.tracesStream(spark, spool)),
        cfg, ckpt, s"$base/manifest").awaitTermination()
      val (deleted, bytes) = SpoolGc.sweepSpool(ckpt, s"$base/spool", Some(rx.gauge))
      assert(deleted === 2L && bytes > 0L)
      assert(Files.list(Paths.get(spool)).count() === 0)
      assert(rx.gauge.currentFiles === 0L)
      // admission re-opens without waiting for the rescan interval
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f13", "d", t0 + 3)).statusCode() === 200)
      // the ingested rows are untouched by the GC
      assert(spark.read.parquet(s"$base/otel_traces").count() === 2)
      // idempotent: a second sweep with no new commits deletes nothing
      assert(SpoolGc.sweepSpool(ckpt, s"$base/spool", Some(rx.gauge)) === ((0L, 0L)))
      assert(Files.list(Paths.get(spool)).count() === 1)
    } finally rx.stop()
  }

  test("auto GC: on_start adopts + drains a prior incarnation's committed backlog") {
    import graft.sources.{SpoolGcTriggers, SpoolLimits}
    val base = tempDir("graft-otlp-gc-start")
    // a prior incarnation's spool file, already committed by the stream
    val spool = Paths.get(s"$base/spool/traces")
    Files.createDirectories(spool)
    val f = Files.write(spool.resolve("0000000000000-old.pb"), Array[Byte](1, 2))
    val src = Paths.get(s"$base/chk/sources/0")
    Files.createDirectories(src)
    Files.write(src.resolve("0"),
      s"""v1\n{"path":"${f.toUri}","timestamp":1,"batchId":0}""".getBytes("UTF-8"))
    val commits = Paths.get(s"$base/chk/commits")
    Files.createDirectories(commits)
    Files.write(commits.resolve("0"), "v1\n{}".getBytes("UTF-8"))
    // on_start parity (example/otel-config.yaml:8-15): construction
    // sweeps the committed file, so the bounded spool starts empty
    val rx = new OtlpHttpReceiver(s"$base/spool",
      limits = SpoolLimits(maxFiles = 1),
      gc = Some(SpoolGcTriggers(s"$base/chk")))
    try {
      assert(!Files.exists(f))
      assert(rx.gauge.currentFiles === 0L)
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f10", "a", 1L)).statusCode() === 200)
    } finally rx.stop()
  }

  test("auto GC: crossing the rebound threshold drains committed files without manual sweeps") {
    import graft.sources.{SpoolGcTriggers, SpoolLimits}
    import graft.config.ExporterConfig._
    val base = tempDir("graft-otlp-gc-rebound")
    val ckpt = s"$base/chk"
    val rx = new OtlpHttpReceiver(s"$base/spool",
      limits = SpoolLimits(maxFiles = 2),
      gc = Some(SpoolGcTriggers(ckpt, onStart = false, reboundFraction = 0.5)))
    try {
      val t0 = 1709623800000000000L
      val spool = OtlpHttpReceiver.spoolPath(s"$base/spool", "traces")
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f10", "a", t0)).statusCode() === 200)
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f11", "b", t0 + 1)).statusCode() === 200)
      // over the threshold but nothing committed yet: the rebound sweep
      // runs, deletes NOTHING, and the request sheds (at-least-once)
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f12", "c", t0 + 2)).statusCode() === 429)
      assert(Files.list(Paths.get(spool)).count() === 2)

      // the consumer commits the backlog...
      val cfg = Config(Filesystem(base), Catalog("none"))
        .sinkFor("traces", tsColumn = "start_time_unix_nano")
      StreamingIngest.ingestWithManifest(
        OtelTraces.flatten(OtelProtoSource.tracesStream(spark, spool)),
        cfg, ckpt, s"$base/manifest").awaitTermination()

      // ...and the NEXT push self-heals: the rebound sweep (gauge at
      // 2/2 >= 0.5) drains the committed files inline and the request
      // is ADMITTED — no manual sweepSpool anywhere
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f13", "d", t0 + 3)).statusCode() === 200)
      assert(Files.list(Paths.get(spool)).count() === 1)
      assert(rx.gauge.currentFiles === 1L)
      assert(spark.read.parquet(s"$base/otel_traces").count() === 2)
    } finally rx.stop()
  }

  test("health endpoint: 200 with gauge fields; shed state visible at capacity") {
    import graft.sources.SpoolLimits
    val base = tempDir("graft-otlp-health")
    val rx = new OtlpHttpReceiver(s"$base/spool",
      limits = SpoolLimits(maxFiles = 1))
    try {
      def health(): (Int, String) = {
        val r = http.send(
          HttpRequest.newBuilder(URI.create(rx.uri + "/health")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val (code, body) = health()
      assert(code === 200)
      assert(body.contains(""""status":"ok""""))
      assert(body.contains(""""files":0""") && body.contains(""""max_files":1"""))
      // fill to cap: the process is still up (200) but the prober can
      // see the shed state and the counters behind it
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f10", "a", 1L)).statusCode() === 200)
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0f11", "b", 2L)).statusCode() === 429)
      val (code2, body2) = health()
      assert(code2 === 200)
      assert(body2.contains(""""status":"shedding""""))
      assert(body2.contains(""""files":1"""))
      assert(body2.contains(""""traces.accepted":1"""))
      assert(body2.contains(""""traces.shed":1"""))
    } finally rx.stop()
  }

  test("memory limiter: aggregate in-flight bytes bounded across concurrent requests") {
    import graft.sources.MemoryLimiter
    val base = tempDir("graft-otlp-mem")
    val limiter = new MemoryLimiter(1000L)
    val rx = new OtlpHttpReceiver(s"$base/spool", memory = Some(limiter))
    try {
      // one oversized body sheds retryably BEFORE being fully buffered,
      // and nothing is spooled
      val big = post(rx.uri, "/v1/traces", new Array[Byte](2000))
      assert(big.statusCode() === 429)
      assert(new String(big.body(), "UTF-8").contains("memory limit"))
      assert(Files.list(Paths.get(
        OtlpHttpReceiver.spoolPath(s"$base/spool", "traces"))).count() === 0)
      assert(rx.telemetry.count("traces", "shed_memory") === 1)

      // N parallel near-cap requests: the SUM stays bounded — some
      // shed, the peak never exceeds the valve, and all memory drains
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      (1 to 8).foreach { _ =>
        pool.execute(() => {
          codes.add(post(rx.uri, "/v1/traces", new Array[Byte](400)).statusCode())
          ()
        })
      }
      pool.shutdown()
      assert(pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(limiter.peakBytes <= 1000L)
      assert(limiter.currentBytes === 0L) // every hold released
      import scala.jdk.CollectionConverters._
      assert(codes.asScala.forall(c => c == 200 || c == 429))
      assert(codes.asScala.exists(_ == 200))
      // recovery: with the valve drained, a normal request is accepted
      assert(post(rx.uri, "/v1/traces",
        traceRequest("0102030405060708090a0b0c0d0e0fff", "z", 99L)).statusCode() === 200)
    } finally rx.stop()
  }

  test("receiver protocol edges: 404 / 405 / 415, and proto response type") {
    val base = tempDir("graft-otlp-edges")
    val rx = new OtlpHttpReceiver(s"$base/spool")
    try {
      assert(post(rx.uri, "/v1/profiles", Array[Byte](1)).statusCode() === 404)
      val get = http.send(
        HttpRequest.newBuilder(URI.create(rx.uri + "/v1/traces")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(get.statusCode() === 405)
      // neither OTLP encoding: explicit 415
      assert(post(rx.uri, "/v1/traces", "x".getBytes("UTF-8"),
        contentType = "text/plain").statusCode() === 415)
      // nothing spooled by the rejects
      assert(Files.list(Paths.get(
        OtlpHttpReceiver.spoolPath(s"$base/spool", "traces"))).count() === 0)
      val ok = post(rx.uri, "/v1/traces",
        traceRequest("aa02030405060708090a0b0c0d0e0f10", "s", 1L))
      assert(ok.statusCode() === 200)
      assert(ok.headers().firstValue("Content-Type").orElse("") ===
             "application/x-protobuf")
      assert(ok.body().isEmpty) // empty ExportTraceServiceResponse
    } finally rx.stop()
  }

  test("Content-Encoding gzip: body inflates to a byte-exact spool; edges clean") {
    val base = tempDir("graft-otlp-gzip")
    val rx = new OtlpHttpReceiver(s"$base/spool")
    try {
      val plain = traceRequest("ee" * 16, "y" * 50000, 9L)
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(plain); gz.close()
      val packed = bos.toByteArray
      assert(packed.length < plain.length / 2, "fixture should compress")
      val ok = http.send(
        HttpRequest.newBuilder(URI.create(rx.uri + "/v1/traces"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "gzip")
          .POST(HttpRequest.BodyPublishers.ofByteArray(packed)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(ok.statusCode() === 200)
      val dir = Paths.get(OtlpHttpReceiver.spoolPath(s"$base/spool", "traces"))
      val files = Files.list(dir).toArray
      assert(files.length === 1)
      val stored = Files.readAllBytes(files(0).asInstanceOf[java.nio.file.Path])
      assert(stored.toSeq === plain.toSeq,
        "spool must hold the INFLATED protobuf, byte-exact")
      // corrupt gzip: 400, nothing new spooled
      val bad = packed.clone(); bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x55).toByte
      val r400 = http.send(
        HttpRequest.newBuilder(URI.create(rx.uri + "/v1/traces"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "gzip")
          .POST(HttpRequest.BodyPublishers.ofByteArray(bad)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r400.statusCode() === 400)
      // unsupported codec: explicit 415, never a mis-decode
      val r415 = http.send(
        HttpRequest.newBuilder(URI.create(rx.uri + "/v1/traces"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "zstd")
          .POST(HttpRequest.BodyPublishers.ofByteArray(packed)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r415.statusCode() === 415)
      assert(Files.list(dir).count() === 1)
      assert(rx.accepted("traces").get() === 1)
    } finally rx.stop()
  }

  test("OTLP/JSON POSTs spool separately and flow through OtelJsonSource") {
    val base = tempDir("graft-otlp-json")
    val rx = new OtlpHttpReceiver(s"$base/spool")
    try {
      val body =
        """{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-j"}}],"droppedAttributesCount":0},"scopeSpans":[{"scope":{"name":"lib","version":"2.0"},"spans":[{"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"b7ad6b7169203331","traceState":"","parentSpanId":"","name":"GET /api","kind":2,"startTimeUnixNano":"1700000000000000000","endTimeUnixNano":"1700000001500000000","attributes":[],"events":[],"links":[],"status":{"code":1}}]}]}]}"""
      val r = post(rx.uri, "/v1/traces", body.getBytes("UTF-8"),
        contentType = "application/json")
      assert(r.statusCode() === 200)
      assert(new String(r.body(), "UTF-8") === "{}")
      // json spool is separate from the protobuf spool
      val jsonDir = OtlpHttpReceiver.jsonSpoolPath(s"$base/spool", "traces")
      assert(Files.list(Paths.get(jsonDir)).count() === 1)
      assert(Files.list(Paths.get(
        OtlpHttpReceiver.spoolPath(s"$base/spool", "traces"))).count() === 0)
      // the Export*ServiceRequest JSON body IS the OtelJsonSource shape
      val out = OtelTraces.flatten(OtelJsonSource.traces(spark, jsonDir))
        .collect()
      assert(out.length === 1)
      assert(out(0).getAs[String]("service_name") === "svc-j")
      assert(out(0).getAs[String]("span_name") === "GET /api")
      // gzip works on the JSON route too
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(body.getBytes("UTF-8")); gz.close()
      val rz = http.send(
        HttpRequest.newBuilder(URI.create(rx.uri + "/v1/traces"))
          .header("Content-Type", "application/json")
          .header("Content-Encoding", "gzip")
          .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(rz.statusCode() === 200)
      assert(Files.list(Paths.get(jsonDir)).count() === 2)
      assert(rx.accepted("traces").get() === 2)
    } finally rx.stop()
  }

  test("logs and metrics routes spool to their own signals") {
    val base = tempDir("graft-otlp-sig")
    val rx = new OtlpHttpReceiver(s"$base/spool")
    try {
      // ExportLogsServiceRequest: resource_logs=1 { scope_logs=2 {
      // log_records=2 { time=1 fixed64, severity_number=2, body=5 } } }
      val logReq = new W().msg(1, new W()
        .msg(1, new W().msg(1, new W().str(1, "service.name")
          .msg(2, new W().str(1, "checkout"))))
        .msg(2, new W().msg(1, new W().str(1, "lib"))
          .msg(2, new W().fixed64(1, 1709623800000000001L).vint(2, 17L)
            .msg(5, new W().str(1, "disk full"))))).toBytes
      assert(post(rx.uri, "/v1/logs", logReq).statusCode() === 200)
      assert(rx.accepted("logs").get() === 1 && rx.accepted("traces").get() === 0)
      // the spooled file decodes through the BATCH source too
      val logDir = OtlpHttpReceiver.spoolPath(s"$base/spool", "logs")
      val logs = graft.otel.OtelLogs.flatten(OtelProtoSource.logs(spark, logDir))
      assert(logs.count() === 1)
      assert(logs.select("body").first().getString(0) === "disk full")
    } finally rx.stop()
  }

  /** r16 capstone: one pushed OTLP metrics request carrying all five
    * metric types drains through [[graft.otel.OtelMetricsPipeline]]
    * into the five partitioned tables — the reference's
    * consumeMetrics → five-arrow-tables loop, end to end over the
    * receiver's spool. */
  test("pushed metrics request drains into all five tables via OtelMetricsPipeline") {
    val base = tempDir("graft-otlp-met5")
    val rx = new OtlpHttpReceiver(s"$base/spool")
    try {
      val ts = 1709623800000000003L
      val resource = new W().msg(1, new W()
        .str(1, "service.name").msg(2, new W().str(1, "checkout")))
      val numPoint = new W().fixed64(3, ts).fixed64(6, 42L)
      val gauge = new W().str(1, "cpu.load").msg(5, new W().msg(1, numPoint))
      val sumM = new W().str(1, "requests").msg(7, new W().msg(1, numPoint)
        .vint(2, 2).vint(3, 1))
      val histM = new W().str(1, "latency").msg(9, new W().msg(1,
        new W().fixed64(3, ts).fixed64(4, 10L).dbl(5, 55.5)
          .packedFixed64(6, Seq(1L, 4L, 5L))).vint(2, 1))
      val expM = new W().str(1, "latency.exp").msg(10, new W().msg(1,
        new W().fixed64(3, ts).fixed64(4, 7L).dbl(5, 12.25).sint32(6, -2)
          .fixed64(7, 2L)
          .msg(8, new W().sint32(1, 3).packedVarints(2, Seq(1L, 2L))))
        .vint(2, 2))
      val summaryM = new W().str(1, "rpc.duration").msg(11, new W().msg(1,
        new W().fixed64(3, ts).fixed64(4, 100L).dbl(5, 999.5)
          .msg(6, new W().dbl(1, 0.5).dbl(2, 1.25))))
      val req = new W().msg(1, new W().msg(1, resource)
        .msg(2, new W().msg(1, new W().str(1, "lib"))
          .msg(2, gauge).msg(2, sumM).msg(2, histM).msg(2, expM)
          .msg(2, summaryM))).toBytes
      assert(post(rx.uri, "/v1/metrics", req).statusCode() === 200)

      val spool = OtlpHttpReceiver.spoolPath(s"$base/spool", "metrics")
      val cfg = Config(Filesystem(base), Catalog("none"))
      graft.otel.OtelMetricsPipeline
        .startAll(spark, spool, cfg, s"$base/chk", format = "proto")
        .values.foreach(_.awaitTermination())
      Seq("otel_metrics_gauge", "otel_metrics_sum", "otel_metrics_histogram",
          "otel_metrics_exponential_histogram", "otel_metrics_summary")
        .foreach { t =>
          val out = spark.read.parquet(s"$base/$t")
          assert(out.count() === 1, s"$t rows")
          assert(out.columns.contains("hour"), s"$t partitioned")
          assert(out.select("service_name").first().getString(0) === "checkout", t)
        }
    } finally rx.stop()
  }
}
