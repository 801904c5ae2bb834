package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.config.ExporterConfig.{Catalog, Config, Filesystem}
import graft.otel.OtelTraces
import graft.recovery.Recovery
import graft.sink.PartitionedParquetSink
import graft.sources.{OtelProtoSource, OtlpHttpReceiver}
import graft.streaming.StreamingIngest

/** `otlp_ingest`: a live exporter under an open loop.
  *
  * One OtlpHttpReceiver spools to disk; one streaming query
  * `flatten(tracesStream(spool))` feeds `ingestWithManifest` with the
  * exporter's default config (hourly, snappy, 200 ms trigger,
  * send_batch_size 8192, 10 consumers). Pre-encoded requests go out on a
  * fixed schedule (steady phase), then a backlog goes out back to back
  * (burst phase), from two sender threads with one HTTP connection each.
  * Latency counts from each request's due time. Freshness maps each
  * request to its micro-batch through the file source's batch log and
  * takes the batch end from streaming progress events, after the run.
  */
object Ingest {

  val SteadyRatePerS = 40
  val WarmupRequests = 120
  val BurstRequests = 320
  val AckTimeoutMs = 5000L   // ExporterConfig's default exporter timeout
  val CommitLimitMs = 30000L // a span later than this counts as failed

  /** 2024-03-05T12:00Z: simulated "now" of the first request. */
  private val SimBaseNs = 1709640000L * 1000000000L

  final case class Req(slot: Int, phase: Int, plain: Array[Byte], wire: Array[Byte],
                       gzip: Boolean, spans: Int, ids: Array[String],
                       replayOf: Int, key: String) {
    @volatile var dueNs = 0L
    @volatile var sentNs = 0L
    @volatile var ackNs = 0L
    @volatile var status = 0
  }

  /** Log-uniform request size in [8, 256] spans (mean ~72). */
  private def size(r: java.util.SplittableRandom): Int =
    math.min(256, math.max(8, math.exp(math.log(8) + r.nextDouble() * math.log(32)).toInt))

  /** The request stream: traces are cut into requests in generation
    * order; about 5% of traces start 1-6 h before "now"; about 2% of
    * steady and burst requests replay an earlier request verbatim. */
  def requests(seed: Long, steady: Int): IndexedSeq[Req] = {
    val r = Otlp.rng(seed, 2, 0)
    val phases = Seq.fill(WarmupRequests)(0) ++ Seq.fill(steady)(1) ++ Seq.fill(BurstRequests)(2)
    val out = ArrayBuffer.empty[Req]
    var traceIdx = 0L
    val pending = scala.collection.mutable.Queue.empty[(Int, graft.sources.OtelProtoSource.PbSpan)]
    phases.zipWithIndex.foreach { case (phase, slot) =>
      val samePhase = out.filter(p => p.phase == phase && p.replayOf < 0)
      if (phase > 0 && samePhase.size > 20 && r.nextInt(100) < 2) {
        val orig = samePhase(r.nextInt(samePhase.size - 20))
        out += orig.copy(slot = slot, replayOf = orig.slot)
      } else {
        val n = size(r)
        val nowNs = SimBaseNs + slot * (1000000000L / SteadyRatePerS)
        while (pending.size < n) {
          val tr = Otlp.rng(seed, 3, traceIdx)
          val late = if (tr.nextInt(100) < 5) (1 + tr.nextInt(6)) * 3600000000000L else 0L
          pending ++= Otlp.trace(seed, traceIdx, nowNs - late)
          traceIdx += 1
        }
        val spans = Seq.fill(n)(pending.dequeue())
        val plain = Otlp.encode(Otlp.batches(spans))
        val gz = r.nextBoolean()
        out += Req(slot, phase, plain, if (gz) Otlp.gzip(plain) else plain, gz, n,
          spans.map { case (_, s) => s.trace_id + ":" + s.span_id }.toArray, -1,
          java.util.Arrays.hashCode(plain).toString + ":" + plain.length)
      }
    }
    out.toIndexedSeq
  }

  /** Decode a sample of generated requests through the engine's own
    * decoder and require exactly the generator's spans back. */
  private def selfCheck(seed: Long, reqs: IndexedSeq[Req]): Unit = {
    val r = Otlp.rng(seed, 4, 0)
    (0 until 24).map(_ => reqs(r.nextInt(reqs.size))).foreach { q =>
      val decoded = OtelProtoSource.decodeTraces(q.plain)
      val ids = decoded.flatMap(_.spans.map(s => s.trace_id + ":" + s.span_id))
      require(ids.sorted == q.ids.toSeq.sorted,
        s"self-check: request ${q.slot} decodes to other spans")
      require(Otlp.encode(decoded).sameElements(q.plain),
        s"self-check: request ${q.slot} does not round-trip through decodeTraces")
      if (q.gzip) {
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(q.wire))
        require(in.readAllBytes().sameElements(q.plain), "self-check: gzip body")
      }
    }
  }

  private final class Sender(uri: String) {
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofMillis(AckTimeoutMs)).build()
    def send(q: Req): Unit = {
      val b = HttpRequest.newBuilder(URI.create(uri + "/v1/traces"))
        .timeout(Duration.ofMillis(AckTimeoutMs))
        .header("Content-Type", "application/x-protobuf")
      if (q.gzip) b.header("Content-Encoding", "gzip")
      q.sentNs = System.nanoTime()
      q.status =
        try client.send(b.POST(HttpRequest.BodyPublishers.ofByteArray(q.wire)).build(),
          HttpResponse.BodyHandlers.discarding()).statusCode()
        catch { case _: Exception => -1 }
      q.ackNs = System.nanoTime()
    }
  }

  /** Open loop: two threads take requests in order, each waits for the
    * request's due time and sends it on its own connection. */
  private def sendAll(uri: String, reqs: Seq[Req]): Unit = {
    val next = new AtomicInteger(0)
    val threads = (0 until 2).map { _ =>
      val s = new Sender(uri)
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val q = reqs(i)
          val wait = q.dueNs - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          s.send(q)
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** File-source batch log: spool file name → micro-batch id. */
  private def batchLog(chk: Path): Map[String, Long] = {
    val dir = chk.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val base = ctx.work.resolve("ingest")
    val spoolRoot = base.resolve("spool").toString
    val cfg = Config(Filesystem(base.toString), Catalog("none"))
    val sink = cfg.sinkFor("traces", "start_time_unix_nano")
    val chk = base.resolve("chk")
    val manifest = base.resolve("manifest").toString

    val steady = SteadyRatePerS * ctx.seconds
    val reqs = requests(ctx.seed, steady)
    selfCheck(ctx.seed, reqs)

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val rx = new OtlpHttpReceiver(spoolRoot)
    val spool = OtlpHttpReceiver.spoolPath(spoolRoot, "traces")
    val query = StreamingIngest.ingestWithManifest(
      OtelTraces.flatten(OtelProtoSource.tracesStream(spark, spool, cfg.streamOptions)),
      sink, chk.toString, manifest, trigger = cfg.streamTrigger,
      sinkParallelism = cfg.sinkParallelism)
    // the file source counts one input row per spool file (= request)
    def awaitFiles(n: Long, deadlineNs: Long): Boolean = {
      while (progress.inputRows.get < n && System.nanoTime() < deadlineNs &&
             query.exception.isEmpty) Thread.sleep(20)
      progress.inputRows.get >= n
    }

    // warm-up: untimed traffic through the whole pipeline
    val (warm, timed) = reqs.partition(_.phase == 0)
    val w0 = System.nanoTime() + 10000000L
    warm.zipWithIndex.foreach { case (q, i) => q.dueNs = w0 + i * 12500000L }
    sendAll(rx.uri, warm)
    require(awaitFiles(warm.size, System.nanoTime() + 120000000000L),
      s"warm-up traffic was not committed: ${query.exception}")

    val setupS = ctx.sinceLaunch
    val gc = new GcWatch
    gc.start()
    val t0 = System.nanoTime() + 20000000L
    val epochAtT0 = System.currentTimeMillis() + 20L
    def epochMs(ns: Long): Double = epochAtT0 + (ns - t0) / 1e6
    val steadyReqs = timed.filter(_.phase == 1)
    val burstReqs = timed.filter(_.phase == 2)
    steadyReqs.zipWithIndex.foreach { case (q, i) => q.dueNs = t0 + i * (1000000000L / SteadyRatePerS) }
    val burstDue = t0 + steady.toLong * (1000000000L / SteadyRatePerS)
    burstReqs.foreach(_.dueNs = burstDue)
    tr.scoped(spark, "ingest") {
      sendAll(rx.uri, timed)
      awaitFiles(reqs.size, System.nanoTime() + CommitLimitMs * 1000000L)
    }
    val tEnd = System.nanoTime()
    val heap = gc.stop()
    query.stop()
    rx.stop()

    // ---- after the run: map requests to batches, derive latencies ----
    val batches = progress.all
    val batchEnd = batches.map(b => b.id -> b.endMs.toDouble).toMap
    batches.foreach { b =>
      System.err.println(f"[perfbench] batch ${b.id}%3d at ${b.startMs - epochAtT0}%6d ms: " +
        s"${b.inputRows} files, ${b.durations.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    }
    val fileBatch = batchLog(chk)
    val files = Files.list(Paths.get(spool)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".pb"))
      .sortBy(n => n.split('-')(1).stripSuffix(".pb").toLong)
    val byKey = reqs.filter(_.status == 200).groupBy(_.key).map { case (k, qs) =>
      k -> scala.collection.mutable.Queue(qs.sortBy(_.ackNs): _*) }
    val slotBatch = scala.collection.mutable.HashMap.empty[Int, Long]
    files.foreach { f =>
      val plain = Files.readAllBytes(Paths.get(spool, f))
      val key = java.util.Arrays.hashCode(plain).toString + ":" + plain.length
      byKey.get(key).filter(_.nonEmpty).foreach { qs =>
        val q = qs.dequeue()
        fileBatch.get(f).foreach(b => slotBatch(q.slot) = b)
      }
    }
    def freshMs(q: Req): Option[Double] =
      slotBatch.get(q.slot).flatMap(batchEnd.get).map(_ - epochMs(q.dueNs))
    val failedReq = timed.count { q =>
      q.status != 200 || (q.ackNs - q.dueNs) > AckTimeoutMs * 1000000L ||
        freshMs(q).forall(_ > CommitLimitMs)
    }
    val ack = steadyReqs.map(q => (q.ackNs - q.dueNs) / 1e6)
    val fresh = steadyReqs.flatMap(freshMs)
    val burstSpans = burstReqs.map(_.spans).sum.toDouble
    val burstEnd = burstReqs.flatMap(q => slotBatch.get(q.slot).flatMap(batchEnd.get))
      .maxOption.getOrElse(Double.NaN)
    val burstRate = burstSpans / ((burstEnd - epochMs(burstDue)) / 1000.0)
    // drain rate: spans committed per second by the micro-batches that
    // carried the burst. Unlike burstRate it does not depend on where the
    // burst lands in the batch cycle.
    val drainBatches = burstReqs.flatMap(q => slotBatch.get(q.slot)).toSet
    val drained = timed.filter(q => slotBatch.get(q.slot).exists(drainBatches)).map(_.spans).sum
    val drainMs = batches.filter(b => drainBatches(b.id))
    val drainRate = drained / ((drainMs.map(_.endMs).max - drainMs.map(_.startMs).min) / 1000.0)
    // capacity: spans committed per second of micro-batch time, over every
    // batch that carried timed traffic (steady and burst)
    val timedBatches = timed.flatMap(q => slotBatch.get(q.slot)).toSet
    val capacity = timed.filter(q => slotBatch.contains(q.slot)).map(_.spans).sum /
      (batches.filter(b => timedBatches(b.id))
        .map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1000.0)

    // ---- output checks: the table holds exactly the acked spans -------
    val acked = reqs.filter(_.status == 200)
    val expect = Stats.digest(acked.iterator.flatMap(_.ids.iterator))
    val registered = spark.read.parquet(manifest).select("file_path")
      .collect().map(_.getString(0)).toSeq
    val rows = spark.read.parquet(registered: _*).select("trace_id", "span_id")
      .collect()
    val got = Stats.digest(rows.iterator.map(r => r.getString(0) + ":" + r.getString(1)))
    val countOk = got.rows == expect.rows
    val digestOk = got.sum == expect.sum
    if (!countOk) System.err.println(s"[perfbench] table rows ${got.rows} != acked spans ${expect.rows}")
    if (!digestOk) System.err.println("[perfbench] (trace_id, span_id) digest mismatch")

    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(fresh),
      "throughput_per_s" -> capacity,
      "heap_live_mb" -> heap.liveMb)
    val detail = Seq(
      ("ingest_ack_p50_ms", Stats.median(ack), "ms"),
      ("ingest_ack_p99_ms", Stats.pct(ack, 0.99), "ms"),
      ("ingest_fresh_p50_s", Stats.median(fresh) / 1000, "s"),
      ("ingest_fresh_p90_s", Stats.pct(fresh, 0.9) / 1000, "s"),
      ("ingest_fresh_p99_s", Stats.pct(fresh, 0.99) / 1000, "s"),
      ("ingest_burst_spans_per_s", burstRate, "spans/s"),
      ("ingest_drain_spans_per_s", drainRate, "spans/s"),
      ("ingest_capacity_spans_per_s", capacity, "spans/s"),
      ("steady_requests", steadyReqs.size.toDouble, "count"),
      ("burst_requests", burstReqs.size.toDouble, "count"),
      ("spans_committed", got.rows.toDouble, "count"),
      ("timed_region_s", (tEnd - t0) / 1e9, "s"))

    val layer =
      if (!tr.enabled) Map.empty[String, Double]
      else layerMetrics(ctx, reqs, timed, batches.filter(_.startMs >= epochAtT0),
        fileBatch, rx, base, sink, manifest, heap,
        epochMs _, slotBatch.toMap, batchEnd, (epochAtT0, epochMs(tEnd)), epochMs(burstDue))

    Outcome(attempted = timed.size + 2,
      failed = failedReq + (if (countOk) 0 else 1) + (if (digestOk) 0 else 1),
      e2e = e2e, layer = layer, detail = detail)
  }

  private def layerMetrics(ctx: Ctx, reqs: IndexedSeq[Req], timed: IndexedSeq[Req],
                           batches: Seq[ProgressLog#Batch], fileBatch: Map[String, Long],
                           rx: OtlpHttpReceiver, base: Path,
                           sink: PartitionedParquetSink.SinkConfig, manifest: String,
                           heap: GcWatch.Window, epochMs: Long => Double,
                           slotBatch: Map[Int, Long], batchEnd: Map[Long, Double],
                           window: (Double, Double), burstMs: Double): Map[String, Double] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def p50(k: String) = Stats.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    // backlog: files acked but not yet in a finished batch, every 100 ms
    val ackedAt = timed.filter(_.status == 200).map(q => epochMs(q.ackNs))
    val doneAt = timed.flatMap(q => slotBatch.get(q.slot).flatMap(batchEnd.get))
    val backlog = Iterator.iterate(window._1)(_ + 100.0).takeWhile(_ <= window._2)
      .map(t => (ackedAt.count(_ <= t) - doneAt.count(_ <= t)).toDouble).toSeq
    val filesPerBatch = fileBatch.values.groupBy(identity).filter { case (b, _) =>
      batches.exists(_.id == b) }.values.map(_.size.toDouble).toSeq
    val steadyAdd = batches.filter(_.endMs < burstMs).sortBy(_.id)
      .map(_.durations.getOrElse("addBatch", 0L).toDouble)
    val quarter = math.max(1, steadyAdd.size / 4)
    val growth = steadyAdd.takeRight(quarter).sum / math.max(1.0, steadyAdd.take(quarter).sum)

    // single-thread decode baseline over this run's own requests
    val d0 = System.nanoTime()
    val decoded = reqs.iterator.map(q => OtelProtoSource.decodeTraces(q.plain)
      .map(_.spans.size).sum.toLong).sum
    val decodeRate = decoded / ((System.nanoTime() - d0) / 1e9)

    // replay one fixed batch (the burst's spool files) through nested
    // calls; each layer's self time is the increment between them
    val replay = base.resolve("replay")
    Files.createDirectories(replay)
    val spoolDir = Paths.get(OtlpHttpReceiver.spoolPath(base.resolve("spool").toString, "traces"))
    // nothing sweeps the spool in this config, so its peak is its final size
    val spooled = Files.list(spoolDir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    spooled.takeRight(Ingest.BurstRequests)
      .foreach(p => Files.copy(p, replay.resolve(p.getFileName)))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeS(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
    val tDecode = timeS(tr.scoped(spark, "sources.decode") {
      noop(OtelProtoSource.traces(spark, replay.toString)) })
    val tFlatten = timeS(tr.scoped(spark, "otel.flatten") {
      noop(OtelTraces.flatten(OtelProtoSource.traces(spark, replay.toString))) })
    val tWrite = timeS(tr.scoped(spark, "sink.write") {
      PartitionedParquetSink.writeBatch(
        OtelTraces.flatten(OtelProtoSource.traces(spark, replay.toString)), sink) })
    val table = PartitionedParquetSink.tablePath(sink)
    val tReconcile = timeS(tr.scoped(spark, "recovery.reconcile") {
      Recovery.reconcile(spark, table, manifest) })

    val tableFiles = Files.walk(Paths.get(table.stripPrefix("file://")))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    val tableBytes = tableFiles.map(Files.size).sum.toDouble
    val tableRows = spark.read.parquet(table).count().toDouble
    // burst requests are all due at once, so only the steady phase says
    // whether the generator kept its schedule
    val late = timed.filter(_.phase == 1).map(q => (q.sentNs - q.dueNs) / 1e6)
    val shed = rx.telemetry.snapshot.iterator
      .collect { case ((_, o, _), n) if o.startsWith("shed") => n.toDouble }.sum
    Map(
      "sources.accepted" -> rx.accepted("traces").get.toDouble,
      "sources.shed" -> shed,
      "sources.spool_files_peak" -> spooled.size.toDouble,
      "sources.spool_bytes_peak" -> spooled.map(Files.size).sum.toDouble,
      "sources.backlog_files_p90" -> Stats.pct(backlog, 0.9),
      "sources.decode_spans_per_s_1t" -> decodeRate,
      "sources.scan_decode_s" -> tDecode,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.files_per_batch_p50" -> Stats.median(filesPerBatch),
      "streaming.latest_offset_ms_p50" -> p50("latestOffset"),
      "streaming.get_batch_ms_p50" -> p50("getBatch"),
      "streaming.planning_ms_p50" -> p50("queryPlanning"),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.wal_ms_p50" -> p50("walCommit"),
      "streaming.trigger_ms_p90" ->
        Stats.pct(batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble), 0.9),
      "streaming.busy_frac" -> batches.map(_.durations.getOrElse("triggerExecution", 0L))
        .sum / (window._2 - window._1),
      "otel.flatten_s" -> (tFlatten - tDecode),
      "sink.write_s" -> (tWrite - tFlatten),
      "sink.files_written" -> tableFiles.size.toDouble,
      "sink.bytes_per_span" -> tableBytes / tableRows,
      "sink.shuffle_bytes" -> tr.counters("ingest").shuffleWrite.toDouble,
      "sink.partitions_per_batch_p50" -> Stats.partitionsPerWriteJob(tableFiles),
      "recovery.reconcile_s" -> tReconcile,
      "recovery.reconcile_growth" -> growth,
      "recovery.manifest_entries" -> spark.read.parquet(manifest).count().toDouble,
      "gen.late_ms_p99" -> Stats.pct(late, 0.99),
      "gen.requests" -> timed.size.toDouble,
      "gen.replays" -> timed.count(_.replayOf >= 0).toDouble) ++ heap.layer
  }
}
