package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{asc, col, desc, lit, unix_micros}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergSingleValue,
  IcebergTableReader, RestCatalogClient}
import graft.config.ExporterConfig.{Catalog, Config, Filesystem}
import graft.otel.{OtelAnalytics, OtelTraces}
import graft.recovery.Recovery
import graft.sink.PartitionedParquetSink

/** `trace_queries`: dashboard and APM reads over the table shape the
  * exporter writes.
  *
  * Set-up writes a seeded 8 h span corpus through `OtelTraces.flatten`
  * and `PartitionedParquetSink.writeBatch` as 8 hourly appends, commits
  * each append with `IcebergCommit.commitStandalone` (with timestamp
  * bounds) and builds the trace_id bloom sidecar. One client then runs a
  * closed loop over seeded blocks of 20 queries of five kinds. Answers are
  * checked after the loop: trace lookups against the generator's trees,
  * the slice analytics against the same analytics over a plain full
  * scan of the same files.
  */
object Queries {

  val Hours = 8
  val TracesPerHour = 1000
  /** 2024-03-05T00:00Z, start of the corpus day. */
  private val DayStartUs = 1709596800L * 1000000L
  private val HourUs = 3600L * 1000000L
  /** Query mix per block of 20: 40/25/15/15/5. */
  private val Mix = Seq("trace_get" -> 8, "red" -> 5, "graph" -> 3,
    "slow_traces" -> 3, "critical_path" -> 1)

  /** Root start of corpus trace `i`: inside its append's hour, or for
    * about 5% of traces 1-6 h earlier (late data, older partitions). */
  def rootStartNs(seed: Long, i: Long): Long = {
    val r = Otlp.rng(seed, 5, i)
    val h = i / TracesPerHour
    val lateH = if (r.nextInt(100) < 5) math.min(h, 1L + r.nextInt(6)) else 0L
    (DayStartUs + (h - lateH) * HourUs + r.nextLong(HourUs - 10000000L)) * 1000L
  }

  final case class Query(kind: String, hour: Int, needle: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val seed = ctx.seed
    val base = ctx.work.resolve("queries")
    val sink = Config(Filesystem(base.toString), Catalog("none"))
      .sinkFor("traces", "start_time_unix_nano")
    val table = PartitionedParquetSink.tablePath(sink)
    val ice = base.resolve("otel_traces_iceberg").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFiles(): Set[String] =
      if (!Files.exists(base.resolve(sink.table))) Set.empty
      else Files.walk(base.resolve(sink.table)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).map("file:" + _).toSet

    // ---- set-up: hourly appends, each an Iceberg commit ----------
    var schemaJson = ""
    var tsId = 0
    var known = Set.empty[String]
    var commitS = 0.0
    var writeS = 0.0
    (0 until Hours).foreach { h =>
      val t0 = System.nanoTime()
      tr.scoped(spark, "sink.write") {
        val nested = spark.range(h.toLong * TracesPerHour, (h + 1L) * TracesPerHour, 1, 4)
          .as[Long].flatMap(i => Otlp.batches(Otlp.trace(seed, i, rootStartNs(seed, i)).toSeq))
        PartitionedParquetSink.writeBatch(OtelTraces.flatten(nested.toDF()), sink)
      }
      val t1 = System.nanoTime()
      writeS += (t1 - t0) / 1e9
      tr.scoped(spark, "catalog.commit") {
        val fresh = (dataFiles() -- known).toSeq.sorted
        known ++= fresh
        if (schemaJson.isEmpty) {
          val (js, ids) = RestCatalogClient.icebergSchemaJson(spark.read.parquet(table).schema)
          schemaJson = org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(js))
          tsId = ids("start_time_unix_nano")
        }
        val counts = Recovery.fileRowCounts(spark, fresh)
        val stats = Recovery.fileColumnStats(spark, fresh, "start_time_unix_nano")
        IcebergCommit.commitStandalone(conf, ice, schemaJson, None, fresh.map { p =>
          RestCatalogClient.DataFile(p, Files.size(Paths.get(p.stripPrefix("file:"))),
            counts.getOrElse(p, 0L), stats.get(p).toSeq.map { case (mn, mx) =>
              (tsId, IcebergSingleValue.longBytes(mn), IcebergSingleValue.longBytes(mx)) })
        })
      }
      commitS += (System.nanoTime() - t1) / 1e9
    }
    val b0 = System.nanoTime()
    tr.scoped(spark, "catalog.bloom") {
      IcebergMaintenance.writeBloomIndex(spark, ice, "trace_id")
    }
    val bloomS = (System.nanoTime() - b0) / 1e9

    // ---- the query sequence -------------------------------------------
    val r = Otlp.rng(seed, 6, 0)
    val hours = r.ints(0, Hours).distinct().limit(2).toArray.toSeq
    val corpusTraces = Hours.toLong * TracesPerHour
    def block(): Seq[Query] = {
      val kinds = Mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
      var i = kinds.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t; i -= 1 }
      kinds.toSeq.map { k =>
        // ~10% of lookups ask for a trace id that does not exist
        val needle = if (r.nextInt(10) == 0) -1L - r.nextInt(1 << 30) else r.nextLong(corpusTraces)
        Query(k, hours(r.nextInt(hours.size)), needle)
      }
    }
    def traceId(needle: Long): String =
      if (needle >= 0) Otlp.trace(seed, needle, 0L).head._2.trace_id
      else f"${Otlp.splitmix(needle)}%016x${Otlp.splitmix(~needle) | 1L}%016x"
    def slice(h: Int): DataFrame = IcebergTableReader.readSlice(spark, ice,
      "start_time_unix_nano", DayStartUs + h * HourUs, DayStartUs + (h + 1) * HourUs)
    def analytics(kind: String, df: DataFrame): DataFrame = kind match {
      case "red" => OtelAnalytics.spanMetrics(df)
      case "graph" => OtelAnalytics.serviceGraph(df)
      case "slow_traces" => OtelAnalytics.traceSummary(df)
        .withColumn("dur_us", unix_micros(col("trace_end")) - unix_micros(col("trace_start")))
        .orderBy(desc("dur_us"), asc("trace_id")).limit(20)
      case "critical_path" => OtelAnalytics.criticalPath(df)
    }

    final case class Done(q: Query, planMs: Double, execMs: Double, files: Int,
                          rows: Array[Row], cols: Seq[String])
    def execute(q: Query): Done = tr.scoped(spark, s"q.${q.kind}") {
      val p0 = System.nanoTime()
      val df = tr.span("catalog.plan") {
        if (q.kind == "trace_get")
          IcebergTableReader.readPoint(spark, ice, "trace_id", traceId(q.needle))
        else slice(q.hour)
      }
      val p1 = System.nanoTime()
      val (rows, cols) = tr.span("otel.exec") {
        // a needle every file prunes away comes back as a column-less frame
        if (q.kind == "trace_get" && !df.columns.contains("span_id")) (Array.empty[Row], Seq("span_id"))
        else {
          val out = if (q.kind == "trace_get") df.select("span_id") else analytics(q.kind, df)
          (out.collect(), out.columns.toSeq)
        }
      }
      val p2 = System.nanoTime()
      val files = if (tr.enabled) df.inputFiles.length else 0
      Done(q, (p1 - p0) / 1e6, (p2 - p1) / 1e6, files, rows, cols)
    }

    // warm-up: one untimed pass of each kind
    Mix.foreach { case (k, _) => execute(Query(k, hours.head, 0L)) }

    val setupS = ctx.sinceLaunch
    val gc = new GcWatch
    gc.start()
    val done = ArrayBuffer.empty[Done]
    val t0 = System.nanoTime()
    val limitNs = t0 + ctx.seconds * 1000000000L
    // throughput counts whole blocks only, so it does not depend on which
    // kinds a cut-off last block holds; at least one block completes
    val blockEnds = ArrayBuffer(t0)
    def more = blockEnds.size < 2 || System.nanoTime() < limitNs
    while (more) {
      val it = block().iterator
      while (it.hasNext && more) done += execute(it.next())
      if (!it.hasNext) blockEnds += System.nanoTime()
    }
    val heap = gc.stop()

    // ---- output checks ------------------------------------------------
    var failed = 0
    val full = spark.read.parquet(table)
    val reference = mutable.HashMap.empty[(String, Int), Stats.Digest]
    done.foreach { d =>
      val ok = d.q.kind match {
        case "trace_get" =>
          val want = if (d.q.needle < 0) Seq.empty[String]
            else Otlp.trace(seed, d.q.needle, rootStartNs(seed, d.q.needle)).map(_._2.span_id).toSeq
          d.rows.map(_.getString(0)).toSeq.sorted == want.sorted
        case k =>
          val want = reference.getOrElseUpdate((k, d.q.hour), {
            val ts = unix_micros(col("start_time_unix_nano"))
            val df = analytics(k, full.where(ts >= lit(DayStartUs + d.q.hour * HourUs) &&
              ts < lit(DayStartUs + (d.q.hour + 1) * HourUs)))
            Stats.digestRows(df.collect(), df.columns.toSeq)
          })
          Stats.digestRows(d.rows, d.cols) == want
      }
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] wrong answer: ${d.q}")
      }
    }

    val corpusSpans = full.count().toDouble
    val byKind = done.groupBy(_.q.kind)
    val lat = Metrics.kinds.flatMap(k => byKind.get(k).map(ds => k -> ds.map(d => d.planMs + d.execMs).toSeq)).toMap
    val e2e = Map(
      "setup_s" -> setupS,
      // one block's time at each kind's median: a kind's share of it is
      // its share of the dashboard's work
      "latency_p50_ms" -> Mix.map { case (k, n) => n * Stats.median(lat(k)) }.sum,
      "throughput_per_s" -> Mix.map(_._2).sum * (blockEnds.size - 1) /
        ((blockEnds.last - t0) / 1e9),
      "heap_live_mb" -> heap.liveMb)
    val detail = Metrics.kinds.flatMap { k =>
      lat.get(k).toSeq.flatMap(xs => Seq(
        (s"q_${k}_p50_ms", Stats.median(xs), "ms"),
        (s"q_${k}_p90_ms", Stats.pct(xs, 0.9), "ms"),
        (s"q_${k}_n", xs.size.toDouble, "count")))
    } ++ Seq(("block_p90_ms", Mix.map { case (k, n) => n * Stats.pct(lat(k), 0.9) }.sum, "ms"),
             ("corpus_spans", corpusSpans, "count"),
             ("queries", done.size.toDouble, "count"))

    val layer = if (!tr.enabled) Map.empty[String, Double] else {
      val files = dataFiles().toSeq
      val bytes = files.map(p => Files.size(Paths.get(p.stripPrefix("file:")))).sum.toDouble
      val w = tr.counters("sink.write")
      Map(
        "sink.write_s" -> writeS,
        "sink.files_written" -> files.size.toDouble,
        "sink.bytes_per_span" -> bytes / corpusSpans,
        "sink.shuffle_bytes" -> w.shuffleWrite.toDouble,
        "sink.partitions_per_batch_p50" ->
          Stats.partitionsPerWriteJob(files.map(p => Paths.get(p.stripPrefix("file:")))),
        "catalog.commit_s" -> commitS,
        "catalog.bloom_build_s" -> bloomS,
        "catalog.snapshots" -> IcebergTableReader.snapshots(spark, ice).count().toDouble,
        "catalog.files_total" -> IcebergTableReader.dataFiles(spark, ice).size.toDouble) ++
      heap.layer ++
      Metrics.kinds.flatMap { k =>
        val ds = byKind.getOrElse(k, ArrayBuffer.empty[Done]).toSeq
        val n = ds.size + 1.0 // counters include the warm-up call
        val c = tr.counters(s"q.$k")
        if (ds.isEmpty) Nil else Seq(
          s"catalog.plan_ms.$k" -> Stats.median(ds.map(_.planMs)),
          s"catalog.files_opened.$k" -> Stats.median(ds.map(_.files.toDouble)),
          s"catalog.bytes_read.$k" -> c.inputBytes / n,
          s"otel.exec_ms.$k" -> Stats.median(ds.map(_.execMs)),
          s"spark.jobs.$k" -> c.jobs / n,
          s"spark.stages.$k" -> c.stages / n,
          s"spark.exchanges.$k" -> c.exchanges / n,
          s"spark.shuffle_bytes.$k" -> (c.shuffleWrite / n))
      }.toMap
    }
    Outcome(attempted = done.size, failed = failed, e2e = e2e, layer = layer, detail = detail)
  }
}
