package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `e2e` and `layer` are
  * keyed by the metric names in [[Metrics]]; `detail` carries the
  * workload's own named figures (printed, not gated). */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         layer: Map[String, Double],
                         detail: Seq[(String, Double, String)])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, work: Path,
                     tracer: Tracer, t0EpochMs: Long, opts: Map[String, String]) {
  /** Seconds from the benchmark process launching this JVM until now. */
  def sinceLaunch: Double = (System.currentTimeMillis() - t0EpochMs) / 1000.0
}

/** Metric names and units: the contract with BENCHMARK.json. */
object Metrics {
  val e2e: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "heap_live_mb" -> "MB")

  val kinds: Seq[String] = Seq("trace_get", "red", "graph", "slow_traces", "critical_path")

  val registryEntries: Seq[(String, String)] = Seq(
    "llm" -> "dedup_minhash_lsh", "llm" -> "dedup_semantic", "llm" -> "sim_ivf_ann",
    "llm" -> "sim_hnsw_ann", "llm" -> "text_dup_ngram_chars",
    "llm" -> "text_curation_funnel",
    "operators" -> "q3_join_agg", "operators" -> "q5_multi_join",
    "operators" -> "q_asof_native", "operators" -> "q_pagerank",
    "operators" -> "q_triangle_support",
    "telemetry" -> "tel_dedup_latest", "telemetry" -> "tel_sessionize",
    "telemetry" -> "tel_cms_counts", "telemetry" -> "tel_concurrency")

  val layer: Seq[(String, String)] = Seq(
    "sources.accepted" -> "count", "sources.shed" -> "count",
    "sources.spool_files_peak" -> "count", "sources.spool_bytes_peak" -> "bytes",
    "sources.backlog_files_p90" -> "count",
    "sources.decode_spans_per_s_1t" -> "spans/s", "sources.scan_decode_s" -> "s",
    "streaming.batches" -> "count", "streaming.files_per_batch_p50" -> "count",
    "streaming.latest_offset_ms_p50" -> "ms", "streaming.get_batch_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_ms_p50" -> "ms", "streaming.trigger_ms_p90" -> "ms",
    "streaming.busy_frac" -> "ratio",
    "otel.flatten_s" -> "s",
    "sink.write_s" -> "s", "sink.files_written" -> "count",
    "sink.bytes_per_span" -> "bytes", "sink.shuffle_bytes" -> "bytes",
    "sink.partitions_per_batch_p50" -> "count",
    "recovery.reconcile_s" -> "s", "recovery.reconcile_growth" -> "ratio",
    "recovery.manifest_entries" -> "count",
    "catalog.commit_s" -> "s", "catalog.bloom_build_s" -> "s",
    "catalog.snapshots" -> "count", "catalog.files_total" -> "count") ++
    kinds.flatMap(k => Seq(
      s"catalog.plan_ms.$k" -> "ms", s"catalog.files_opened.$k" -> "count",
      s"catalog.bytes_read.$k" -> "bytes",
      s"otel.exec_ms.$k" -> "ms", s"spark.jobs.$k" -> "count",
      s"spark.stages.$k" -> "count", s"spark.exchanges.$k" -> "count",
      s"spark.shuffle_bytes.$k" -> "bytes")) ++
    registryEntries.flatMap { case (_, q) => Seq(
      s"registry.$q.s" -> "s", s"registry.$q.shuffle_bytes" -> "bytes",
      s"registry.$q.exchanges" -> "count") } ++
    Seq("jvm.gc_s" -> "s", "jvm.gc_count" -> "count", "jvm.heap_peak_mb" -> "MB",
        "gen.late_ms_p99" -> "ms", "gen.requests" -> "count",
        "gen.replays" -> "count") ++
    e2e.map { case (n, u) => s"e2e.$n" -> u }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --t0-ms <epoch ms>`, plus the registry workload's
  * `--data <dir> --variant <n> --digests <file>`. Prints
  * `PERFBENCH_DETAIL {...}` and `PERFBENCH_RESULT {...}` lines, then
  * halts the JVM itself: the OTLP receiver leaves a non-daemon executor
  * behind on stop, which would otherwise keep the process alive. */
object Main {

  private def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    // a hung run must still end: the caller's timeout is the backstop
    val watchdog = new Thread(() => {
      Thread.sleep(opts.getOrElse("deadline-s", "170").toLong * 1000L)
      System.err.println("[perfbench] deadline reached; halting")
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true); watchdog.start()
    if (workload == "class-archive") {
      // build step: load the classes a run loads, then exit normally so
      // -XX:ArchiveClassesAtExit can write the class-data archive
      val spark = session(work)
      spark.range(1000).selectExpr("id % 7 AS k", "id").groupBy("k").count().collect()
      spark.stop()
      System.exit(0)
    }
    val code =
      try {
        Files.createDirectories(work)
        val spark = session(work)
        val tracer = new Tracer(trace, s"$workload-$seed")
        tracer.attach(spark)
        val ctx = Ctx(spark, seed, seconds, work, tracer, opts("t0-ms").toLong, opts)
        val out = workload match {
          case "otlp_ingest" => Ingest.run(ctx)
          case "trace_queries" => Queries.run(ctx)
          case "registry_batch" => Registry.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        tracer.write(work.resolve("spans.jsonl"))
        val (names, values) =
          if (trace) (Metrics.layer, Metrics.layer.map { case (n, _) =>
            n -> out.layer.getOrElse(n, 0.0) }.toMap ++
            Metrics.e2e.map { case (n, _) => s"e2e.$n" -> out.e2e(n) })
          else (Metrics.e2e, out.e2e)
        val metrics = names.map { case (n, u) =>
          s"${json(n)}: {${json("value")}: ${num(values(n))}, ${json("unit")}: ${json(u)}}"
        }.mkString(", ")
        val detail = out.detail.map { case (n, v, u) =>
          s"${json(n)}: {${json("value")}: ${num(v)}, ${json("unit")}: ${json(u)}}"
        }.mkString(", ")
        val correct = out.failed == 0
        println(s"PERFBENCH_DETAIL {$detail}")
        println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": ${out.attempted}, """ +
          s""""failed": ${out.failed}, "metrics": {$metrics}}""")
        0
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] $workload failed:")
          t.printStackTrace()
          1
      }
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}
