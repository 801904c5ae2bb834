package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint (driver contract): one JSON line with total and
  * per-query wall seconds on SPARK_GRAFT_SF_DIR.
  *
  * A warm-up pass (table row counts + one tiny job) absorbs JVM/codegen
  * startup so per-query numbers reflect steady-state execution; queries
  * run in sorted name order for stable cache behavior.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // commit task output directly at task commit (parallel) instead of
      // a sequential driver-side merge — with hourly granularity a batch
      // spans hundreds of partition directories
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up: JIT/codegen paths + parquet footers, untimed. `events`
    // needs the nanos-ts legacy conf, so it only warms via Tables.events
    // (which leaves that conf set: scans re-read it at execution time).
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.filterNot(_ == "events").foreach { t =>
      try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }

    // optional comma-separated filter (dev loop): time only these queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // INTERLEAVED best-of-3 (r6 — was consecutive best-of-2): rounds run
    // A,B,C,A,B,C,… so a transient machine-load spike degrades one
    // SAMPLE of many queries instead of both samples of a few — on a
    // shared box this is what makes a regression attributable to code
    // rather than ambient load. Per-query relative spread
    // (max-min)/min is emitted so the consumer can see which numbers
    // were noisy.
    val rounds = 3
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // bestWarm discipline for the heaviest graph/ANN queries (r11
    // verdict: q_triangle_support showed 3.15× cross-run spread on
    // identical code — JIT/codegen of their imperative kernels, e.g.
    // sorted_intersect_count, dominates the first samples): one
    // untimed run each before any timing round, same treatment the
    // Iceberg read levers already get.
    val warmFirst = Set("q_triangle_support", "q_pagerank",
      "q_pagerank_copart", "sim_nsw_ann", "sim_nsw_persisted",
      "sim_hnsw_ann", "sim_hnsw_ef_sweep",
      // one-time /tmp trace-chain + bloom-sidecar build must not land
      // in a timed round (the q_zorder_pruning discipline)
      "tel_trace_lookup",
      // r12 verdict: same JIT signature — 11.8×/5.7×/5.1× cross-run
      // spread on identical code made the committed numbers
      // unattributable; one untimed pass pins them
      "dedup_canonical", "dedup_cluster_stats", "dedup_substring",
      // r13 verdict: sim_hnsw_recall showed 11.68x spread on identical
      // code — the one HNSW-family entry the r13 pin missed
      "sim_hnsw_recall",
      // one-time /tmp layout build must not land in a timed round
      "q_zorder_pruning")
    for ((name, fn) <- queryList if warmFirst.contains(name)) {
      val confs = SparkEntry.queryConfs.getOrElse(name, Map.empty)
      try SparkEntry.withConfs(spark, confs) { fn(spark, sfDir).count(); () }
      catch { case _: Throwable => () }
    }
    val samples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val failedSet = scala.collection.mutable.LinkedHashSet[String]()
    for (_ <- 1 to rounds; (name, fn) <- queryList if !failedSet.contains(name)) {
      val confs = SparkEntry.queryConfs.getOrElse(name, Map.empty)
      val t0 = System.nanoTime()
      val ok = try {
        SparkEntry.withConfs(spark, confs) { fn(spark, sfDir).count() }; true
      } catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      if (!ok) failedSet += name
      else samples(name) = samples.getOrElse(name, Nil) :+ sec
    }
    val failed = failedSet.toSeq
    val results = queryList.collect {
      case (n, _) if samples.get(n).exists(_.nonEmpty) => n -> samples(n).min
    }
    val spreads: Map[String, Double] = samples.collect {
      case (n, ss) if ss.nonEmpty && ss.min > 0 =>
        n -> ((ss.max - ss.min) / ss.min)
    }.toMap

    // Ingest throughput — the reference exporter's core function:
    // events → hourly-partitioned parquet (writer.go's write path).
    // Best-of-2 like the queries: a single local-FS write sample is
    // noisy (page cache, committer fsyncs).
    def sinkOnce(): Double = {
      val sinkDir = java.nio.file.Files.createTempDirectory("graft-bench-sink").toString
      val t0 = System.nanoTime()
      try {
        graft.sink.PartitionedParquetSink.writeBatch(
          Tables.events(spark, sfDir),
          graft.sink.PartitionedParquetSink.SinkConfig(
            sinkDir, "events", tsColumn = "ts", granularity = "hourly",
            // local FS: write throughput saturates around half the cores
            writeTasks = Some(math.max(4, cpus.toInt / 2))))
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(sinkDir)).deleteRecursively()
      }
    }
    // sink/prune queries record spread like the main loop — r7 showed
    // their sub-second numbers are the noise-dominated ones, and a
    // spread-less entry can't be told apart from a real regression
    val extraSpreads = scala.collection.mutable.LinkedHashMap[String, Double]()
    val doSink = only.isEmpty || only("sink_ingest_hourly")
    val sinkTime = if (!doSink) -1.0 else {
      // one untimed warm-up write (r11 verdict: +25% committed drift
      // with no code change on this path — committer/page-cache
      // first-touch noise; the lever had no warm-up discipline)
      sinkOnce()
      val ss = Seq.fill(rounds)(sinkOnce()).filter(_ >= 0)
      if (ss.isEmpty) -1.0
      else {
        if (ss.min > 0) extraSpreads("sink_ingest_hourly") = (ss.max - ss.min) / ss.min
        ss.min
      }
    }

    // Metadata-pruning read path — the 100 TB lever measured, not just
    // spec'd: the SAME logical slice/point query timed as a full scan +
    // residual filter vs the Iceberg-pruned read (manifest bounds for
    // the 1-hour slice, the Puffin bloom sidecar for the needle
    // lookup). Setup (write, commit, index builds) is untimed; reads
    // are best-of-2 like everything else. At sf0.1 the table is
    // hundreds of hourly files; at 100 TB the full-scan side grows
    // linearly while the pruned side stays proportional to the slice.
    val pruneNames = Seq("sink_slice_full", "sink_slice_pruned",
                         "sink_point_full", "sink_point_bloom",
                         "iceberg_cold_full", "iceberg_cold_pruned",
                         "iceberg_point_full", "iceberg_point_bloom",
                         "iceberg_bucket_full", "iceberg_bucket_pruned",
                         "iceberg_ndv_exact", "iceberg_ndv_stats",
                         "iceberg_upsert", "iceberg_changelog",
                         "iceberg_plan_fragmented",
                         "iceberg_rewrite_manifests",
                         "iceberg_plan_rewritten",
                         "iceberg_slice_straddled",
                         "iceberg_rewrite_datafiles",
                         "iceberg_slice_sorted",
                         "trace_point_full", "trace_point_bloom")
    val doPrune = only.isEmpty || pruneNames.exists(only)
    val pruneResults: Seq[(String, Double)] = if (!doPrune) Nil else {
      import org.apache.spark.sql.functions.{col, min, unix_micros}
      val dir = java.nio.file.Files.createTempDirectory("graft-bench-prune").toString
      try {
        val ev = Tables.events(spark, sfDir)
        graft.sink.PartitionedParquetSink.writeBatch(ev,
          graft.sink.PartitionedParquetSink.SinkConfig(
            dir, "events", tsColumn = "ts", granularity = "hourly",
            writeTasks = Some(math.max(4, cpus.toInt / 2))))
        val tablePath = s"$dir/events"
        val r = ev.agg(min(unix_micros(col("ts"))), min("event_id")).collect()(0)
        val startUs = r.getLong(0)
        val endUs = startUs + 3600L * 1000000L
        val needle = r.getLong(1)
        def best(name: String)(f: => Long): Double = {
          def once(): Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          val ss = Seq.fill(rounds)(once())
          if (ss.min > 0) extraSpreads(name) = (ss.max - ss.min) / ss.min
          ss.min
        }
        // Warmed variant for the Iceberg READ levers: one untimed run
        // first so codegen/JIT of the Avro-manifest + changelog decode
        // paths and first-touch page cache don't masquerade as lever
        // movement (r16: iceberg_changelog showed 3× cross-run spread on
        // an identical commit). The timed op is still the same read.
        def bestWarm(name: String)(f: => Long): Double = { f; best(name)(f) }
        // One standalone (catalog-free) Iceberg commit of the sink's
        // files with footer-harvested ts bounds serves every pruned read
        // below: the sink_* levers time it best-of-rounds, the
        // iceberg_cold_* / iceberg_point_* twins after one warm-up.
        val icePaths = graft.recovery.Recovery.listDataFiles(spark, tablePath)
          .collect().map(_.getString(0)).toSeq
        val iceCounts = graft.recovery.Recovery.fileRowCounts(spark, icePaths)
        val iceStats = graft.recovery.Recovery.fileColumnStats(spark, icePaths, "ts")
        val (schemaJson, topIds) = graft.catalog.RestCatalogClient
          .icebergSchemaJson(spark.read.parquet(tablePath).schema)
        val tsId = topIds("ts")
        // chain lives in a SIBLING location (manifest file paths are
        // absolute) so the parquet table dir stays pure-parquet
        val iceLoc = s"$dir/events_iceberg"
        val iceSchemaJson = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(schemaJson))
        val iceFiles = icePaths.map { p =>
          val bounds = iceStats.get(p).toSeq.map { case (mn, mx) =>
            (tsId, graft.catalog.IcebergSingleValue.longBytes(mn),
             graft.catalog.IcebergSingleValue.longBytes(mx))
          }
          graft.catalog.RestCatalogClient.DataFile(
            p, 0L, iceCounts.getOrElse(p, 0L), bounds)
        }
        graft.catalog.IcebergCommit.commitStandalone(
          spark.sparkContext.hadoopConfiguration, iceLoc, iceSchemaJson,
          None, iceFiles)
        // the needle levers' bloom sidecar: an untimed index build,
        // amortized over every future lookup
        graft.catalog.IcebergMaintenance.writeBloomIndex(
          spark, iceLoc, "event_id")
        Seq(
          "sink_slice_full" -> best("sink_slice_full")(
            spark.read.parquet(tablePath)
              .filter(unix_micros(col("ts")) >= startUs &&
                      unix_micros(col("ts")) < endUs).count()),
          "sink_slice_pruned" -> best("sink_slice_pruned")(
            graft.catalog.IcebergTableReader.readSlice(
              spark, iceLoc, "ts", startUs, endUs).count()),
          "sink_point_full" -> best("sink_point_full")(
            spark.read.parquet(tablePath)
              .filter(col("event_id") === needle).count()),
          "sink_point_bloom" -> best("sink_point_bloom")(
            graft.catalog.IcebergTableReader
              .readPoint(spark, iceLoc, "event_id", needle).count()),
          "iceberg_cold_full" -> bestWarm("iceberg_cold_full")(
            graft.catalog.IcebergTableReader.read(spark, iceLoc)
              .filter(unix_micros(col("ts")) >= startUs &&
                      unix_micros(col("ts")) < endUs).count()),
          "iceberg_cold_pruned" -> bestWarm("iceberg_cold_pruned")(
            graft.catalog.IcebergTableReader.readSlice(
              spark, iceLoc, "ts", startUs, endUs).count()),
          // needle lookup through the interop chain: full scan +
          // residual vs the Puffin bloom-sidecar prune
          "iceberg_point_full" -> bestWarm("iceberg_point_full")(
            graft.catalog.IcebergTableReader.read(spark, iceLoc)
              .filter(col("event_id") === needle).count()),
          "iceberg_point_bloom" -> bestWarm("iceberg_point_bloom")(
            graft.catalog.IcebergTableReader
              .readPoint(spark, iceLoc, "event_id", needle).count()),
          // the FLAGSHIP telemetry needle measured: fetch one trace by
          // its 32-hex STRING id — full scan + residual vs the
          // xxhash64-keyed bloom sidecar (chain + index build are
          // untimed setup, amortized over every lookup)
          "trace_point_full" -> {
            val traceLoc = graft.catalog.IcebergSqlDemo
              .ensureTraceChain(spark, sfDir)
            val tn = graft.catalog.IcebergSqlDemo.traceNeedle(spark, sfDir)
            bestWarm("trace_point_full")(graft.catalog.IcebergTableReader
              .read(spark, traceLoc)
              .filter(col("trace_id") === tn).count())
          },
          "trace_point_bloom" -> {
            val traceLoc = graft.catalog.IcebergSqlDemo
              .ensureTraceChain(spark, sfDir)
            val tn = graft.catalog.IcebergSqlDemo.traceNeedle(spark, sfDir)
            bestWarm("trace_point_bloom")(graft.catalog.IcebergTableReader
              .readPoint(spark, traceLoc, "trace_id", tn).count())
          },
          // bucket[16](event_id) spec lever (r14): the same point
          // lookup against a BUCKET-CLUSTERED layout — rows routed by
          // the Iceberg spec hash at write time, each file stamped
          // with its bucket tuple; readPoint's partition-tuple prune
          // opens ~1/16 of the files with NO bloom sidecar and no
          // event_id bounds (the lever isolates the tuple prune).
          // Layout build + commit are untimed setup, amortized like
          // every index build. NOTE at sf0.1 both arms sit near the
          // ~75 ms fixed floor (chain decode + job launch) because 16
          // compacted files already make the full scan cheap — the
          // ratio is bytes-per-bucket-bound and grows with data; the
          // CORRECTNESS of the 1/16 prune is what the spec pins
          // (IcebergSpecEvolutionSpec bucket era).
          "iceberg_bucket_full" -> {
            val bLoc = s"$dir/events_bucketed"
            graft.catalog.IcebergMaintenance.rewriteBucketed(
              spark, tablePath, bLoc, "event_id", 16)
            bestWarm("iceberg_bucket_full")(graft.catalog.IcebergTableReader
              .read(spark, bLoc).filter(col("event_id") === needle).count())
          },
          "iceberg_bucket_pruned" -> {
            val bLoc = s"$dir/events_bucketed"
            bestWarm("iceberg_bucket_pruned")(graft.catalog.IcebergTableReader
              .readPoint(spark, bLoc, "event_id", needle).count())
          },
          // column NDV: the full distinct scan vs the KMV sketch read
          // from the statistics sidecar (metadata-only — the planner's
          // join-cardinality lookup at 100 TB; sketch build untimed)
          "iceberg_ndv_exact" -> bestWarm("iceberg_ndv_exact")(
            graft.catalog.IcebergTableReader.read(spark, iceLoc)
              .select(org.apache.spark.sql.functions
                .countDistinct(col("event_id")))
              .collect()(0).getLong(0)),
          "iceberg_ndv_stats" -> {
            graft.catalog.IcebergMaintenance.writeNdvIndex(
              spark, iceLoc, Seq("event_id"))
            bestWarm("iceberg_ndv_stats")(graft.catalog.IcebergTableReader
              .ndvFromStats(spark, iceLoc).count())
          },
          // merge-on-read DML measured: upsert commit cost is the
          // DELTA (1k keyed rows against the whole table — file write
          // + equality-delete + chain flip, no table scan), changelog
          // cost is the CHANGE SET (inserts of the upserted cohorts +
          // their retired predecessors), not a table diff
          "iceberg_upsert" -> {
            val delta = spark.read.parquet(tablePath).limit(1000)
              .localCheckpoint()
            best("iceberg_upsert")(graft.catalog.IcebergMaintenance
              .upsert(spark, iceLoc, delta, Seq("event_id"))._2)
          },
          "iceberg_changelog" -> {
            // Dedicated chain with a FIXED change set (2 untimed
            // upserts), decoupled from however many timing rounds the
            // upsert lever committed above: the measured read is
            // work-∝-change-set, so the change set must be a constant
            // for the lever to be comparable across runs.
            val iceLocC = s"$dir/events_iceberg_changelog"
            graft.catalog.IcebergCommit.commitStandalone(
              spark.sparkContext.hadoopConfiguration, iceLocC, iceSchemaJson,
              None, iceFiles)
            val deltaC = spark.read.parquet(tablePath).limit(1000)
              .localCheckpoint()
            graft.catalog.IcebergMaintenance.upsert(
              spark, iceLocC, deltaC, Seq("event_id"))
            graft.catalog.IcebergMaintenance.upsert(
              spark, iceLocC, deltaC, Seq("event_id"))
            val first = graft.catalog.IcebergTableReader
              .metadata(spark, iceLocC).snapshots
              .minBy(_.sequenceNumber).snapshotId
            bestWarm("iceberg_changelog")(graft.catalog.IcebergTableReader
              .readChangelog(spark, iceLocC, Some(first)).count())
          }) ++ {
          // manifest-rewrite lever measured: the SAME files committed as
          // many micro-batches (one manifest each, streaming-append
          // fragmentation) make every plan decode N manifests; after
          // rewrite_manifests planning is one manifest again. Pure
          // metadata timings (scanState), no parquet touched.
          val iceLoc2 = s"$dir/events_iceberg_frag"
          val sjc = iceSchemaJson
          icePaths.grouped(math.max(1, icePaths.size / 36)).foreach { grp =>
            graft.catalog.IcebergCommit.commitStandalone(
              spark.sparkContext.hadoopConfiguration, iceLoc2, sjc, None,
              grp.map { p =>
                val bounds = iceStats.get(p).toSeq.map { case (mn, mx) =>
                  (tsId, graft.catalog.IcebergSingleValue.longBytes(mn),
                   graft.catalog.IcebergSingleValue.longBytes(mx))
                }
                graft.catalog.RestCatalogClient.DataFile(
                  p, 0L, iceCounts.getOrElse(p, 0L), bounds)
              })
          }
          val frag = bestWarm("iceberg_plan_fragmented")(
            graft.catalog.IcebergTableReader.scanState(spark, iceLoc2)
              ._1.size.toLong)
          val rwCost = {
            val t0 = System.nanoTime()
            graft.catalog.IcebergMaintenance.rewriteManifests(spark, iceLoc2)
            (System.nanoTime() - t0) / 1e9
          }
          Seq(
            "iceberg_plan_fragmented" -> frag,
            "iceberg_rewrite_manifests" -> rwCost,
            "iceberg_plan_rewritten" -> bestWarm("iceberg_plan_rewritten")(
              graft.catalog.IcebergTableReader.scanState(spark, iceLoc2)
                ._1.size.toLong))
        } ++ {
          // rewrite_data_files SORT-strategy lever measured: events
          // written UNPARTITIONED (every task file spans the full ts
          // range — all straddle every probe window), then rewritten
          // with sortBy(ts): per-file bounds turn disjoint and the
          // 1-hour slice opens ~1 file instead of all of them.
          val flatDir = s"$dir/events_flat"
          ev.repartition(8).write.parquet(flatDir)
          // listDataFiles returns file:-scheme URIs; Files.size needs
          // the raw path
          def fsize(p: String): Long = java.nio.file.Files.size(
            java.nio.file.Paths.get(p.replaceFirst("^file:", "")))
          val flatPaths = graft.recovery.Recovery
            .listDataFiles(spark, flatDir).collect().map(_.getString(0)).toSeq
          val flatCounts = graft.recovery.Recovery.fileRowCounts(spark, flatPaths)
          val flatStats = graft.recovery.Recovery.fileColumnStats(spark, flatPaths, "ts")
          val iceLoc3 = s"$dir/events_iceberg_straddle"
          val sjc3 = org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(schemaJson))
          graft.catalog.IcebergCommit.commitStandalone(
            spark.sparkContext.hadoopConfiguration, iceLoc3, sjc3, None,
            flatPaths.map { p =>
              val bounds = flatStats.get(p).toSeq.map { case (mn, mx) =>
                (tsId, graft.catalog.IcebergSingleValue.longBytes(mn),
                 graft.catalog.IcebergSingleValue.longBytes(mx))
              }
              graft.catalog.RestCatalogClient.DataFile(
                p, fsize(p),
                flatCounts.getOrElse(p, 0L), bounds)
            })
          val straddled = bestWarm("iceberg_slice_straddled")(
            graft.catalog.IcebergTableReader.readSlice(
              spark, iceLoc3, "ts", startUs, endUs).count())
          val totalBytes = flatPaths
            .map(fsize).sum
          val rdfCost = {
            val t0 = System.nanoTime()
            graft.catalog.IcebergMaintenance.rewriteDataFiles(spark, iceLoc3,
              smallFileThresholdBytes = Long.MaxValue,
              targetFileSizeBytes = math.max(1L, totalBytes / 8),
              statsColumn = Some("ts"), sortBy = Seq("ts"))
            (System.nanoTime() - t0) / 1e9
          }
          Seq(
            "iceberg_slice_straddled" -> straddled,
            "iceberg_rewrite_datafiles" -> rdfCost,
            "iceberg_slice_sorted" -> bestWarm("iceberg_slice_sorted")(
              graft.catalog.IcebergTableReader.readSlice(
                spark, iceLoc3, "ts", startUs, endUs).count()))
        }
      } catch { case e: Throwable =>
        // never let the lever block vanish silently — a throw here
        // used to drop all 11 prune entries from BENCH_full with no
        // trace (r15)
        System.err.println(s"[bench] prune-lever block failed: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[bench]   $f"))
        Nil
      }
      finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir)).deleteRecursively()
      }
    }

    // Z-order clustering lever measured: the same 2-D rectangle
    // aggregate over the Morton-partitioned layout, full scan +
    // residual vs cover-set partition pruning (the bench rectangle
    // covers exactly 1 tile of the LayoutBucketBits=2 physical layout
    // → 1/16 directories admitted).
    // Layout build is untimed setup (amortized over every rectangle,
    // like the bloom/NDV index builds); reads get the bestWarm
    // treatment (one untimed pass absorbs first-touch page cache).
    val zorderNames = Seq("zorder_scan_raw", "zorder_scan_full",
      "zorder_scan_pruned")
    val doZorder = only.isEmpty || zorderNames.exists(only)
    val zorderResults: Seq[(String, Double)] = if (!doZorder) Nil else {
      try {
        graft.operators.ZOrder.ensureLayout(spark, sfDir)
        def bestZ(name: String)(f: => Long): Double = {
          f // untimed warm pass
          def once(): Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          val ss = Seq.fill(rounds)(once())
          if (ss.min > 0) extraSpreads(name) = (ss.max - ss.min) / ss.min
          ss.min
        }
        Seq(
          "zorder_scan_raw" -> bestZ("zorder_scan_raw")(
            graft.operators.ZOrder.rectangleRawScan(spark, sfDir).count()),
          "zorder_scan_full" -> bestZ("zorder_scan_full")(
            graft.operators.ZOrder.rectangleFullScan(spark, sfDir).count()),
          "zorder_scan_pruned" -> bestZ("zorder_scan_pruned")(
            graft.operators.ZOrder.qZorderPruning(spark, sfDir).count()))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] zorder-lever block failed: $e")
        Nil
      }
    }

    val all = results ++
      (if (sinkTime >= 0) Seq("sink_ingest_hourly" -> sinkTime) else Nil) ++
      pruneResults ++ zorderResults
    val allFailed = failed ++ (if (doSink && sinkTime < 0) Seq("sink_ingest_hourly") else Nil)
    def r3(v: Double): String = f"$v%.3f"
    def jsonMap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val failedJson = allFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = all.map(_._2).sum

    // The driver keeps only the LAST ~2000 chars of stdout and parses the
    // JSON line out of that tail — the full 85-query map doesn't fit, so
    // the FINAL line must be compact: total + a representative headline
    // subset + per-group subtotals (nothing hidden: group sums cover every
    // query). The complete per-query map goes to an earlier line (humans /
    // full logs) and to BENCH_full.json next to the working dir.
    val headline = Seq(
      "q1_pricing_summary", "q3_join_agg", "q5_multi_join", "q6_filter_agg",
      "q_topk_per_group", "q_window_rank", "q_salted_join", "q_bloom_join",
      "q_asof_join", "q_asof_native", "q_range_join",
      "tel_sessionize", "tel_gap_fill", "tel_heavy_hitters",
      "tel_exp_histogram", "tel_moving_avg", "tel_m4_downsample",
      "dedup_exact", "dedup_minhash_lsh", "dedup_clusters", "dedup_semantic",
      "sim_topk_bruteforce", "sim_ivf_ann", "sim_knn_graph",
      "text_contamination", "text_winnow", "text_gopher_quality",
      "mm_audio_windows", "sink_ingest_hourly",
      "sink_slice_full", "sink_slice_pruned",
      "sink_point_full", "sink_point_bloom")
    val allMap = all.toMap
    val head = headline.flatMap(k => allMap.get(k).map(k -> _))
    def group(k: String): String = k match {
      case _ if k.startsWith("q") || k.startsWith("zorder") => "core"
      case _ if k.startsWith("tel") => "tel"
      case _ if k.startsWith("sink") => "sink"
      case _ => "llm"
    }
    val groups = all.groupBy { case (k, _) => group(k) }.toSeq.sortBy(_._1)
      .map { case (g, xs) => g -> xs.map(_._2).sum }
    // spread summary scalars for the compact line (the full per-query
    // spread map lives in BENCH_full.json; the final stdout line must
    // stay under the driver's ~2000-char tail window)
    val allSpreads: Map[String, Double] = spreads ++ extraSpreads
    val spreadVals = allSpreads.values.toSeq.sorted
    def pct(p: Double): Double =
      if (spreadVals.isEmpty) 0.0
      else spreadVals(math.min(spreadVals.size - 1, (p * spreadVals.size).toInt))
    val sf1Json = Sf1Scale.maybeRun(spark)
    val sf1Field = sf1Json.map(j => s""","sf1":$j""").getOrElse("")
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","rounds":$rounds,"queries":${jsonMap(all)},"spread":${jsonMap(allSpreads.toSeq.sortBy(_._1))},"failed":$failedJson$sf1Field,"sf":"$sfDir"}"""
    println(fullLine)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full.json"),
      fullLine.getBytes("UTF-8")) catch { case _: Throwable => () }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","rounds":$rounds,"queries":${jsonMap(head)},"groups":${jsonMap(groups)},"spread_med":${r3(pct(0.5))},"spread_p90":${r3(pct(0.9))},"n_queries":${all.size},"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
