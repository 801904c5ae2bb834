package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sink.PartitionedParquetSink.SinkConfig
import graft.storage.NioLocalFileSystem
import graft.streaming.{Delivery, StreamingIngest}

class StreamingSpec extends SparkSpec {

  test("file-stream ingest writes the partitioned layout exactly once") {
    val base = tempDir("graft-stream")
    val batch = Tables.events(spark, sf)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)

    val stream = StreamingIngest.readEvents(spark, srcDir, batch.schema)
    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "daily")
    val q = StreamingIngest.ingest(stream, cfg, s"$base/chk")
    q.awaitTermination()

    val out = spark.read.parquet(s"$base/events")
    assert(out.count() === batch.count())
    assert(out.columns.contains("day") && !out.columns.contains("hour"))

    // restart with no new data → no duplicates (checkpointed file log)
    val q2 = StreamingIngest.ingest(
      StreamingIngest.readEvents(spark, srcDir, batch.schema), cfg, s"$base/chk")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$base/events").count() === batch.count())

    // restart after NEW files land → exactly the delta is ingested once
    batch.limit(500).write.mode("append").parquet(srcDir)
    val q3 = StreamingIngest.ingest(
      StreamingIngest.readEvents(spark, srcDir, batch.schema), cfg, s"$base/chk")
    q3.awaitTermination()
    assert(spark.read.parquet(s"$base/events").count() === batch.count() + 500)
  }

  test("stream sink writes int64-micros timestamps without mutating the session") {
    val base = tempDir("graft-stream-ts")
    val batch = Tables.events(spark, sf).limit(200)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)

    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "monthly")
    StreamingIngest.ingest(
      StreamingIngest.readEvents(spark, srcDir, batch.schema),
      cfg, s"$base/chk").awaitTermination()

    // the timestamp conf is scoped to the query lifetime: a listener
    // restores it at termination (round-3 ADVICE: building a stream
    // writer permanently changed every later batch write). Listener
    // events are async — poll briefly.
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (spark.conf.getOption(key) != before && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.conf.getOption(key) === before)
    // and the files really are int64 micros: footer min/max stats decode
    // as Long (INT96 would carry Binary stats and surface as null here)
    val stats = graft.recovery.Recovery.fileStats(spark, s"$base/events", "ts")
    assert(stats.count() > 0)
    assert(stats.filter(col("min_val").isNull).count() === 0,
      "streaming parquet lost int64-micros timestamp encoding")
  }

  test("manifest ingest scopes the listing threshold to the query lifetime") {
    val base = tempDir("graft-stream-listing")
    val batch = Tables.events(spark, sf).limit(200)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)
    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "monthly")

    // the file source reads the threshold from the caller's session at
    // every getBatch, so both manifest ingests raise it while the query
    // runs; a listener restores the caller's value (set or unset) at
    // termination. Listener events are async — poll briefly.
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    def explicit = spark.conf.getAll.get(key) // None while unset
    val caller = explicit
    val events = StreamingIngest.readEvents(spark, srcDir, batch.schema)
    // the retrying ingest's register seam also sees the value mid-run
    val during = scala.collection.mutable.ArrayBuffer.empty[String]
    val starts: Seq[(String, String) => StreamingQuery] = Seq(
      StreamingIngest.ingestWithManifest(events, cfg, _, _),
      (chk, man) => Delivery.ingestWithManifestRetrying(events, cfg, chk, man,
        beforeRegister = _ => during += spark.conf.get(key)))
    val cases = for (start <- starts; before <- Seq(Some("17"), None))
      yield (start, before)
    try cases.zipWithIndex.foreach { case ((start, before), i) =>
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      start(s"$base/chk$i", s"$base/manifest$i").awaitTermination()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (explicit != before && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(explicit === before, s"case $i")
    } finally caller.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(during.nonEmpty && during.forall(
      _ == graft.config.ExporterConfig.Batch().sendBatchSize.toString), during)
  }

  test("manifest ingest holds the local storage confs for the query lifetime") {
    val base = tempDir("graft-stream-storage")
    val batch = Tables.events(spark, sf).limit(200)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)
    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "monthly")

    // every file the query creates or renames (checkpoint, data,
    // manifest) goes through the held confs; a listener restores the
    // caller's values (set or unset) at termination — poll briefly
    val keys = NioLocalFileSystem.Confs.map(_._1)
    def explicit = keys.map(spark.conf.getAll.get) // None while unset
    val caller = explicit
    val stock = Seq(classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
      classOf[org.apache.hadoop.fs.local.LocalFs].getName, "false").map(Some(_))
    val events = StreamingIngest.readEvents(spark, srcDir, batch.schema)
    // the retrying ingest's register seam sees the held values mid-run
    val during = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val starts: Seq[(String, String) => StreamingQuery] = Seq(
      StreamingIngest.ingestWithManifest(events, cfg, _, _),
      (chk, man) => Delivery.ingestWithManifestRetrying(events, cfg, chk, man,
        beforeRegister = _ => during += keys.map(spark.conf.get)))
    def set(values: Seq[Option[String]]): Unit = keys.zip(values).foreach {
      case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    val cases = for (start <- starts; before <- Seq(stock, keys.map(_ => None)))
      yield (start, before)
    try cases.zipWithIndex.foreach { case ((start, before), i) =>
      set(before)
      start(s"$base/chk$i", s"$base/manifest$i").awaitTermination()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (explicit != before && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(explicit === before, s"case $i")
      assert(spark.read.parquet(s"$base/manifest$i").count() > 0, s"case $i")
    } finally set(caller)
    assert(during.nonEmpty && during.forall(_ == NioLocalFileSystem.Confs.map(_._2)), during)
  }

  test("foreachBatch ingest registers every written file in the manifest") {
    val base = tempDir("graft-stream-man")
    val batch = Tables.events(spark, sf)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)

    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "daily")
    val q = StreamingIngest.ingestWithManifest(
      StreamingIngest.readEvents(spark, srcDir, batch.schema),
      cfg, s"$base/chk", s"$base/manifest")
    q.awaitTermination()

    // catalog (manifest) covers storage exactly: zero orphans, and the
    // manifest lists precisely the files on disk
    val manifest = spark.read.parquet(s"$base/manifest")
    val orphans = graft.recovery.Recovery.scanOrphans(spark, s"$base/events", manifest)
    assert(orphans.count() === 0)
    val onDisk = graft.recovery.Recovery.listDataFiles(spark, s"$base/events").count()
    assert(manifest.count() === onDisk && onDisk > 0)
    assert(spark.read.parquet(s"$base/events").count() === batch.count())
  }

  test("chained stateful ops emit per-window top-k when the watermark closes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    def ts(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingIngest.trendingTopK(
      input.toDF().toDF("ts", "event_type"), k = 2)
    val q = out.writeStream.format("memory").queryName("trend_out")
      .outputMode("append").start()
    try {
      // window 00:00-01:00 — x:3, y:2, z:1
      input.addData(Seq("x", "x", "x", "y", "y", "z").zipWithIndex
        .map { case (t, i) => (ts(i.toLong), t) }: _*)
      q.processAllAvailable()
      assert(spark.sql("select * from trend_out").count() === 0,
        "window must not emit before the watermark closes it")
      // advance the watermark far past the window end
      input.addData((ts(200), "x"))
      q.processAllAvailable()
      val rows = spark.sql("select * from trend_out").collect()
        .map(r => (r.getAs[Long]("rnk"), r.getAs[String]("event_type"),
                   r.getAs[Long]("n")))
      assert(rows.toSet === Set((1L, "x", 3L), (2L, "y", 2L)))
    } finally q.stop()
  }

  test("streaming M4 emits closed windows that match the batch argmaxes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    def ts(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val out = StreamingIngest.m4Stream(
      input.toDF().toDF("event_id", "ts", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("m4_out")
      .outputMode("append").start()
    try {
      // one window (00:00-01:00) for series "cpu": first=5.0@t0,
      // max=9.5@t10, min=-2.25@t20, last=3.0@t50 — all distinct rows
      input.addData(
        (1L, ts(0), "cpu", 5.0), (2L, ts(10), "cpu", 9.5),
        (3L, ts(20), "cpu", -2.25), (4L, ts(50), "cpu", 3.0),
        (5L, ts(30), "quiet", 1.0))
      q.processAllAvailable()
      assert(spark.sql("select * from m4_out").count() === 0,
        "append mode: nothing before the watermark closes the window")
      input.addData((9L, ts(200), "cpu", 0.0)) // watermark driver
      q.processAllAvailable()
      val rows = spark.sql("select * from m4_out").collect()
        .map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("n_samples"), r.getAs[Long]("first_v"),
           r.getAs[Long]("last_v"), r.getAs[Long]("min_v"),
           r.getAs[Long]("max_v"))).toMap
      assert(rows("cpu") === ((4L, 500L, 300L, -225L, 950L)))
      assert(rows("quiet") === ((1L, 100L, 100L, 100L, 100L)))
    } finally q.stop()
  }

  test("update-mode materialized view converges to the batch rollup") {
    val base = tempDir("graft-stream-mv")
    val batch = Tables.events(spark, sf)
    // several source files + maxFilesPerTrigger=2 → multiple micro-batches,
    // so the upsert path (not just a single emission) is exercised
    batch.repartition(6).write.parquet(s"$base/src")
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$base/src")

    // files arrive in scrambled event-time order and the data spans 30
    // days — the watermark must cover the span or late files are
    // (correctly) dropped; equality needs the full-span setting
    val q = StreamingIngest.materializedWindowCounts(
      stream, s"$base/mv", s"$base/chk", watermark = "720 hours")
    q.awaitTermination()

    val mv = spark.read.parquet(s"$base/mv")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
              col("event_type"), col("n_events"), col("sum_value"))
      .collect().toSet
    val expected = graft.telemetry.Telemetry.tumblingWindow(spark, sf).collect().toSet
    assert(mv === expected)

    // restart from the same checkpoint after MORE source data lands:
    // the resumed stream must fold the delta in and converge again
    Tables.events(spark, sf).limit(777).write.mode("append").parquet(s"$base/src")
    val q2 = StreamingIngest.materializedWindowCounts(
      spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "2").parquet(s"$base/src"),
      s"$base/mv", s"$base/chk", watermark = "720 hours")
    q2.awaitTermination()
    val total2 = spark.read.parquet(s"$base/mv")
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    assert(total2 === batch.count() + 777)
  }

  test("streaming dedup collapses an at-least-once duplicated source") {
    import spark.implicits._
    val base = tempDir("graft-stream-dedup")
    val batch = Tables.events(spark, sf).limit(200)
    // simulate at-least-once delivery: every record arrives twice
    batch.unionAll(batch).write.parquet(s"$base/src")

    val deduped = StreamingIngest.dedupStream(
      StreamingIngest.readEvents(spark, s"$base/src", batch.schema))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = spark.sql("select count(*) from dedup_out").collect()(0).getLong(0)
    val distinct = spark.sql("select count(distinct event_id) from dedup_out")
      .collect()(0).getLong(0)
    assert(n === batch.count())
    assert(distinct === n)
  }

  test("stream-static join enriches streaming events with a dimension") {
    import spark.implicits._
    val base = tempDir("graft-stream-join")
    val batch = Tables.events(spark, sf)
    batch.write.parquet(s"$base/src")

    // static per-user dimension derived once, broadcast into each batch
    val dim = batch.groupBy("user_id")
      .agg(count(lit(1)).as("lifetime_events"))
    val enriched = StreamingIngest.readEvents(spark, s"$base/src", batch.schema)
      .join(broadcast(dim), "user_id")
    val q = enriched.writeStream.format("memory").queryName("enriched_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = spark.sql("select count(*) from enriched_out").collect()(0).getLong(0)
    assert(n === batch.count()) // inner join keeps all (every user in dim)
    val bad = spark.sql(
      "select count(*) from enriched_out where lifetime_events < 1").collect()(0).getLong(0)
    assert(bad === 0L)
  }

  test("stream-stream interval join matches the equivalent batch join") {
    val base = tempDir("graft-stream-ssjoin")
    val batch = Tables.events(spark, sf)
    batch.filter(col("event_type") === "error").write.parquet(s"$base/err")
    batch.filter(col("event_type") === "purchase").write.parquet(s"$base/buy")

    val joined = StreamingIngest.errorPurchaseJoin(
      StreamingIngest.readEvents(spark, s"$base/err", batch.schema),
      StreamingIngest.readEvents(spark, s"$base/buy", batch.schema))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.sql("select count(*) from ss_join").collect()(0).getLong(0)
    val batchExpected = batch.filter(col("event_type") === "error")
      .select(col("user_id").as("u"), col("ts").as("err_ts"))
      .join(batch.filter(col("event_type") === "purchase"),
        col("user_id") === col("u") &&
          col("ts") >= col("err_ts") - expr("INTERVAL 30 MINUTES") &&
          col("ts") < col("err_ts"))
      .count()
    assert(streamed === batchExpected && streamed > 0)
  }

  test("stream-stream LEFT OUTER interval join emits null-padded non-matches") {
    val base = tempDir("graft-stream-loj")
    val batch = Tables.events(spark, sf)
    batch.filter(col("event_type") === "error").write.parquet(s"$base/err")
    batch.filter(col("event_type") === "purchase").write.parquet(s"$base/buy")

    val joined = StreamingIngest.errorPurchaseJoin(
      StreamingIngest.readEvents(spark, s"$base/err", batch.schema),
      StreamingIngest.readEvents(spark, s"$base/buy", batch.schema),
      joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ss_loj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val matched = spark.sql(
      "select count(*) from ss_loj where buy_id is not null").collect()(0).getLong(0)
    val unmatched = spark.sql(
      "select count(distinct err_id) from ss_loj where buy_id is null").collect()(0).getLong(0)
    // matched rows equal the inner batch join; null-padded rows appear
    // only for errors with no in-window purchase
    val batchInner = batch.filter(col("event_type") === "error")
      .select(col("event_id").as("eid"), col("user_id").as("u"), col("ts").as("err_ts"))
      .join(batch.filter(col("event_type") === "purchase"),
        col("user_id") === col("u") &&
          col("ts") >= col("err_ts") - expr("INTERVAL 30 MINUTES") &&
          col("ts") < col("err_ts"))
    assert(matched === batchInner.count())
    val matchedErrs = batchInner.select("eid").distinct().count()
    val totalErrs = batch.filter(col("event_type") === "error").count()
    // every unmatched error the watermark closed out is null-padded; the
    // stream tail past the final watermark may remain unemitted
    assert(unmatched > 0 && unmatched <= totalErrs - matchedErrs)
  }

  test("watermarked windowed aggregate matches the batch tumbling window") {
    val base = tempDir("graft-stream-agg")
    val batch = Tables.events(spark, sf)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)

    val stream = StreamingIngest.readEvents(spark, srcDir, batch.schema)
    val agg = StreamingIngest.windowedCounts(stream)
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.sql("select sum(n_events) from win_agg").collect()(0).getLong(0)
    assert(streamed === batch.count())
    val nWindows = spark.sql("select count(distinct window_start) from win_agg")
      .collect()(0).getLong(0)
    val batchWindows = batch.select(window(col("ts"), "1 hour")).distinct().count()
    assert(nWindows === batchWindows)
  }

  test("streaming session_window sessions agree with the batch operator") {
    val base = tempDir("graft-stream-sess")
    val batch = Tables.events(spark, sf)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)

    val stream = StreamingIngest.readEvents(spark, srcDir, batch.schema)
    val q = StreamingIngest.sessionCounts(stream)
      .writeStream.format("memory").queryName("sess_agg")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // append mode only emits sessions the final watermark has passed —
    // every emitted session must match the batch operator exactly, and
    // most sessions (all but the watermark tail) must have been emitted
    val streamed = spark.sql(
      """select user_id, date_format(session_start,'yyyy-MM-dd HH:mm:ss') ss,
        | date_format(session_end,'yyyy-MM-dd HH:mm:ss') se, n_events, sum_value
        |from sess_agg""".stripMargin).collect().toSet
    val batchSessions = graft.telemetry.Telemetry.sessionWindowAgg(spark, sf)
      .select(col("user_id"), col("session_start"), col("session_end"),
              col("n_events"), col("sum_value")).collect()
      .map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batchSessions),
      s"streamed sessions not found in batch: ${streamed.diff(batchSessions).take(3)}")
    assert(streamed.size >= batchSessions.size / 2)
  }
}
