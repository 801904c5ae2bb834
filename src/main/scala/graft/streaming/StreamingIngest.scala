package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.functions.GraftFunctions.topKStructs
import graft.sink.PartitionedParquetSink
import graft.sink.PartitionedParquetSink.SinkConfig
import graft.storage.NioLocalFileSystem

/** Structured-Streaming ingestion — the streaming counterpart of the
  * reference exporter's receive → flatten → partition → write loop
  * (exporter.go + writer.go), with Spark's checkpointed file sink
  * giving exactly-once output where the reference is at-least-once.
  *
  * Source here is a file stream (new parquet files appearing in a
  * directory, e.g. dropped by an upstream collector); swapping in a
  * Kafka/OTLP source changes only `readEvents`.
  */
object StreamingIngest {

  /** Tail a directory of parquet files as a stream. */
  def readEvents(spark: SparkSession, srcDir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(srcDir)

  /** Continuous ingest into the time-partitioned table layout. */
  def ingest(events: DataFrame, cfg: SinkConfig, checkpoint: String): StreamingQuery =
    PartitionedParquetSink.startStream(events, cfg, checkpoint)

  /** The reference exporter's full loop — write files, then register
    * them with the catalog (exporter.go: write parquet → Iceberg REST
    * register) — on [[IngestLoop]]: each micro-batch lands in the
    * partitioned layout and the manifest is reconciled to cover every
    * file on storage. Registration is idempotent (reconcile dedups on
    * path), so foreachBatch's at-least-once replay after a crash
    * re-registers harmlessly — the reference's own recovery semantics.
    *
    * Per-batch cost: the data write is the batch's only Spark job work.
    * `getBatch` stats the batch's spool files on the driver (the loop
    * holds the listing threshold at [[IngestLoop.SpoolStatThreshold]]
    * while the query runs), and registration
    * ([[graft.recovery.Recovery.reconcile]]'s driver path) runs on the
    * driver: a `listStatus` walk of the table, a diff against the
    * registered paths, and one new manifest part holding only this
    * batch's files. Driver time grows with the number of table
    * directories and files listed, not with the data. Jobs carry the
    * description `ingest batch <id>: write` or `...: register`.
    *
    * `trigger` is the micro-batch cadence — a live deployment passes
    * [[graft.config.ExporterConfig.Config.streamTrigger]] (the
    * collector `batch.timeout` knob); the default AvailableNow drains
    * the backlog and stops (specs, catch-up jobs). `sinkParallelism`
    * (`sending_queue.num_consumers`) narrow-coalesces the batch before
    * the write, so it caps the tasks that decode and flatten it. It
    * does not cap write tasks or files per partition directory:
    * [[PartitionedParquetSink.writeBatch]] shuffles rows onto their
    * partition values first. */
  def ingestWithManifest(events: DataFrame, cfg: SinkConfig,
                         checkpoint: String, manifestPath: String,
                         telemetry: Option[ExportTelemetry.Collector] = None,
                         trigger: org.apache.spark.sql.streaming.Trigger =
                           org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                         sinkParallelism: Option[Int] = None)
      : StreamingQuery =
    IngestLoop.start(events, checkpoint,
      manifestCommit(cfg, manifestPath, sinkParallelism), trigger,
      telemetry = telemetry, table = cfg.table)

  /** Write a batch into the partitioned layout, then register the
    * table's unregistered files in the manifest. */
  private[streaming] def manifestCommit(cfg: SinkConfig, manifestPath: String,
                                        sinkParallelism: Option[Int] = None)
      : IngestLoop.Commit = (batch, _) => {
    PartitionedParquetSink.writeBatch(sinkParallelism.fold(batch)(batch.coalesce), cfg)
    () => graft.recovery.Recovery.registerOrphans(
      batch.sparkSession, PartitionedParquetSink.tablePath(cfg), manifestPath)
  }

  /** Streaming trending top-k: the k most frequent event types per
    * 1-hour window, emitted when the watermark closes the window — two
    * CHAINED stateful aggregations (windowed count, then windowed
    * bounded top-k through the custom
    * [[graft.functions.TopKStructs]] aggregate), the Spark-4
    * multiple-stateful-operator pipeline. State stays bounded: counts
    * per (window, type) in op 1, k structs per window in op 2 — the
    * raw stream is never buffered. */
  def trendingTopK(events: DataFrame, k: Int = 3,
                   tsCol: String = "ts"): DataFrame = {
    events
      .withWatermark(tsCol, "10 minutes")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window"))
      .agg(topKStructs(struct(col("n"), col("event_type")), k, Seq(false, true))
        .as("top"))
      .select(col("window.start").as("window_start"),
              posexplode(col("top")))
      .select(col("window_start"), (col("pos") + 1).as("rnk"),
              col("col.event_type").as("event_type"), col("col.n").as("n"))
  }

  /** Streaming M4 downsampling — the streaming twin of
    * [[graft.telemetry.Telemetry.m4Downsample]]: per (series, hour
    * window) keep first/last/min/max samples, each an argmin/argmax
    * through the mergeable [[graft.functions.TopKStructs]] aggregate
    * (its TypedImperativeAggregate buffer merges across micro-batches
    * exactly like across map tasks), emitted append-mode when the
    * watermark closes the window. State per open window is 4 bounded
    * struct buffers — a dashboard tier can subscribe to pixel-perfect
    * downsampled series without ever scanning raw history. */
  def m4Stream(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    def pick(ordCols: Seq[Column], asc: Seq[Boolean]): Column =
      element_at(topKStructs(
        struct(ordCols ++ Seq(unix_micros(col(tsCol)).as("p_us"),
          round(col("value") * 100, 0).cast("long").as("p_v")): _*), 1,
        asc), 1)
    val us = unix_micros(col(tsCol))
    val v100 = round(col("value") * 100, 0).cast("long")
    events
      .withWatermark(tsCol, "10 minutes")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_samples"),
           pick(Seq(us.as("us"), col("event_id")), Seq(true, true)).as("first_p"),
           pick(Seq(us.as("us"), col("event_id")), Seq(false, true)).as("last_p"),
           pick(Seq(v100.as("v"), us.as("us"), col("event_id")),
                Seq(true, true, true)).as("min_p"),
           pick(Seq(v100.as("v"), us.as("us"), col("event_id")),
                Seq(false, true, true)).as("max_p"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_samples"),
              col("first_p.p_v").as("first_v"), col("last_p.p_v").as("last_v"),
              col("min_p.p_v").as("min_v"), col("max_p.p_v").as("max_v"))
  }

  /** Streaming dedup on the record id within the watermark horizon —
    * turns an at-least-once upstream (the reference's delivery model,
    * exporter.go retry path) into exactly-once rows downstream. State
    * is one key per id and ages out with the watermark. */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark(idCol)

  /** Watermarked tumbling-window aggregate (1h windows, 10 min late
    * data) — the streaming version of Telemetry.tumblingWindow. */
  def windowedCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "10 minutes")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Watermarked native session-window aggregate (30-min gap): the
    * streaming twin of Telemetry.sessionWindowAgg. Sessions merge in
    * the stateful aggregation and emit (append mode) once the watermark
    * passes session end — bounded state per active key, no per-user
    * sort. */
  def sessionCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "10 minutes")
      .groupBy(session_window(col(tsCol), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
              col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming MATERIALIZED VIEW maintenance: the hourly rollup kept
    * current by update-mode emission + foreachBatch upsert. Each
    * micro-batch emits only the (window, event_type) rows it changed;
    * the upsert anti-joins them against the snapshot and rewrites —
    * new values win, replay is idempotent (re-emitting the same rows
    * converges), which is the at-least-once-safe incremental-view
    * contract. Watermark bounds the aggregation state; the snapshot
    * swap is write-tmp-then-rename (an object store would write
    * versioned dirs + a pointer, Iceberg-style). Its `file:` storage is
    * held on [[NioLocalFileSystem]] for the query's life, as for every
    * ingest loop ([[IngestLoop.start]]). */
  def materializedWindowCounts(events: DataFrame, snapshotPath: String,
                               checkpoint: String,
                               tsCol: String = "ts",
                               watermark: String = "24 hours"): StreamingQuery = {
    val writer = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val updates = batch
        val existing =
          try spark.read.parquet(snapshotPath)
          catch { case _: Throwable => updates.limit(0) }
        val merged = existing
          .join(updates.select("window_start", "event_type"),
                Seq("window_start", "event_type"), "left_anti")
          .unionByName(updates)
        val conf = spark.sessionState.newHadoopConf()
        val tmp = new org.apache.hadoop.fs.Path(snapshotPath + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(snapshotPath)
        merged.write.mode("overwrite").parquet(tmp.toString)
        val fs = dst.getFileSystem(conf)
        if (fs.exists(dst)) fs.delete(dst, true)
        fs.rename(tmp, dst)
        spark.catalog.refreshByPath(snapshotPath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    PartitionedParquetSink.startWithConfs(events.sparkSession, NioLocalFileSystem.Confs)(
      writer.start())
  }

  /** Stream-stream interval join: correlate each error event with the
    * purchases the same user made in the preceding 30 minutes. Both
    * sides are watermarked so the join state is bounded — Spark retains
    * purchase state only for the interval horizon + watermark, the shape
    * that holds at any throughput. The range predicate is the streaming
    * twin of the batch `q_range_join`. */
  def errorPurchaseJoin(errors: DataFrame, purchases: DataFrame,
                        joinType: String = "inner"): DataFrame = {
    val e = errors
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
              col("ts").as("err_ts"))
    val p = purchases
      .withWatermark("ts", "40 minutes")
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
              col("ts").as("buy_ts"), col("value").as("buy_value"))
    // joinType "leftOuter": errors with no purchase in the window emit
    // null-padded ONCE the watermark proves no match can still arrive —
    // the delayed-negative-result semantics only streaming state gives
    e.join(p,
      col("err_user") === col("buy_user") &&
        col("buy_ts") >= col("err_ts") - expr("INTERVAL 30 MINUTES") &&
        col("buy_ts") < col("err_ts"),
      joinType)
      .select(col("err_id"), col("err_user"), col("buy_id"),
              col("buy_ts"), col("buy_value"))
  }
}
