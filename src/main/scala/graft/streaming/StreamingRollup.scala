package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.sink.PartitionedParquetSink
import graft.storage.NioLocalFileSystem

/** Streaming MAINTENANCE of the hourly events rollup — the other half
  * of [[graft.plans.RollupRewrite]]: the optimizer rule answers
  * dashboard aggregates from the rollup; this keeps the rollup current
  * as events stream in, so "materialized view" means a table that is
  * ALWAYS a correct pre-aggregation of everything ingested so far.
  *
  * Shape: a watermarked per-hour streaming aggregation in UPDATE mode —
  * Spark's state store carries each open (hour, event_type) group's
  * running (cnt, sums, min, max); every micro-batch emits only the
  * groups it changed, and foreachBatch upserts them into the snapshot
  * parquet by key (write-tmp-then-rename, the
  * [[StreamingIngest.materializedWindowCounts]] discipline — on an
  * object store this is an Iceberg upsert via
  * [[graft.catalog.IcebergMaintenance.upsert]] instead).
  *
  * All maintained measures re-aggregate losslessly (counts, integer
  * sums, min/max, plus the raw double sum whose magnitude — not bit
  * pattern — is order-stable), which is exactly the property
  * [[graft.plans.RollupRewrite]] requires of a rollup it answers from:
  * StreamingRollupSpec closes the loop by pointing the rule at the
  * STREAMED snapshot and hash-comparing against the raw scan.
  *
  * Scale: state is one row per open (hour, dim) group — bounded by the
  * watermark horizon × dim cardinality, never by event volume; each
  * upsert rewrites only changed groups against a rollup that is six
  * orders of magnitude smaller than the raw table. */
object StreamingRollup {

  /** The grouped-aggregation frame (shared by batch materialization
    * and the streaming maintainer — same columns as
    * [[graft.telemetry.Rollups.hourlyEvents]], with the hour coming
    * from `window()` so watermark-based state eviction applies). */
  def rollupFrame(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value")).as("sum_value"),
        sum(col("value").cast("long")).as("sum_value_trunc"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(col("user_id")).as("sum_user_id"))
      .select(col("window.start").as("hour_ts"), col("event_type"),
        col("cnt"), col("sum_value"), col("sum_value_trunc"),
        col("min_value"), col("max_value"), col("sum_user_id"))

  /** Maintain the rollup snapshot at `snapshotPath` from a streaming
    * events frame; returns the (AvailableNow) query. Restart-safe: the
    * aggregation state lives in the checkpoint, the upsert is
    * idempotent per (hour_ts, event_type) key. Its `file:` storage is
    * held on [[NioLocalFileSystem]] for the query's life, as for every
    * ingest loop ([[IngestLoop.start]]). */
  def maintain(events: DataFrame, snapshotPath: String, checkpoint: String,
               tsCol: String = "ts",
               watermark: String = "720 hours"): StreamingQuery = {
    val writer = rollupFrame(events.withWatermark(tsCol, watermark), tsCol)
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val updates = batch
        val conf = spark.sessionState.newHadoopConf()
        val tmp = new org.apache.hadoop.fs.Path(snapshotPath + ".tmp")
        val bak = new org.apache.hadoop.fs.Path(snapshotPath + ".bak")
        val dst = new org.apache.hadoop.fs.Path(snapshotPath)
        val fs = dst.getFileSystem(conf)
        // Crash recovery: a previous publish that died between the two
        // renames leaves dst missing and bak holding the last good
        // snapshot — restore it before reading, so no accumulated group
        // is ever lost. (The swap below never has a window where BOTH
        // dst and bak are absent.)
        if (!fs.exists(dst) && fs.exists(bak)) fs.rename(bak, dst)
        // Existence is checked explicitly; any OTHER read failure
        // (permissions, corrupt footer, transient store error) must
        // FAIL the batch so the checkpoint replays it — silently
        // merging against an empty frame would drop every group not in
        // this micro-batch.
        val existing =
          if (fs.exists(dst)) spark.read.parquet(snapshotPath)
          else updates.limit(0)
        val merged = existing
          .join(updates.select("hour_ts", "event_type"),
            Seq("hour_ts", "event_type"), "left_anti")
          .unionByName(updates)
        merged.write.mode("overwrite").parquet(tmp.toString)
        // Atomic-enough swap: two single renames (atomic per rename on
        // HDFS/posix), with the old snapshot parked at bak — never
        // deleted before the new one is in place. Each rename's
        // boolean result is CHECKED: a silent false (e.g. a store
        // that refuses the rename) must fail the batch, not fall
        // through to deleting bak while dst is absent — that would
        // open exactly the both-missing window the recovery above
        // assumes cannot exist.
        if (fs.exists(bak)) fs.delete(bak, true)
        if (fs.exists(dst)) require(fs.rename(dst, bak),
          s"rollup publish: rename($dst -> $bak) failed")
        require(fs.rename(tmp, dst),
          s"rollup publish: rename($tmp -> $dst) failed")
        if (fs.exists(dst)) fs.delete(bak, true)
        spark.catalog.refreshByPath(snapshotPath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
    PartitionedParquetSink.startWithConfs(events.sparkSession, NioLocalFileSystem.Confs)(
      writer.start())
  }

  /** The same maintenance into an ICEBERG table — each micro-batch's
    * changed groups land as one merge-on-read upsert snapshot
    * ([[IcebergCdcSink.applyBatch]]: equality-delete + append, O(delta),
    * exactly-once across restarts via epoch replay detection scoped to
    * the checkpoint, so a fresh checkpoint over an existing table
    * applies its batches). The rollup gains the chain's whole lifecycle
    * for free: TIME TRAVEL to the view as of any past micro-batch,
    * compaction when the upsert deltas fragment it, expiry, branches.
    * This is what "materialized view" looks like on the lakehouse: a
    * first-class table, not a side file. */
  def maintainIceberg(events: DataFrame, tableDir: String,
                      checkpoint: String, tsCol: String = "ts",
                      watermark: String = "720 hours"): StreamingQuery =
    IngestLoop.start(rollupFrame(events.withWatermark(tsCol, watermark), tsCol),
      checkpoint, IcebergCdcSink.commit(tableDir, Seq("hour_ts", "event_type"),
        None, Some(IcebergCdcSink.streamIdOf(checkpoint))),
      outputMode = OutputMode.Update())
}
