package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.sink.PartitionedParquetSink
import graft.storage.NioLocalFileSystem
import graft.streaming.Delivery.RetryPolicy

/** The one micro-batch loop behind every write → register entry point:
  * the reference exporter's loop (writer.go: write parquet, then
  * register the files with the catalog) under Structured Streaming's
  * idempotent-sink contract. foreachBatch delivers a batch at least
  * once, so a target's register step must be safe to repeat: append
  * targets dedup on path, CDC targets skip an epoch already committed.
  * The loop owns the checkpoint and trigger, the listing threshold,
  * [[Delivery.retry]], pinning, job descriptions and
  * [[ExportTelemetry]]; a target supplies only its [[Commit]]. */
private[streaming] object IngestLoop {

  /** What a register step appended, as (path, size) entries. */
  type Register = () => Seq[(String, Long)]

  /** A target's per-batch commit: write the batch (id given) and return
    * the step that registers what was written. */
  type Commit = (DataFrame, Long) => Register

  /** Paths a listing stats on the driver before Spark lists them with a
    * job (`spark.sql.sources.parallelPartitionDiscovery.threshold`,
    * default 32). The file source re-stats every file of a micro-batch
    * in `getBatch`, reading the conf from the session that created the
    * stream; above the default a steady batch paid a ~0.5 s listing job
    * for what the driver stats in milliseconds. Set to the exporter's
    * default `send_batch_size`, the largest batch it asks for. */
  val SpoolStatThreshold: Int = graft.config.ExporterConfig.Batch().sendBatchSize

  /** Start `events` through `commit`, each batch's write + register
    * under `policy`, with `beforeRegister` between the two (where a
    * process can die between data and catalog). The batch is pinned
    * only when it may be read twice (retries, or a telemetry row
    * count). `table` names the telemetry rows.
    *
    * Two sets of session confs are held while the query runs (through
    * [[PartitionedParquetSink.startWithConfs]], restored when it
    * terminates), because Spark reads both from the session at every
    * micro-batch: the listing threshold at [[SpoolStatThreshold]], and
    * [[NioLocalFileSystem.Confs]], which put every `file:` path the
    * query touches on a local file system that forks no process. The
    * stock one forks `chmod` per file or directory created and
    * `readlink` per checkpoint rename when libhadoop is absent: one
    * 12 s ingest run started 913 processes, at 6–23 ms each on a 4-core
    * host, mostly on the stream-execution and write-task threads. The
    * held confs reach the checkpoint logs, the data-file write and,
    * because the register steps read the batch session's Hadoop conf,
    * the manifest and the Iceberg commits. */
  def start(events: DataFrame, checkpoint: String, commit: Commit,
            trigger: Trigger = Trigger.AvailableNow(),
            outputMode: OutputMode = OutputMode.Append(),
            policy: RetryPolicy = RetryPolicy(maxAttempts = 1),
            onRetry: (Int, Throwable) => Unit = (_, _) => (),
            beforeRegister: DataFrame => Unit = _ => (),
            telemetry: Option[ExportTelemetry.Collector] = None,
            table: String = ""): StreamingQuery =
    PartitionedParquetSink.startWithConfs(events.sparkSession,
        NioLocalFileSystem.Confs :+
          ("spark.sql.sources.parallelPartitionDiscovery.threshold" ->
            SpoolStatThreshold.toString)) {
      events.writeStream
        .outputMode(outputMode)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val pinned =
            if (policy.maxAttempts > 1 || telemetry.isDefined) batch.localCheckpoint()
            else batch
          val spark = pinned.sparkSession
          val t0 = System.nanoTime()
          val errors = ArrayBuffer.empty[String]
          // every attempt's registrations: a retried attempt's orphan
          // files count, since the table walk registers them
          val added = ArrayBuffer.empty[(String, Long)]
          def record(outcome: String, err: Option[Throwable]): Unit =
            telemetry.foreach(_.record(ExportTelemetry.BatchMetric(
              batchId, table, outcome, pinned.count(), added.size,
              added.iterator.map(_._2).sum, errors.size,
              (System.nanoTime() - t0) / 1000000L,
              (errors ++ err.map(e => s"final: ${e.getMessage}")).toSeq)))
          try {
            Delivery.retry(policy, (a, e) => {
              errors += s"attempt $a: ${e.getMessage}"; onRetry(a, e)
            }) {
              val register = described(spark, s"ingest batch $batchId: write") {
                commit(pinned, batchId)
              }
              beforeRegister(pinned)
              added ++= described(spark, s"ingest batch $batchId: register")(register())
            }
            record("success", None)
          } catch { case e: Throwable => record("failed", Some(e)); throw e }
          ()
        }
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .start()
    }

  /** Run `body` with its Spark jobs described as `what`. */
  private def described[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setJobDescription(prev)
  }
}
