package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.config.ExporterConfig._
import graft.sources.OtelProtoSource

/** The collector's queue/batch knobs mapped onto the streaming
  * consumers — a user porting `sending_queue` / `batch` blocks from an
  * otel-config.yaml (`/root/reference/example/otel-config.yaml:26-29`,
  * README "Standard OTel Exporter Settings") gets the same levers:
  * `batch.send_batch_size` caps spool files per micro-batch,
  * `batch.timeout` is the micro-batch cadence, `sending_queue
  * .queue_size` bounds the spool, `num_consumers` caps sink writers.
  */
class QueueBatchSpec extends SparkSpec {

  test("queue/batch validation rows") {
    val base = Config(Filesystem("/data"), Catalog("none"))
    assert(base.validate.isEmpty) // defaults are all valid
    val bad = base.copy(
      queue = Queue(numConsumers = 0, queueSize = -1),
      batch = Batch(sendBatchSize = 0, timeoutMs = -5))
    val errs = bad.validate
    assert(errs.exists(_.contains("sending_queue.num_consumers")))
    assert(errs.exists(_.contains("sending_queue.queue_size")))
    assert(errs.exists(_.contains("batch.send_batch_size")))
    assert(errs.exists(_.contains("batch.timeout")))
  }

  test("knobs resolve: queue_size -> spool bound, batch -> trigger + file cap") {
    val cfg = Config(Filesystem("/data"), Catalog("none"),
      queue = Queue(numConsumers = 4, queueSize = 50),
      batch = Batch(sendBatchSize = 16, timeoutMs = 750))
    assert(cfg.spoolLimits.maxFiles === 50L)
    assert(cfg.spoolLimits.bounded)
    assert(cfg.streamOptions === Map("maxFilesPerTrigger" -> "16"))
    assert(cfg.streamTrigger ===
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(750))
    assert(cfg.sinkParallelism === Some(4))
    // disabled queue = the reference's pass-through: no bound
    val nocap = cfg.copy(queue = Queue(enabled = false))
    assert(!nocap.spoolLimits.bounded)
  }

  test("send_batch_size observably changes files per micro-batch") {
    val base = tempDir("graft-qb")
    val spool = s"$base/traces"
    Files.createDirectories(Paths.get(spool))
    // four spooled export requests (an EMPTY ExportTraceServiceRequest
    // is valid proto3 — zero bytes — so the file-count accounting is
    // exercised without any span payload)
    (1 to 4).foreach(i =>
      Files.write(Paths.get(spool, f"000000000000$i%d-x.pb"), Array.empty[Byte]))

    def batchesWith(cfg: Config): Seq[Long] = {
      val seen = mutable.ArrayBuffer.empty[Long]
      val q = OtelProtoSource
        .tracesStream(spark, spool, cfg.streamOptions)
        .writeStream
        .foreachBatch((_: org.apache.spark.sql.DataFrame, id: Long) => {
          seen.synchronized { seen += id }
          ()
        })
        .option("checkpointLocation",
          s"$base/chk-${cfg.batch.sendBatchSize}")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      seen.toSeq
    }

    val small = Config(Filesystem(base), Catalog("none"),
      batch = Batch(sendBatchSize = 2))
    val big = Config(Filesystem(base), Catalog("none")) // default 8192
    // 4 files / send_batch_size 2 -> two micro-batches; default -> one
    assert(batchesWith(small).size === 2)
    assert(batchesWith(big).size === 1)
  }

  test("num_consumers caps concurrent sink writers without a shuffle") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000, 1, 8)
      .select(col("id"), (col("id") % 7).as("k"))
    val capped = df.coalesce(2) // the exact transform sinkParallelism applies
    assert(capped.rdd.getNumPartitions === 2)
    // narrow: the physical plan has no exchange
    val plan = capped.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"coalesce must stay narrow:\n$plan")
  }
}
