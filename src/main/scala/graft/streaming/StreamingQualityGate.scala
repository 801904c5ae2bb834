package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.PartitionedParquetSink
import graft.storage.NioLocalFileSystem

/** STREAMING curation gate (r8): score each incoming document with the
  * batch-proven Gopher rules ([[graft.llm.TextOps.gopherColumns]] —
  * literally the same column expressions the oracle-checked
  * `text_gopher_quality` query runs) and route rows to accept/reject
  * parquet sinks in one pass. This is the front door of a continuous
  * training-data pipeline: documents stream in from collectors, junk is
  * diverted WITH its reject reason (auditable curation, not silent
  * drops), and only survivors reach the expensive dedup/embedding
  * stages downstream.
  *
  * Mechanics: `foreachBatch` with the scored batch pinned by
  * localCheckpoint so the narrow scoring pass runs ONCE per batch and
  * both routes read the materialized result — not two recomputations.
  * The checkpointed source offsets give exactly-once batch processing
  * across restarts (the parquet appends themselves are at-least-once
  * under a mid-batch crash, the same contract as the partitioned sink —
  * see [[Delivery]] for the retrying variants). Scoring is a narrow
  * map, so the gate adds no shuffle at any scale; each sink write is
  * partition-parallel. */
object StreamingQualityGate {

  /** Scored frame: gopher metrics + keep verdict + the FIRST failing
    * rule as a reject reason (null for keepers) — reasons make the
    * reject stream auditable and the rule mix tunable from data. */
  def score(docs: DataFrame): DataFrame =
    graft.llm.TextOps.gopherColumns(docs)
      .withColumn("reject_reason",
        when(col("keep") === 1, lit(null).cast("string"))
        .when(col("n_words") < 5, lit("too_few_words"))
        .when(col("n_words") > 100000, lit("too_many_words"))
        .when(col("mean_word_len") < 3 || col("mean_word_len") > 10,
          lit("word_length"))
        .when(col("alpha_frac") < 0.8, lit("non_alpha"))
        .otherwise(lit("too_few_stopwords")))

  /** Run the gate over a streaming document frame: accepted rows land
    * under `acceptDir`, rejected rows (with metrics + reason) under
    * `rejectDir`. AvailableNow + checkpoint → drain-and-stop batches
    * that resume exactly after the last processed file. Its `file:`
    * storage is held on [[NioLocalFileSystem]] for the query's life, as
    * for every ingest loop ([[IngestLoop.start]]). */
  def run(docs: DataFrame, acceptDir: String, rejectDir: String,
          checkpoint: String): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val scored = score(batch).localCheckpoint()
        scored.filter(col("keep") === 1)
          .drop("keep", "reject_reason")
          .write.mode("append").parquet(acceptDir)
        scored.filter(col("keep") === 0)
          .write.mode("append").parquet(rejectDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
    PartitionedParquetSink.startWithConfs(docs.sparkSession, NioLocalFileSystem.Confs)(
      writer.start())
  }
}
