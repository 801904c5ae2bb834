package graft.sink

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery,
  StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.MetadataBuilder
import org.apache.spark.sql.Row

import graft.functions.GraftFunctions.hilbertIndex
import graft.storage.NioLocalFileSystem

/** Time-partitioned parquet sink — the Spark-native counterpart of the
  * reference's write path (writer.go + internal/iceberg/partition.go).
  *
  * The reference buffers rows per (table, partition) and writes one
  * parquet file per partition per flush with a configured codec; here the
  * same layout falls out of `partitionBy(year[,month[,day[,hour]]])`,
  * which at 100 TB also gives downstream readers file-listing-level
  * partition pruning on time predicates.
  *
  * Granularities mirror partition.go:73-98: monthly → year/month,
  * daily → +day, hourly → +hour. Partition values are rendered in the
  * configured timezone like the reference's PathGenerator.
  */
object PartitionedParquetSink {

  case class SinkConfig(
      basePath: String,
      table: String,
      tsColumn: String = "time_unix_nano",
      granularity: String = "hourly",
      timezone: String = "UTC",
      compression: String = "snappy",
      // Write-task parallelism. Files-per-commit is fixed by the
      // partition layout, so the knob that matters is how many tasks
      // share the writing: a local FS saturates below core count, an
      // object store wants many more. None = spark.sql.shuffle.partitions.
      writeTasks: Option[Int] = None,
      // Two long columns to Z-ORDER cluster rows by within each write
      // task (Morton interleave — [[ZOrder.zValue]]) instead of the
      // default ts clustering: per-file/row-group min/max stats then
      // prune selective predicates on EITHER column, not just time.
      zOrderBy: Seq[String] = Nil,
      // Space-filling curve for zOrderBy: "morton" (bit interleave,
      // pure column arithmetic) or "hilbert" (jump-free curve — tighter
      // per-file bounding boxes, via the native [[HilbertIndex]]
      // expression).
      curve: String = "morton")

  /** Partition column names for a granularity (partition.go ToMap). */
  def partitionColumns(granularity: String): Seq[String] = granularity match {
    case "monthly" => Seq("year", "month")
    case "daily"   => Seq("year", "month", "day")
    case _         => Seq("year", "month", "day", "hour") // hourly default
  }

  /** Derive string partition values from the timestamp in the sink
    * timezone — zero-padded like the reference ("01", "08"). */
  def withPartitionValues(df: DataFrame, cfg: SinkConfig): DataFrame = {
    val local: Column = from_utc_timestamp(col(cfg.tsColumn), cfg.timezone)
    val all = Map(
      "year"  -> date_format(local, "yyyy"),
      "month" -> date_format(local, "MM"),
      "day"   -> date_format(local, "dd"),
      "hour"  -> date_format(local, "HH"))
    partitionColumns(cfg.granularity).foldLeft(df) {
      case (d, name) => d.withColumn(name, all(name))
    }
  }

  def tablePath(cfg: SinkConfig): String = s"${cfg.basePath}/${cfg.table}"

  /** Attach Iceberg field IDs (sequential, 1-based — schema.go's
    * auto-assignment) as `parquet.field.id` metadata on EVERY struct
    * field, nested ones included (pre-order: a parent's id precedes its
    * children's, matching Iceberg's fresh-id assignment). Spark's parquet
    * writer emits them into file footers
    * (`spark.sql.parquet.fieldId.write.enabled`, default on) at all
    * nesting levels, which is what lets an Iceberg catalog adopt the
    * files without a rewrite — the reference's "Iceberg field IDs"
    * feature (README Features). Applied via `Dataset.to`, which carries
    * metadata without parsing column names — names containing dots
    * (e.g. the summary table's "quantile_values.quantile") are safe.
    * Limitation: primitive list elements / map keys can't carry Spark
    * metadata, so only struct fields receive ids. */
  def withIcebergFieldIds(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.StructType
    var nextId = 0
    def idMeta(f: org.apache.spark.sql.types.StructField) = {
      nextId += 1
      new MetadataBuilder().withMetadata(f.metadata)
        .putLong("parquet.field.id", nextId.toLong).build()
    }
    // Explicit Alias(_, name, metadata): the one construct whose metadata
    // provably survives optimization into the writer's output attributes
    // (Dataset.to's schema-level metadata is stripped before the parquet
    // writer sees it). Struct columns are rebuilt field-by-field so the
    // nested StructFields carry ids inside the column's dataType — the
    // parquet schema converter reads nested ids from there. getField with
    // a literal name (no parsing) keeps dotted names safe.
    def rebuild(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case st: StructType =>
        val inner = struct(st.fields.map { f =>
          val meta = idMeta(f)
          rebuild(c.getField(f.name), f.dataType).as(f.name, meta)
        }.toIndexedSeq: _*)
        when(c.isNotNull, inner) // null structs stay null, not struct-of-nulls
      case _ => c
    }
    val cols = df.schema.fields.map { f =>
      val meta = idMeta(f)
      rebuild(df.col(s"`${f.name.replace("`", "``")}`"), f.dataType).as(f.name, meta)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Batch write: append one partitioned parquet dataset.
    *
    * Rows are shuffled onto their partition values first so each
    * year/month/day/hour directory is written by one task — without
    * this, every input task opens a writer per directory it touches and
    * a 1000-executor job emits millions of KB-sized files. (A single
    * pathologically hot partition can be split further with
    * `spark.sql.files.maxRecordsPerFile`.) */
  def writeBatch(df: DataFrame, cfg: SinkConfig): Unit = {
    val cols = partitionColumns(cfg.granularity)
    val prepared = withIcebergFieldIds(withPartitionValues(df, cfg))
    // Iceberg's spec has no INT96: timestamps must land as int64 micros
    // (also the only encoding parquet exposes min/max footer stats for,
    // which Recovery.fileStats' zone maps depend on). Spark's default is
    // still legacy INT96 — override for the duration of the write.
    val spark = df.sparkSession
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      // Sort by (partition cols, cluster key) within each write task:
      // the dynamic partition writer needs the partition-col prefix
      // anyway (so this costs nothing extra), and the suffix clusters
      // rows so every parquet ROW GROUP carries a tight min/max —
      // readers skip row groups inside a file, not just whole files.
      // Default cluster key is ts; with zOrderBy set it's the Morton
      // code of the two columns (both get zone-map locality). Raw
      // values interleave badly when bit widths differ (a 10-bit column
      // drowns a 4-bit one), so each column is RANGE-SCALED to the
      // 21-bit Morton domain from the batch's own min/max first — one
      // tiny extra agg pass, the same range-based normalization
      // OPTIMIZE ZORDER implementations do.
      val clusterKey = cfg.zOrderBy match {
        case Seq(a, b) =>
          val r = prepared.agg(
            min(col(a)).cast("long"), max(col(a)).cast("long"),
            min(col(b)).cast("long"), max(col(b)).cast("long")).collect()(0)
          def scaled(name: String, lo: Long, hi: Long): Column = {
            // monotone map onto the 21-bit Morton domain: small ranges
            // multiply UP (so a 4-bit column's top bit aligns with a
            // 30-bit column's), large ranges step-divide DOWN — integer
            // math, overflow-free, ≤ 2^21 either way
            val domain = (1L << 21) - 1
            val range = math.max(1L, hi - lo)
            if (range <= domain)
              expr(s"CAST((`$name` - $lo) * ${domain / range} AS BIGINT)")
            else
              expr(s"CAST((`$name` - $lo) DIV ${range / domain + 1} AS BIGINT)")
          }
          if (r.anyNull) col(cfg.tsColumn) // empty batch: nothing to cluster
          else {
            val (sa, sb) = (scaled(a, r.getLong(0), r.getLong(1)),
                            scaled(b, r.getLong(2), r.getLong(3)))
            if (cfg.curve == "hilbert") hilbertIndex(sa, sb)
            else ZOrder.zValue(sa, sb)
          }
        case _ => col(cfg.tsColumn)
      }
      val sortCols = cols.map(col) :+ clusterKey
      cfg.writeTasks.fold(prepared.repartition(cols.map(col): _*)) { n =>
          prepared.repartition(n, cols.map(col): _*)
        }
        .sortWithinPartitions(sortCols: _*)
        .write
        .partitionBy(cols: _*)
        .option("compression", cfg.compression)
        .mode("append")
        .parquet(tablePath(cfg))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Streaming write: same layout via Structured Streaming's parquet
    * sink (exactly-once per partition via the checkpoint + file log —
    * stronger than the reference's at-least-once delivery). Like the
    * batch path, each micro-batch shuffles rows onto their partition
    * values first — otherwise every task writes a file per directory it
    * touches and a steady stream accretes small files quadratically. */
  def writeStream(df: DataFrame, cfg: SinkConfig,
                  checkpoint: String): DataStreamWriter[Row] = {
    val cols = partitionColumns(cfg.granularity)
    // (no sortWithinPartitions here: sorting is unsupported on streaming
    // DataFrames — the dynamic partition writer's own sort still groups
    // rows by partition directory)
    withIcebergFieldIds(withPartitionValues(df, cfg))
      .repartition(cols.map(col): _*)
      .writeStream
      .format("parquet")
      .partitionBy(cols: _*)
      .option("path", tablePath(cfg))
      .option("compression", cfg.compression)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
  }

  /** Start the streaming write with int64-micros timestamps (Iceberg
    * spec; footer stats) scoped to the QUERY LIFETIME: FileStreamSink
    * reads `spark.sql.parquet.outputTimestampType` from the session it
    * captured at creation on EVERY addBatch (a cloned-session or
    * writer-option scoping is ignored — ParquetOptions only knows
    * compression/mergeSchema), so the conf must stay set while the
    * stream runs; [[startWithConfs]] restores the caller's value when
    * the query terminates. The query's `file:` storage (data files,
    * sink log, checkpoint) is held on [[NioLocalFileSystem]] the same
    * way, as for every ingest loop ([[graft.streaming.IngestLoop]]). */
  def startStream(df: DataFrame, cfg: SinkConfig,
                  checkpoint: String): StreamingQuery =
    startWithConfs(df.sparkSession, NioLocalFileSystem.Confs :+
        ("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")) {
      writeStream(df, cfg, checkpoint).start()
    }

  /** Session confs held by running queries: the caller's explicit value
    * (None: unset) from before the first holder, and how many queries
    * hold it. */
  private final class Held(val prev: Option[String], var refs: Int)
  private val held = scala.collection.mutable.Map.empty[(SparkSession, String), Held]

  /** Start a streaming query with `confs` set on `spark` for the query's
    * whole life — for confs Spark reads from the session that created
    * the stream at every micro-batch — and restore the caller's values
    * when it terminates. Queries that overlap on one session share a
    * hold: the last to terminate restores the values from before the
    * first started. A query that fails to start restores at once. */
  private[graft] def startWithConfs(spark: SparkSession, confs: Seq[(String, String)])
                                   (start: => StreamingQuery): StreamingQuery = {
    held.synchronized {
      confs.foreach { case (k, v) =>
        held.getOrElseUpdate((spark, k), new Held(spark.conf.getAll.get(k), 0)).refs += 1
        spark.conf.set(k, v)
      }
    }
    val released = new AtomicBoolean(false)
    def release(): Unit = if (released.compareAndSet(false, true)) held.synchronized {
      confs.foreach { case (k, _) =>
        held.get((spark, k)).foreach { h =>
          h.refs -= 1
          if (h.refs == 0) {
            held.remove((spark, k))
            h.prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
          }
        }
      }
    }
    // registered before start(), so a query that ends at once is still
    // seen: whichever of the listener and this thread learns second of
    // (query id, termination) releases
    val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val queryId = new AtomicReference[java.util.UUID]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        terminated.add(e.id)
        if (e.id == queryId.get) { release(); spark.streams.removeListener(this) }
      }
    }
    spark.streams.addListener(listener)
    val query =
      try start
      catch { case e: Throwable =>
        spark.streams.removeListener(listener); release(); throw e
      }
    queryId.set(query.id)
    if (terminated.contains(query.id)) { release(); spark.streams.removeListener(listener) }
    query
  }
}
