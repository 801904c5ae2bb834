package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Parquet table loaders for the graft engine.
  *
  * Mirrors the reference's table-per-signal layout
  * (/root/reference/README.md "Schema" section): the exporter produces
  * flat parquet tables which downstream engines scan. Here the scan is a
  * plain `spark.read.parquet` so Catalyst handles column pruning and
  * predicate pushdown into the parquet reader.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** All reads force LTZ timestamp inference: the generated parquet
    * stamps timestamp columns isAdjustedToUTC=false, which Spark ≥3.4
    * would otherwise surface as TIMESTAMP_NTZ — a type `unix_micros`/
    * `date_trunc(tz)` reject and the DuckDB oracle doesn't produce.
    * With inference off the stored micros are read verbatim as UTC
    * instants (sessions here run UTC), matching the oracle's naive
    * reading bit-for-bit. The conf is saved and RESTORED around the
    * (eager) schema-inference step — Spark 4.1 has no per-read parquet
    * option for this, and the inferred schema is frozen into the
    * relation, so scoping the override to the `spark.read` call leaves
    * parquet reads outside these loaders with their own NTZ
    * inference (no global side effect). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try spark.read.parquet(s"$sfDir/$name.parquet")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. We read it as a raw long (legacy conf) and truncate
    * to microseconds — Spark's native timestamp precision.
    *
    * Unlike [[load]]'s conf, `spark.sql.legacy.parquet.nanosAsLong`
    * stays set on the session: Spark 4.1 reads it again at SCAN time
    * (`ParquetFileFormat.setupHadoopConf`, called from
    * `buildReaderWithPartitionValues`), not only when the schema is
    * inferred, so restoring it after the read would break every later
    * scan of the returned frame. Later TIMESTAMP(NANOS) reads in the
    * same session therefore also see raw longs. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Exact integer truncation: `/` on longs is double division in
        // Spark (ulp at 2024-era ns epochs is 256ns, so ~13% of rows land
        // 1us off after the cast). `div` keeps it in integer math.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fan a SMALL pre-kernel frame out across the session's cores.
    *
    * A table that arrives as one (or few) parquet files plans as ONE
    * scan partition, so an expensive per-row kernel applied before any
    * shuffle — media encode/decode, digests, codec passes — runs on a
    * single core no matter how many the session has (the "one
    * unsplittable input" skew of the optimization guide §2.5).
    *
    * GATED (r16): the exchange only fires when the planned scan is
    * materially under-parallel (fewer partitions than half the cores).
    * On a many-file table — the 100 TB shape — the scan already
    * parallelizes and an unconditional repartition would be a full
    * exchange of every payload byte for nothing; gating keeps the fix
    * a local-skew repair instead of a corpus shuffle. Sized by
    * `defaultParallelism` (tracks the session's core count) rather
    * than any constant, so the same code is right at local[8],
    * local[32] and on a cluster. */
  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val par = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions * 2 >= par) ds
    else ds.repartition(par)
  }

  /** [[spread]] keyed by a unique id column: hash-partitioning skips
    * the local sort a keyless round-robin repartition pays on every
    * input row (sortBeforeRepartition, needed there for deterministic
    * retries — a hash key is deterministic by itself). With a unique
    * key the spread is just as even, and the sorted-payload cost
    * matters exactly at the call sites spread exists for: wide
    * text/media rows in front of a per-row kernel. */
  def spreadBy[T](ds: Dataset[T], key: Column): Dataset[T] = {
    val par = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions * 2 >= par) ds
    else ds.repartition(par, key)
  }
}
