package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.plans.RollupRewrite
import graft.streaming.StreamingRollup

/** Streaming-maintained rollup (StreamingRollup): the snapshot must
  * equal the batch rollup over everything ingested, survive a restart
  * with more data, and — the loop-closer — serve as the answer source
  * for RollupRewrite against the raw table. */
class StreamingRollupSpec extends SparkSpec {

  test("streamed rollup == batch rollup; restart folds new data in") {
    import spark.implicits._
    val base = tempDir("graft-roll-stream")
    val batch = Tables.events(spark, sf)
    batch.write.parquet(s"$base/src")

    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    StreamingRollup.maintain(stream, s"$base/mv", s"$base/chk")
      .awaitTermination()

    def key(df: org.apache.spark.sql.DataFrame): Map[(String, String), (Long, Long, Double, Double, Long)] =
      df.select(date_format($"hour_ts", "yyyy-MM-dd HH").as("h"),
          $"event_type", $"cnt", $"sum_value_trunc",
          $"min_value", $"max_value", $"sum_user_id")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
            r.getLong(6))))
        .toMap
    val streamed = key(spark.read.parquet(s"$base/mv"))
    val expected = key(StreamingRollup.rollupFrame(batch))
    assert(streamed === expected)
    // the double sum re-aggregates to the same magnitude (fold order
    // differs between incremental state and one batch pass)
    val sumStream = spark.read.parquet(s"$base/mv")
      .agg(sum($"sum_value")).head.getDouble(0)
    val sumBatch = StreamingRollup.rollupFrame(batch)
      .agg(sum($"sum_value")).head.getDouble(0)
    assert(math.abs(sumStream - sumBatch) <= 1e-6 * math.abs(sumBatch))

    // restart from the checkpoint with more source data
    batch.limit(500).write.mode("append").parquet(s"$base/src")
    StreamingRollup.maintain(
      spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "2").parquet(s"$base/src"),
      s"$base/mv", s"$base/chk").awaitTermination()
    val total = spark.read.parquet(s"$base/mv")
      .agg(sum($"cnt")).head.getLong(0)
    assert(total === batch.count() + 500)
  }

  /** r16 (ADVICE, medium): the publish protocol must survive a crash
    * BETWEEN the two renames — previously delete-then-rename had a
    * window where the snapshot was simply gone and the next batch
    * (update mode: only in-flight groups) silently dropped every
    * previously accumulated group. Simulate the torn state (dst
    * missing, bak holding the last good snapshot) and prove the next
    * batch restores and folds. */
  test("publish crash window: bak-only state recovers, no group lost") {
    import spark.implicits._
    val base = tempDir("graft-roll-crash")
    val batch = Tables.events(spark, sf)
    batch.write.parquet(s"$base/src")
    StreamingRollup.maintain(
      spark.readStream.schema(batch.schema).parquet(s"$base/src"),
      s"$base/mv", s"$base/chk").awaitTermination()
    val before = spark.read.parquet(s"$base/mv")
      .agg(sum($"cnt")).head.getLong(0)
    assert(before === batch.count())

    // tear the state exactly as a crash between the renames would:
    // dst moved aside to bak, nothing at dst
    val fs = new org.apache.hadoop.fs.Path(s"$base/mv")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$base/mv"),
      new org.apache.hadoop.fs.Path(s"$base/mv.bak")))
    spark.catalog.refreshByPath(s"$base/mv")

    // next micro-batch (new source file) must restore bak THEN fold
    batch.limit(300).write.mode("append").parquet(s"$base/src")
    StreamingRollup.maintain(
      spark.readStream.schema(batch.schema).parquet(s"$base/src"),
      s"$base/mv", s"$base/chk").awaitTermination()
    val after = spark.read.parquet(s"$base/mv")
      .agg(sum($"cnt")).head.getLong(0)
    assert(after === batch.count() + 300,
      "accumulated groups lost across the crash window")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/mv.bak")),
      "backup not cleaned up after a successful publish")
  }

  test("Iceberg-table rollup: upsert snapshots, time travel, compaction") {
    import spark.implicits._
    val base = tempDir("graft-roll-ice")
    val batch = Tables.events(spark, sf)
    // three source files → three micro-batches → three upsert snapshots
    val thirds = batch.count() / 3
    batch.limit(thirds.toInt).write.parquet(s"$base/src")
    batch.limit(2 * thirds.toInt).write.mode("append").parquet(s"$base/src")
    batch.write.mode("append").parquet(s"$base/src")
    StreamingRollup.maintainIceberg(
      spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src"),
      s"$base/tbl", s"$base/chk").awaitTermination()

    import graft.catalog.{IcebergMaintenance, IcebergTableReader}
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(date_format($"hour_ts", "yyyy-MM-dd HH").as("h"),
          $"event_type", $"cnt", $"sum_value_trunc", $"sum_user_id")
        .collect().map(_.toString).toSet
    // final state == the batch rollup over everything (events arrived
    // duplicated across files — the rollup state still counts every
    // ingested row exactly once per micro-batch aggregation)
    val expected = keyed(StreamingRollup.rollupFrame(
      batch.limit(thirds.toInt)
        .unionAll(batch.limit(2 * thirds.toInt)).unionAll(batch)))
    assert(keyed(IcebergTableReader.read(spark, s"$base/tbl")) === expected)
    // one snapshot per micro-batch; time travel shows the view growing
    val snaps = IcebergTableReader.metadata(spark, s"$base/tbl")
      .snapshots.map(_.snapshotId)
    assert(snaps.size === 3)
    val counts = snaps.map(id =>
      IcebergTableReader.read(spark, s"$base/tbl", Some(id))
        .agg(sum($"cnt")).head.getLong(0))
    assert(counts === counts.sorted)
    assert(counts.last ===
      thirds + 2 * thirds + batch.count())
    // compaction materializes the upsert deltas; rows identical
    val before = keyed(IcebergTableReader.read(spark, s"$base/tbl"))
    assert(IcebergMaintenance.compact(spark, s"$base/tbl")._1 > 0)
    assert(keyed(IcebergTableReader.read(spark, s"$base/tbl")) === before)

    // the capstone: RollupRewrite answers a raw-table aggregate from
    // the ICEBERG-maintained MV — resolved through the cold reader,
    // merge-on-read and all
    graft.functions.GraftFunctions.register(spark)
    val rawDir = s"$base/raw_events.parquet"
    batch.limit(thirds.toInt)
      .unionAll(batch.limit(2 * thirds.toInt)).unionAll(batch)
      .write.parquet(rawDir)
    val specJson =
      s"""{"basePath": "$rawDir", "rollupPath": "$base/tbl",
         | "icebergRollup": true,
         | "timeCol": "ts", "grainCol": "hour_ts", "tz": "UTC",
         | "dims": ["event_type"], "count": "cnt",
         | "measures": {"user_id": {"sum": "sum_user_id"}}}""".stripMargin
    def q = spark.read.parquet(rawDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"user_id").as("su"))
    val raw = q.collect().map(_.toString).toSet
    spark.conf.set(graft.plans.RollupRewrite.SPEC_KEY, specJson)
    try {
      val df = q
      // the rewritten plan scans the Iceberg table's data files, not
      // the raw events parquet
      val scans = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(scans.nonEmpty && scans.forall(_.contains("/tbl/data/")),
        s"expected Iceberg rollup data-file scans, got $scans")
      assert(df.collect().map(_.toString).toSet === raw)
    } finally spark.conf.unset(graft.plans.RollupRewrite.SPEC_KEY)
  }

  test("Iceberg rollup: a fresh checkpoint over an existing table lands its groups") {
    import spark.implicits._
    val base = tempDir("graft-roll-fresh")
    def source(dir: String, day: String, types: Seq[String]): org.apache.spark.sql.DataFrame = {
      types.zipWithIndex.map { case (t, i) => (s"$day 0$i:30:00", t, i + 1.0, i.toLong) }
        .toDF("ts", "event_type", "value", "user_id")
        .withColumn("ts", to_timestamp($"ts")).write.parquet(dir)
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    }
    def groups = graft.catalog.IcebergTableReader.read(spark, s"$base/tbl")
      .select(date_format($"hour_ts", "yyyy-MM-dd HH").as("h"), $"event_type")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    StreamingRollup.maintainIceberg(source(s"$base/a", "2024-01-01", Seq("click", "view")),
      s"$base/tbl", s"$base/chk-a").awaitTermination()
    // a new query on the same table: its batch ids restart at 0
    StreamingRollup.maintainIceberg(source(s"$base/b", "2024-02-01", Seq("buy")),
      s"$base/tbl", s"$base/chk-b").awaitTermination()
    assert(groups === Set(("2024-01-01 00", "click"), ("2024-01-01 01", "view"),
      ("2024-02-01 00", "buy")))

  }

  test("Iceberg rollup: a replayed batch is skipped and its state still commits") {
    import spark.implicits._
    val base = tempDir("graft-roll-replay")
    Seq(("2024-01-01 00:30:00", "click", 1.0, 1L)).toDF("ts", "event_type", "value", "user_id")
      .withColumn("ts", to_timestamp($"ts")).write.parquet(s"$base/src")
    def run() = {
      val q = StreamingRollup.maintainIceberg(spark.readStream
        .schema(spark.read.parquet(s"$base/src").schema).parquet(s"$base/src"),
        s"$base/tbl", s"$base/chk")
      q.awaitTermination()
      q.recentProgress.map(p => (p.batchId, p.numInputRows)).toSeq
    }
    def snapshots = graft.catalog.IcebergTableReader.metadata(spark, s"$base/tbl").snapshots.size
    // batch 0 is the only batch: no trailing no-data batch commits after it
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    try {
      assert(run() === Seq((0L, 1L)) && snapshots === 1)
      // a crash after the table commit, before the checkpoint's: the
      // restarted query replays batch 0 and finds its epoch
      Seq("0", ".0.crc").foreach(f => Files.delete(java.nio.file.Paths.get(s"$base/chk/commits/$f")))
      assert(run() === Seq((0L, 1L)))
      assert(snapshots === 1)
    } finally spark.conf.unset(key)
  }

  test("RollupRewrite answers raw-table aggregates from the STREAMED snapshot") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val base = tempDir("graft-roll-loop")
    val batch = Tables.events(spark, sf)
    batch.write.parquet(s"$base/events.parquet")
    StreamingRollup.maintain(
      spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/events.parquet"),
      s"$base/mv", s"$base/chk").awaitTermination()

    val specJson =
      s"""{"basePath": "$base/events.parquet", "rollupPath": "$base/mv",
         | "timeCol": "ts", "grainCol": "hour_ts", "tz": "UTC",
         | "dims": ["event_type"], "count": "cnt",
         | "measures": {
         |   "value": {"sumLong": "sum_value_trunc",
         |             "min": "min_value", "max": "max_value"},
         |   "user_id": {"sum": "sum_user_id"}}}""".stripMargin
    def query = spark.read.parquet(s"$base/events.parquet")
      .groupBy($"ts".cast("date").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("long")).as("s_trunc"),
        min($"value").as("mn"), max($"value").as("mx"))
    val raw = query.collect().map(_.toString).toSet

    spark.conf.set(RollupRewrite.SPEC_KEY, specJson)
    try {
      val df = query
      val scans = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(scans.exists(_.endsWith("/mv")), s"expected rollup scan: $scans")
      assert(df.collect().map(_.toString).toSet === raw)
    } finally spark.conf.unset(RollupRewrite.SPEC_KEY)
  }
}
