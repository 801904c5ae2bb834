package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergTableReader,
  RestCatalogClient}
import graft.recovery.Recovery
import graft.sink.PartitionedParquetSink
import graft.sink.PartitionedParquetSink.SinkConfig

/** The reference exporter's COMPLETE operating loop, end to end in one
  * thread: streaming ingest lands micro-batches in the partitioned
  * layout, every batch commits an Iceberg snapshot, maintenance
  * compacts and expires, a CDC consumer tails the chain incrementally,
  * and the analytics layer queries the final table — the "a user of
  * the reference could switch" integration story (SURVEY §1). */
class LifecycleSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-lifecycle")

  test("ingest → snapshot → compact → expire → incremental → analytics") {
    import spark.implicits._
    val base = tmp()
    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "daily")
    val table = PartitionedParquetSink.tablePath(cfg)
    // a SIBLING location: the chain's metadata stays out of the parquet
    // table dir (manifest entries carry absolute paths)
    val loc = s"$base/events_iceberg"
    val conf = spark.sparkContext.hadoopConfiguration
    val events = Tables.events(spark, sf).localCheckpoint()
    val schemaJson = compact(render(
      RestCatalogClient.icebergSchemaJson(events.schema)._1))

    // write a batch, then register the files it added as the next
    // snapshot (writer.go: write parquet, then register)
    var registered = Set.empty[String]
    def ingest(batch: DataFrame): Long = {
      PartitionedParquetSink.writeBatch(batch, cfg)
      val fresh = Recovery.listDataFiles(spark, table).as[(String, Long)]
        .collect().toSeq.filterNot { case (p, _) => registered(p) }
      registered ++= fresh.map(_._1)
      val counts = Recovery.fileRowCounts(spark, fresh.map(_._1))
      IcebergCommit.commitStandalone(conf, loc, schemaJson, None,
        fresh.map { case (p, size) => RestCatalogClient.DataFile(p, size, counts(p)) })
    }

    // --- phase 1: two ingest batches, one snapshot each (writer.go loop)
    val day = dayofmonth($"ts")
    val batch1 = events.filter(day <= 15)
    val batch2 = events.filter(day > 15)
    val v1 = ingest(batch1)
    val v2 = ingest(batch2)
    assert(IcebergTableReader.read(spark, loc, Some(v1)).count()
      === batch1.count())
    assert(IcebergTableReader.read(spark, loc, Some(v2)).count()
      === events.count())

    // --- phase 2: the CDC consumer tails exactly batch 2 as the delta
    val delta = IcebergTableReader.readIncremental(spark, loc, v1, Some(v2))
    assert(delta.count() === batch2.count())

    // --- phase 3: maintenance — compact the live rows into a new
    // generation committed as a replace snapshot
    val nBefore = IcebergTableReader.dataFiles(spark, loc).size
    val (v3, live) = IcebergMaintenance.compact(spark, loc)
    assert(live === events.count())
    assert(IcebergTableReader.dataFiles(spark, loc).size <= nBefore)
    val head = IcebergTableReader.read(spark, loc, Some(v3))
    assert(head.count() === events.count())

    // --- phase 4: expiry GCs everything unreachable from the head,
    // old snapshots disappear, the head still reads perfectly
    val expiry = IcebergMaintenance.expireSnapshots(spark, loc, keepLast = 1)
    assert(expiry.expiredSnapshots.nonEmpty && expiry.deletedFiles.nonEmpty)
    assert(IcebergTableReader.read(spark, loc).count() === events.count())

    // --- phase 5: analytics on the maintained table — the downstream
    // rollup matches the same rollup computed on the raw source frame
    val servedDf = IcebergTableReader.read(spark, loc)
    def rollup(df: DataFrame) = df
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sv"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(rollup(servedDf) === rollup(events))

    // --- phase 6: the scanner sees no orphans on the live generation
    // (the compacted files under the chain's data dir; the listing
    // qualifies paths, so the chain's entries are qualified to match)
    val chainFiles = IcebergTableReader.dataFiles(spark, loc).map { f =>
      val p = new Path(f.path)
      p.getFileSystem(conf).makeQualified(p).toString
    }.toDF("file_path")
    val orphans = Recovery.scanOrphans(spark, s"$loc/data", chainFiles)
    assert(orphans.count() === 0L)
    assert(Recovery.listDataFiles(spark, s"$loc/data").count()
      === chainFiles.count())
  }
}
