package graft

import java.nio.file.{Files, Paths}

import graft.catalog.{IcebergMaintenance, IcebergTableMetadata,
  IcebergTableReader, RestCatalogClient}

/** Retention knobs ride TABLE PROPERTIES (the Iceberg-spec keys) and
  * [[IcebergMaintenance.expireByProperties]] enforces them: snapshots
  * younger than `history.expire.max-snapshot-age-ms` all survive, the
  * `history.expire.min-snapshots-to-keep` floor applies regardless of
  * age, and defaults follow the spec (5 days / keep 1). */
class PropertyRetentionSpec extends SparkSpec {

  private def chain(): String = {
    import spark.implicits._
    val base = tempDir("graft-prop-retention")
    val loc = s"$base/tbl"
    val d0 = s"$loc/data/b0"
    (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(d0)
    val paths = Files.list(Paths.get(d0)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet")).toSeq.sorted
    val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
    val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(
      spark.read.parquet(d0).schema)
    graft.catalog.IcebergCommit.commitStandalone(
      spark.sparkContext.hadoopConfiguration, loc,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson)),
      None,
      paths.map(p => RestCatalogClient.DataFile(
        p, Files.size(Paths.get(p)), counts.getOrElse(p, 0L))))
    // two more snapshots via keyed upserts
    val u1 = Seq((1L, "u1")).toDF("id", "v")
    IcebergMaintenance.upsert(spark, loc, u1, Seq("id"))
    val u2 = Seq((2L, "u2")).toDF("id", "v")
    IcebergMaintenance.upsert(spark, loc, u2, Seq("id"))
    loc
  }

  test("expireByProperties honors age bar, keep floor, and spec defaults") {
    val conf = spark.sparkContext.hadoopConfiguration
    val loc = chain()
    val meta0 = IcebergTableReader.metadata(spark, loc)
    assert(meta0.snapshots.size === 3)

    // spec defaults (5-day age): a just-written chain expires nothing
    val r0 = IcebergMaintenance.expireByProperties(spark, loc)
    assert(r0.expiredSnapshots.isEmpty && r0.retainedSnapshots.size === 3)

    // huge age bar set via properties: still nothing to expire
    IcebergTableMetadata.commit(conf, loc, meta0.schemaJson, None, None,
      setProperties = Map(
        "history.expire.max-snapshot-age-ms" -> (10L * 365 * 86400000L).toString))
    assert(IcebergMaintenance.expireByProperties(spark, loc)
      .expiredSnapshots.isEmpty)

    // age bar of zero (everything is "old") + keep floor 2: exactly the
    // oldest snapshot expires, the chain stays readable
    val m1 = IcebergTableReader.metadata(spark, loc)
    IcebergTableMetadata.commit(conf, loc, m1.schemaJson, None, None,
      setProperties = Map(
        "history.expire.max-snapshot-age-ms" -> "0",
        "history.expire.min-snapshots-to-keep" -> "2"))
    val ordered = m1.snapshots.sortBy(_.sequenceNumber).map(_.snapshotId)
    val r1 = IcebergMaintenance.expireByProperties(spark, loc)
    assert(r1.expiredSnapshots === Seq(ordered.head))
    assert(r1.retainedSnapshots.toSet === ordered.tail.toSet)
    assert(IcebergTableReader.read(spark, loc).count() === 40L)

    // floor of 1 (explicit): only the current snapshot survives
    val m2 = IcebergTableReader.metadata(spark, loc)
    IcebergTableMetadata.commit(conf, loc, m2.schemaJson, None, None,
      setProperties = Map("history.expire.min-snapshots-to-keep" -> "1"))
    val r2 = IcebergMaintenance.expireByProperties(spark, loc)
    assert(r2.retainedSnapshots.size === 1)
    assert(IcebergTableReader.read(spark, loc).count() === 40L)
  }
}
