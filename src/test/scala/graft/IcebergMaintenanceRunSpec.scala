package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergSingleValue,
  IcebergTableReader, RestCatalogClient}
import graft.catalog.RestCatalogClient.DataFile

/** The nightly table service (IcebergMaintenance.runMaintenance): all
  * four verbs composed — bin-pack, manifest collapse, expiry, orphan
  * sweep — leaving rows identical, metadata small, and a healthy table
  * untouched on the second run. */
class IcebergMaintenanceRunSpec extends SparkSpec {

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSeq.sorted

  test("one maintenance run heals a fragmented table; a second is a no-op") {
    import spark.implicits._
    val loc = tempDir("graft-maint") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    def commit(ids: Range): Long = {
      val dir = s"$loc/data/b${ids.start}"
      ids.map(i => (i.toLong, i * 1000000L, s"v$i")).toDF("id", "ts", "payload")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val paths = listParquet(dir)
      val stats = graft.recovery.Recovery.fileColumnStats(spark, paths, "ts")
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, None,
        paths.map { p =>
          val bounds = stats.get(p).toSeq.map { case (mn, mx) =>
            (topIds("ts"), IcebergSingleValue.longBytes(mn),
              IcebergSingleValue.longBytes(mx)) }
          DataFile(p, Files.size(Paths.get(p)), counts(p), bounds)
        })
    }
    // 12 micro-batch appends (12 files, 12 manifests) + a delete +
    // a crashed-write orphan
    (0 until 12).foreach(b => commit(b * 10 until (b + 1) * 10))
    assert(IcebergMaintenance.deleteWhere(spark, loc, col("id") === 7L)._2 === 1L)
    val orphan = Paths.get(s"$loc/data/orphan-debris.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))

    val before = IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq
    assert(before.size === 119)
    assert(IcebergTableReader.manifestsDf(spark, loc).count() === 13L)

    // pass 1: manifests only (no file is under the 1-byte threshold) —
    // the streaming-append planning fix without touching data
    val repM = IcebergMaintenance.runMaintenance(spark, loc,
      smallFileThresholdBytes = 1L,
      maxManifests = 4, keepSnapshots = 20,
      // 72 h grace: leave the 48 h-old debris for pass 2's sweep
      orphanOlderThanMs = System.currentTimeMillis() - 72L * 3600 * 1000)
    assert(repM.filesRewrite.snapshotId === -1L)
    assert(repM.manifestsRewritten)
    assert(IcebergTableReader.manifestsDf(spark, loc).count() === 2L)
    assert(IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq === before)

    // pass 2: bin-pack + expiry + orphan sweep; the file rewrite
    // itself writes a fresh complete manifest list, so the manifest
    // branch correctly does NOT fire again
    val rep = IcebergMaintenance.runMaintenance(spark, loc,
      smallFileThresholdBytes = Long.MaxValue,
      minInputFiles = 2, statsColumn = Some("ts"), sortBy = Seq("ts"),
      maxManifests = 4, keepSnapshots = 2)
    // every dimension healed
    assert(rep.filesRewrite.rewrittenFiles === 12)
    assert(!rep.manifestsRewritten)
    assert(rep.expiredSnapshots.nonEmpty)
    assert(rep.orphansDeleted.exists(_.endsWith("orphan-debris.parquet")))
    assert(!Files.exists(orphan))
    // rows identical, metadata small
    assert(IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq === before)
    assert(IcebergTableReader.manifestsDf(spark, loc).count() <= 2L)
    assert(IcebergTableReader.dataFiles(spark, loc).size === 1)

    // a healthy table: second run rewrites nothing, expires only the
    // maintenance snapshots themselves, deletes no data
    val rep2 = IcebergMaintenance.runMaintenance(spark, loc,
      smallFileThresholdBytes = Long.MaxValue,
      minInputFiles = 2, statsColumn = Some("ts"),
      maxManifests = 4, keepSnapshots = 2)
    assert(rep2.filesRewrite.rewrittenFiles === 0)
    assert(!rep2.manifestsRewritten)
    assert(IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq === before)
    ()
  }
}
