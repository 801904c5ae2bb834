package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergTableReader,
  RestCatalogClient}

/** Round-16 ADVICE fixes, each pinned by a behavior test:
  *  - rewriteDataFiles must carry bounds for EVERY previously-bounded
  *    column of the input group, not just the one statsColumn;
  *  - expireSnapshots must never physically delete files outside the
  *    table location (adopt-in-place registration of external files);
  *  - the rollup cache must rebuild when base data changes in place
  *    (content fingerprint, not just the path-derived key). */
class Round16AdviceSpec extends SparkSpec {

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSeq.sorted

  private def commitFiles(loc: String, paths: Seq[String],
                          boundCols: Seq[String]): Unit = {
    val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
    val df = spark.read.parquet(paths: _*)
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(df.schema)
    val statsByCol = boundCols.map(c =>
      c -> graft.recovery.Recovery.fileColumnStats(spark, paths, c)).toMap
    IcebergCommit.commitStandalone(
      spark.sparkContext.hadoopConfiguration, loc,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson)),
      None,
      paths.map { p =>
        val bounds = boundCols.flatMap { c =>
          statsByCol(c).get(p).map { case (mn, mx) =>
            (topIds(c), graft.catalog.IcebergSingleValue.longBytes(mn),
              graft.catalog.IcebergSingleValue.longBytes(mx))
          }
        }
        RestCatalogClient.DataFile(p, Files.size(Paths.get(p)),
          counts.getOrElse(p, 0L), bounds)
      })
  }

  test("rewriteDataFiles preserves bounds for every previously-bounded column") {
    import spark.implicits._
    val base = tempDir("graft-rdf-bounds")
    val loc = s"$base/tbl"
    // two small files, both bounded on TWO columns (id and ts)
    val d1 = s"$base/d1"; val d2 = s"$base/d2"
    (0L until 100L).map(i => (i, 1000000L + i)).toDF("id", "ts")
      .coalesce(1).write.parquet(d1)
    (100L until 200L).map(i => (i, 2000000L + i)).toDF("id", "ts")
      .coalesce(1).write.parquet(d2)
    commitFiles(loc, listParquet(d1) ++ listParquet(d2), Seq("id", "ts"))
    val meta = IcebergTableReader.metadata(spark, loc)
    val idF = IcebergTableReader.fieldId(meta, "id")
    val tsF = IcebergTableReader.fieldId(meta, "ts")
    val (before, _) = IcebergTableReader.scanState(spark, loc)
    assert(before.forall(f => f.lowerBounds.contains(idF) &&
      f.lowerBounds.contains(tsF)))

    val report = IcebergMaintenance.rewriteDataFiles(spark, loc,
      smallFileThresholdBytes = Long.MaxValue,
      targetFileSizeBytes = Long.MaxValue, statsColumn = None)
    assert(report.rewrittenFiles === 2)
    val (after, _) = IcebergTableReader.scanState(spark, loc)
    assert(after.nonEmpty)
    after.foreach { f =>
      assert(f.lowerBounds.contains(idF) && f.upperBounds.contains(idF),
        s"${f.path} lost id bounds")
      assert(f.lowerBounds.contains(tsF) && f.upperBounds.contains(tsF),
        s"${f.path} lost ts bounds")
    }
    // and the preserved bounds actually prune: a slice outside the
    // data's ts range opens nothing
    assert(IcebergTableReader.readSlice(spark, loc, "ts", 0L, 10L)
      .count() === 0L)
    assert(IcebergTableReader.readSlice(spark, loc, "ts",
      1000000L, 1000010L).count() === 10L)
  }

  test("expireSnapshots never deletes files outside the table location") {
    import spark.implicits._
    val base = tempDir("graft-expire-guard")
    val loc = s"$base/tbl"
    // external parquet the chain adopts by absolute path, plus an
    // internal one written under the table dir
    val extDir = s"$base/external"
    (0L until 50L).map(i => (i, s"e$i")).toDF("id", "v")
      .coalesce(1).write.parquet(extDir)
    val intDir = s"$loc/data/batch0"
    (50L until 100L).map(i => (i, s"i$i")).toDF("id", "v")
      .coalesce(1).write.parquet(intDir)
    val ext = listParquet(extDir); val int = listParquet(intDir)
    commitFiles(loc, ext ++ int, Nil)
    // compaction supersedes both; expiry then reclaims ONLY the
    // internal superseded file
    IcebergMaintenance.compact(spark, loc)
    val report = IcebergMaintenance.expireSnapshots(spark, loc, keepLast = 1)
    assert(report.expiredSnapshots.nonEmpty)
    assert(ext.forall(p => Files.exists(Paths.get(p))),
      "external (adopted) file was physically deleted by expiry")
    assert(int.forall(p => !Files.exists(Paths.get(p))),
      "internal superseded file should have been reclaimed")
    // the surviving table still reads fully
    assert(IcebergTableReader.read(spark, loc).count() === 100L)
  }

  test("rollup cache rebuilds when base data changes in place") {
    import spark.implicits._
    val sfDir = tempDir("graft-rollup-fp")
    def writeEvents(n: Int): Unit =
      Tables.events(spark, sf).limit(n).write.mode("overwrite")
        .parquet(s"$sfDir/events.parquet")
    writeEvents(200)
    val path1 = graft.telemetry.Rollups.ensureHourlyEvents(spark, sfDir)
    val cnt1 = spark.read.parquet(path1).agg(sum($"cnt")).collect()(0).getLong(0)
    assert(cnt1 === 200L)
    // same content → cached (fingerprint file unchanged)
    val fp1 = Files.readAllBytes(Paths.get(s"$path1/_FINGERPRINT")).toSeq
    graft.telemetry.Rollups.ensureHourlyEvents(spark, sfDir)
    assert(Files.readAllBytes(Paths.get(s"$path1/_FINGERPRINT")).toSeq === fp1)
    // data changes IN PLACE at the same path → rollup must rebuild
    writeEvents(120)
    spark.catalog.refreshByPath(path1)
    val path2 = graft.telemetry.Rollups.ensureHourlyEvents(spark, sfDir)
    assert(path2 === path1)
    val cnt2 = spark.read.parquet(path2).agg(sum($"cnt")).collect()(0).getLong(0)
    assert(cnt2 === 120L, "stale rollup served after in-place change")
  }
}
