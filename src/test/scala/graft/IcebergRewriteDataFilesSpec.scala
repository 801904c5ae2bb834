package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergSingleValue,
  IcebergTableReader, RestCatalogClient}
import graft.catalog.RestCatalogClient.DataFile

/** Selective data-file compaction (IcebergMaintenance.rewriteDataFiles
  * — Iceberg's rewrite_data_files): ONLY the small files rewrite, per
  * partition tuple; well-sized files and all delete files carry
  * through as EXISTING entries with their original sequence numbers.
  * Rows, merge-on-read ordering, pruning, and time travel must all
  * survive; the sort strategy must turn straddling per-file bounds
  * into disjoint ones. */
class IcebergRewriteDataFilesSpec extends SparkSpec {

  private val Hour = 3600L * 1000000L

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSeq.sorted

  private def writeRows(dir: String, rows: Seq[(Long, Long, String)])
      : Seq[String] = {
    import spark.implicits._
    rows.toDF("id", "ts", "payload")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    listParquet(dir)
  }

  test("bin-pack rewrites only the small files; MOR and time travel survive") {
    import spark.implicits._
    val loc = tempDir("graft-rwf") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    val spec = parse(
      s"""{"fields":[{"name":"ts_hour","transform":"hour",
         |"source-id":${topIds("ts")},"field-id":1000}]}""".stripMargin)
    def commit(paths: Seq[String]): Long = {
      val stats = graft.recovery.Recovery.fileColumnStats(spark, paths, "ts")
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, Some(spec),
        paths.map { p =>
          val bounds = stats.get(p).toSeq.map { case (mn, mx) =>
            (topIds("ts"), IcebergSingleValue.longBytes(mn),
              IcebergSingleValue.longBytes(mx)) }
          DataFile(p, Files.size(Paths.get(p)), counts(p), bounds)
        })
    }
    // hour 0: four small micro-batch files + one big file; hour 1:
    // three small files — the streaming-sink fragmentation shape
    var id = 0L
    def batch(n: Int, hour: Long, pay: String => String): Seq[(Long, Long, String)] = {
      val rows = (0 until n).map(i =>
        (id + i, hour * Hour + (id + i) * 1000L, pay(s"${id + i}")))
      id += n
      rows
    }
    commit(writeRows(s"$loc/data/s0", batch(10, 0, i => s"v$i")))
    commit(writeRows(s"$loc/data/s1", batch(10, 0, i => s"v$i")))
    commit(writeRows(s"$loc/data/s2", batch(10, 0, i => s"v$i")))
    commit(writeRows(s"$loc/data/s3", batch(10, 0, i => s"v$i")))
    // the big file: enough distinct payload bytes to clear any
    // size threshold the small files could reach
    commit(writeRows(s"$loc/data/big",
      batch(5000, 0, i => s"payload-$i-" + ("x" * 40))))
    commit(writeRows(s"$loc/data/s4", batch(10, 1, i => s"v$i")))
    commit(writeRows(s"$loc/data/s5", batch(10, 1, i => s"v$i")))
    commit(writeRows(s"$loc/data/s6", batch(10, 1, i => s"v$i")))

    // merge-on-read state BEFORE the rewrite: one position delete
    // (hits a small hour-0 file) + one equality delete
    assert(IcebergMaintenance.deleteWhere(spark, loc, col("id") === 5L)._2 === 1L)
    assert(IcebergMaintenance.deleteMatching(spark, loc,
      Seq(15L).toDF("id"))._2 === 1L)

    val before = IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq
    assert(before.size === 5068)
    // the partitions metadata table is the fragmentation report an
    // operator reads to decide this rewrite is due
    val fragReport = IcebergTableReader.partitionsDf(spark, loc)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(fragReport === Map("ts_hour=0" -> 5, "ts_hour=1" -> 3))
    val filesBefore = IcebergTableReader.filesDf(spark, loc).collect()
    val bigPath = filesBefore.filter(_.getString(0) == "data")
      .maxBy(_.getAs[Long]("file_size_in_bytes"))
    val bigSeqBefore = bigPath.getAs[Long]("data_sequence_number")
    val preSnap = IcebergTableReader.metadata(spark, loc).currentSnapshotId.get

    val rep = IcebergMaintenance.rewriteDataFiles(spark, loc,
      smallFileThresholdBytes = bigPath.getAs[Long]("file_size_in_bytes"),
      statsColumn = Some("ts"))
    assert(rep.snapshotId > 0)
    assert(rep.rewrittenFiles === 7)   // 4 + 3 small files
    assert(rep.addedFiles === 2)       // one packed file per hour tuple
    assert(rep.keptFiles === 1)        // the big file

    // rows identical (equality + position deletes were applied into
    // the rewrite; kept file untouched)
    val after = IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq
    assert(after === before)

    val filesAfter = IcebergTableReader.filesDf(spark, loc).collect()
    val dataAfter = filesAfter.filter(_.getString(0) == "data")
    assert(dataAfter.length === 3)
    // the big file carried as EXISTING with its ORIGINAL sequence number
    val bigAfter = dataAfter.find(
      _.getAs[String]("file_path") == bigPath.getAs[String]("file_path")).get
    assert(bigAfter.getAs[Long]("data_sequence_number") === bigSeqBefore)
    // the packed files enter at the NEW snapshot's sequence number and
    // carry their partition tuple
    val fresh = dataAfter.filter(
      _.getAs[String]("file_path") != bigPath.getAs[String]("file_path"))
    assert(fresh.forall(_.getAs[Long]("data_sequence_number") >
      bigSeqBefore))
    assert(fresh.map(_.getAs[Map[String, Long]]("partition")("ts_hour"))
      .sorted.toSeq === Seq(0L, 1L))
    // both delete files still carried (they must keep applying to the
    // kept file and to nothing else)
    assert(filesAfter.count(_.getString(0) != "data") === 2)
    // and the fragmentation report shows the bin-pack took
    assert(IcebergTableReader.partitionsDf(spark, loc)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap ===
      Map("ts_hour=0" -> 2, "ts_hour=1" -> 1))

    // partition pruning on the packed files: the hour-1 probe opens
    // exactly the fresh hour-1 file
    val dataPaths = IcebergTableReader.dataFiles(spark, loc)
      .map(_.path).toSet
    val hour1Files = IcebergTableReader
      .readSlice(spark, loc, "ts", Hour, 2 * Hour)
      .inputFiles.toSeq.map(f => new java.net.URI(f).getPath)
      .filter(dataPaths).toSet // MOR also scans the delete files
    assert(hour1Files.size === 1)
    assert(IcebergTableReader.readSlice(spark, loc, "ts", Hour, 2 * Hour)
      .count() === 30L)  // both deletes hit hour-0 rows

    // time travel: the pre-rewrite snapshot still reads through its
    // own manifest list
    assert(IcebergTableReader.read(spark, loc, Some(preSnap))
      .orderBy("id").collect().toSeq === before)

    // a NEW equality delete lands on rewritten and kept files alike
    assert(IcebergMaintenance.deleteMatching(spark, loc,
      Seq(7L, 20L).toDF("id"))._2 === 2L)
    assert(IcebergTableReader.read(spark, loc).count() === before.size - 2L)

    // nothing left under the threshold → no-op report
    val again = IcebergMaintenance.rewriteDataFiles(spark, loc,
      smallFileThresholdBytes = 1L)
    assert(again.snapshotId === -1L)
    assert(again.rewrittenFiles === 0)
    ()
  }

  test("sort strategy turns straddling bounds into disjoint ones") {
    import spark.implicits._
    val loc = tempDir("graft-rwfs") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    def commit(paths: Seq[String]): Long = {
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
    // six files, each spanning the FULL ts range (ids interleaved mod
    // 6): every file straddles every probe window
    val n = 1200
    (0 until 6).foreach { b =>
      val rows = (0 until n).filter(_ % 6 == b)
        .map(i => (i.toLong, i * 1000000L, s"p$i"))
      commit(writeRows(s"$loc/data/b$b", rows))
    }
    val probeLo = 100L * 1000000L
    val probeHi = 110L * 1000000L
    def opened(): Int = IcebergTableReader
      .readSlice(spark, loc, "ts", probeLo, probeHi)
      .inputFiles.length
    assert(opened() === 6) // every file straddles
    val beforeRows = IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq

    val totalBytes = IcebergTableReader.filesDf(spark, loc)
      .agg(sum("file_size_in_bytes")).head.getLong(0)
    val rep = IcebergMaintenance.rewriteDataFiles(spark, loc,
      smallFileThresholdBytes = Long.MaxValue,
      targetFileSizeBytes = math.max(1L, totalBytes / 3),
      statsColumn = Some("ts"), sortBy = Seq("ts"))
    assert(rep.snapshotId > 0)
    assert(rep.rewrittenFiles === 6)
    assert(rep.addedFiles >= 2)

    // per-file ts bounds are now pairwise disjoint…
    val bounds = IcebergTableReader.dataFiles(spark, loc).map { f =>
      (IcebergSingleValue.longOf(f.lowerBounds(topIds("ts"))),
        IcebergSingleValue.longOf(f.upperBounds(topIds("ts"))))
    }.sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2)
      case _ => ()
    }
    // …so the narrow probe opens exactly one file, rows unchanged
    assert(opened() === 1)
    assert(IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq === beforeRows)
    assert(IcebergTableReader.readSlice(spark, loc, "ts", probeLo, probeHi)
      .count() === 10L)
    ()
  }
}
