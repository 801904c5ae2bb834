package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergSingleValue,
  IcebergTableReader, RestCatalogClient}
import graft.catalog.RestCatalogClient.DataFile

/** Manifest REWRITE (IcebergMaintenance.rewriteManifests — Iceberg's
  * rewrite_manifests): many small streaming-append manifests reorganize
  * into one manifest per spec + one deletes manifest, data untouched,
  * per-entry sequence numbers and adding snapshots preserved as
  * EXISTING entries — merge-on-read ordering, slice pruning, and time
  * travel must all survive byte-identically. */
class IcebergRewriteManifestsSpec extends SparkSpec {

  private val Hour = 3600L * 1000000L

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSeq.sorted

  private def writeBatch(dir: String, ids: Range, tsBase: Long): Seq[String] = {
    import spark.implicits._
    ids.map(i => (i.toLong, tsBase + i * 1000L, s"v$i")).toDF("id", "ts", "payload")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    listParquet(dir)
  }

  test("rewrite collapses manifests; MOR, pruning, and time travel survive") {
    import spark.implicits._
    val loc = tempDir("graft-rwm") + "/t"
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
    // three micro-batch appends → three one-file manifests; then a
    // predicate delete → a fourth (deletes) manifest
    commit(writeBatch(s"$loc/data/b0", 0 until 10, 0L))
    commit(writeBatch(s"$loc/data/b1", 10 until 20, Hour))
    commit(writeBatch(s"$loc/data/b2", 20 until 30, 2 * Hour))
    val (_, nDeleted) =
      IcebergMaintenance.deleteWhere(spark, loc, col("id") === 5L)
    assert(nDeleted === 1L)
    assert(IcebergTableReader.manifestsDf(spark, loc).count() === 4L)

    val before = IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq
    val filesBefore = IcebergTableReader.filesDf(spark, loc)
      .select("file_path", "data_sequence_number", "content")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    val preRewriteSnap = IcebergTableReader.metadata(spark, loc)
      .currentSnapshotId.get

    val rwSnap = IcebergMaintenance.rewriteManifests(spark, loc)
    assert(rwSnap > 0)

    // reorganized: ONE data manifest (existing entries) + ONE deletes
    val mans = IcebergTableReader.manifestsDf(spark, loc).collect()
    assert(mans.length === 2)
    val data = mans.find(_.getAs[Int]("content") === 0).get
    val dels = mans.find(_.getAs[Int]("content") === 1).get
    assert(data.getAs[Int]("added_files_count") === 0)
    assert(data.getAs[Int]("existing_files_count") === 3)
    assert(dels.getAs[Int]("existing_files_count") === 1)
    assert(data.getAs[Long]("min_sequence_number") === 1L)

    // rows identical, the position delete still applies (sequence
    // preservation is what makes strictly-below ordering hold)
    val after = IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq
    assert(after === before)
    assert(after.size === 29)
    // per-file sequence numbers survived byte-identically
    val filesAfter = IcebergTableReader.filesDf(spark, loc)
      .select("file_path", "data_sequence_number", "content")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(filesAfter === filesBefore)
    // slice pruning still works off the rewritten manifest stats
    assert(IcebergTableReader.readSlice(spark, loc, "ts", Hour, 2 * Hour)
      .count() === 10L)
    // time travel to the pre-rewrite snapshot sees the same rows
    assert(IcebergTableReader.read(spark, loc, Some(preRewriteSnap))
      .orderBy("id").collect().toSeq === before)

    // reference Avro reader: the rewritten manifest's entries are
    // EXISTING (status 0) with explicit sequence numbers
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    val rd = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(Files.readAllBytes(
        Paths.get(data.getAs[String]("manifest_path")))),
      new GenericDatumReader[GenericRecord]())
    val entries = try rd.iterator().asScala.toVector finally rd.close()
    assert(entries.forall(_.get("status").asInstanceOf[Int] === 0))
    assert(entries.map(_.get("sequence_number").asInstanceOf[Long]).sorted
      === Vector(1L, 2L, 3L))
    ()
  }

  test("mixed-spec table rewrites into one manifest PER spec") {
    import spark.implicits._
    val loc = tempDir("graft-rwm2") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    val daySpec = parse(
      s"""{"fields":[{"name":"ts_day","transform":"day",
         |"source-id":${topIds("ts")},"field-id":1000}]}""".stripMargin)
    def commit(paths: Seq[String], sp: Option[org.json4s.JValue],
               explicitPart: Seq[Option[Long]]): Long = {
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, sp,
        paths.map(p => DataFile(p, Files.size(Paths.get(p)), counts(p), Nil,
          partition = explicitPart)))
    }
    val Day = 24 * Hour
    // day-spec era (statless, explicit tuples — pruning depends purely
    // on tuples surviving the rewrite), then evolve, then an hour file
    val a = writeBatch(s"$loc/data/a", 0 until 10, 3 * Day)
    commit(a, Some(daySpec), Seq(Some(3L)))
    IcebergMaintenance.updateSpec(spark, loc, "ts", "hourly")
    val b = writeBatch(s"$loc/data/b", 10 until 20, 5 * Day + 2 * Hour)
    commit(b, None, Seq(Some(5L * 24 + 2)))

    assert(IcebergMaintenance.rewriteManifests(spark, loc) > 0)
    val mans = IcebergTableReader.manifestsDf(spark, loc).collect()
    assert(mans.length === 2)
    assert(mans.map(_.getAs[Int]("partition_spec_id")).sorted === Array(0, 1))
    // tuple-only pruning still distinguishes the eras after the rewrite
    def openedBy(startUs: Long, endUs: Long): Set[String] =
      IcebergTableReader.readSlice(spark, loc, "ts", startUs, endUs)
        .inputFiles.toSeq.map(f => new java.net.URI(f).getPath).toSet
    assert(openedBy(3 * Day, 4 * Day) === a.toSet)
    assert(openedBy(5 * Day + 2 * Hour, 5 * Day + 3 * Hour) === b.toSet)
    assert(IcebergTableReader.read(spark, loc).count() === 20L)
    ()
  }
}
