package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.{compact => jcompact, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergSingleValue,
  IcebergTableReader, RestCatalogClient}
import graft.catalog.RestCatalogClient.DataFile

/** Iceberg v2 MERGE-ON-READ + maintenance lifecycle over the
  * catalog-free chain: position-delete commits ([[IcebergMaintenance.deleteWhere]]),
  * equality-delete commits ([[IcebergMaintenance.deleteMatching]]),
  * the reader's sequence-keyed delete application, compaction
  * (REPLACE snapshots), and snapshot expiry with physical reclamation.
  * The write side of what the reference stack leaves to its downstream
  * engine (`/root/reference/internal/iceberg/` commits appends only). */
class IcebergMorSpec extends SparkSpec {

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).toSeq.sorted

  private def writeBatch(dir: String, ids: Range, tsBase: Long): Seq[String] = {
    import spark.implicits._
    ids.map(i => (i.toLong, tsBase + i * 1000L, s"v$i")).toDF("id", "ts", "payload")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    listParquet(dir)
  }

  private def freshTable(prefix: String): (String, String, Map[String, Int]) = {
    import spark.implicits._
    val loc = tempDir(prefix) + "/t"
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    (loc, jcompact(render(schemaJson)), topIds)
  }

  private def commitBatch(loc: String, sj: String, topIds: Map[String, Int],
                          paths: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = graft.recovery.Recovery.fileColumnStats(spark, paths, "ts")
    val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
    IcebergCommit.commitStandalone(conf, loc, sj, None, paths.map { p =>
      val bounds = stats.get(p).toSeq.map { case (mn, mx) =>
        (topIds("ts"), IcebergSingleValue.longBytes(mn),
          IcebergSingleValue.longBytes(mx))
      }
      DataFile(p, Files.size(Paths.get(p)), counts(p), bounds)
    })
  }

  private def liveIds(loc: String, asOf: Option[Long] = None): Set[Long] =
    IcebergTableReader.read(spark, loc, asOf)
      .select("id").collect().map(_.getLong(0)).toSet

  test("position + equality deletes: sequence-keyed MOR application, time travel intact") {
    import spark.implicits._
    val (loc, sj, topIds) = freshTable("graft-mor")
    val b1 = writeBatch(s"$loc/data/b1", 0 until 20, 0L)
    val b2 = writeBatch(s"$loc/data/b2", 20 until 30, 500000L)
    val s1 = commitBatch(loc, sj, topIds, b1)
    val s2 = commitBatch(loc, sj, topIds, b2)
    assert(liveIds(loc) === (0L until 30L).toSet)

    // position delete by predicate: ids 5..9 (all in b1)
    val (s3, nPos) = IcebergMaintenance.deleteWhere(
      spark, loc, col("id").between(5, 9))
    assert(nPos === 5L)
    assert(liveIds(loc) === ((0L until 30L).toSet -- (5L to 9L)))
    // the delete snapshot is on the log with operation=delete
    val ops = IcebergTableReader.snapshots(spark, loc)
      .select("snapshot_id", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(s3) === "delete")
    // delete files visible in scan state, data files untouched
    assert(IcebergTableReader.deleteFiles(spark, loc).map(_.content) === Seq(1))
    assert(IcebergTableReader.dataFiles(spark, loc).map(_.path).toSet ===
      (b1 ++ b2).toSet)

    // equality delete by key frame: ids 20, 21
    val (s4, nEq) = IcebergMaintenance.deleteMatching(
      spark, loc, Seq(20L, 21L).toDF("id"))
    assert(nEq === 2L)
    assert(liveIds(loc) === ((0L until 30L).toSet -- (5L to 9L) -- Seq(20L, 21L)))
    assert(IcebergTableReader.deleteFiles(spark, loc)
      .map(_.content).sorted === Seq(1, 2))

    // STRICT-BELOW equality semantics: a row with a deleted key
    // appended AFTER the delete snapshot lives
    val b3 = writeBatch(s"$loc/data/b3", 20 until 21, 900000L)
    commitBatch(loc, sj, topIds, b3)
    assert(liveIds(loc).contains(20L))
    assert(!liveIds(loc).contains(21L))

    // position deletes only ever hit their (file, pos): id 5 re-added
    // in a new file lives too
    val b4 = writeBatch(s"$loc/data/b4", 5 until 6, 950000L)
    commitBatch(loc, sj, topIds, b4)
    assert(liveIds(loc).contains(5L))

    // time travel: every pre-delete snapshot still sees its full state
    assert(liveIds(loc, Some(s1)) === (0L until 20L).toSet)
    assert(liveIds(loc, Some(s2)) === (0L until 30L).toSet)
    // ...and the delete snapshots see exactly their own application
    assert(liveIds(loc, Some(s3)) === ((0L until 30L).toSet -- (5L to 9L)))
    assert(liveIds(loc, Some(s4)) ===
      ((0L until 30L).toSet -- (5L to 9L) -- Seq(20L, 21L)))

    // bounds-pruned slice still applies deletes: ts of ids 5..9 are
    // 5000..9000 (deleted) — slice over b1's range returns only live
    val sl = IcebergTableReader.readSlice(spark, loc, "ts", 0L, 20000L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sl === ((0L until 20L).toSet -- (5L to 9L)))

    // a predicate matching nothing: no snapshot, no orphan files
    val before = IcebergTableReader.snapshots(spark, loc).count()
    val (sNone, n0) = IcebergMaintenance.deleteWhere(spark, loc, col("id") > 1e9)
    assert(sNone === -1L && n0 === 0L)
    assert(IcebergTableReader.snapshots(spark, loc).count() === before)
  }

  test("compact materializes deletes into a REPLACE snapshot; expiry reclaims bytes") {
    import spark.implicits._
    val (loc, sj, topIds) = freshTable("graft-compact")
    val b1 = writeBatch(s"$loc/data/b1", 0 until 20, 0L)
    val b2 = writeBatch(s"$loc/data/b2", 20 until 30, 500000L)
    val s1 = commitBatch(loc, sj, topIds, b1)
    commitBatch(loc, sj, topIds, b2)
    IcebergMaintenance.deleteWhere(spark, loc, col("id") < 3)
    IcebergMaintenance.deleteMatching(spark, loc, Seq(29L).toDF("id"))
    val expectIds = (3L until 29L).toSet
    assert(liveIds(loc) === expectIds)

    val preCompact = IcebergTableReader.read(spark, loc)
      .select($"id", $"ts", $"payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val (sC, nLive) = IcebergMaintenance.compact(
      spark, loc, statsColumn = Some("ts"))
    assert(nLive === 26L)

    // post-compact: same rows, ONLY fresh files, zero delete files
    val postCompact = IcebergTableReader.read(spark, loc)
      .select($"id", $"ts", $"payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(postCompact === preCompact)
    val (dataNow, delsNow) = IcebergTableReader.scanState(spark, loc)
    assert(delsNow.isEmpty)
    assert(dataNow.forall(_.path.contains("/data/compact-")))
    assert(!dataNow.map(_.path).toSet.exists((b1 ++ b2).toSet))
    // replace snapshot on the log; stats survive compaction (pruning
    // still file-level on the compacted table)
    val ops = IcebergTableReader.snapshots(spark, loc)
      .select("snapshot_id", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(sC) === "replace")
    assert(IcebergTableReader.readSlice(spark, loc, "ts", 0L, 1L).count() === 0L)
    assert(dataNow.head.lowerBounds.nonEmpty)

    // old snapshots still time-travel through their untouched lists
    assert(liveIds(loc, Some(s1)) === (0L until 20L).toSet)

    // EXPIRE all but the compacted head: superseded data files, delete
    // files, manifests and lists are physically reclaimed
    val report = IcebergMaintenance.expireSnapshots(spark, loc, keepLast = 1)
    assert(report.retainedSnapshots === Seq(sC))
    assert(report.expiredSnapshots.nonEmpty)
    assert(report.deletedFiles.nonEmpty)
    assert(!Files.exists(Paths.get(b1.head)))
    assert(!Files.exists(Paths.get(b2.head)))
    // current state unaffected; expired ids no longer resolvable
    assert(liveIds(loc) === expectIds)
    assert(IcebergTableReader.snapshots(spark, loc).count() === 1L)
    intercept[IllegalArgumentException] {
      IcebergTableReader.read(spark, loc, Some(s1)).count()
    }
    // compacted files survive the sweep
    assert(dataNow.forall(f => Files.exists(Paths.get(f.path))))
    // idempotent: nothing left to expire
    val again = IcebergMaintenance.expireSnapshots(spark, loc, keepLast = 1)
    assert(again.expiredSnapshots.isEmpty && again.deletedFiles.isEmpty)
  }

  test("upsert: equality-delete + append in ONE snapshot (MERGE semantics)") {
    import spark.implicits._
    val (loc, sj, topIds) = freshTable("graft-upsert")
    val b1 = writeBatch(s"$loc/data/b1", 0 until 20, 0L)
    val s1 = commitBatch(loc, sj, topIds, b1)
    assert(liveIds(loc) === (0L until 20L).toSet)

    def payloads(asOf: Option[Long] = None): Map[Long, String] =
      IcebergTableReader.read(spark, loc, asOf)
        .select($"id", $"payload").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    // updates 15..19, inserts 20..24 — one commit, one snapshot
    val before = IcebergTableReader.snapshots(spark, loc).count()
    val updates = (15 until 25)
      .map(i => (i.toLong, 700000L + i * 1000L, s"u$i"))
      .toDF("id", "ts", "payload")
    val (s2, n) = IcebergMaintenance.upsert(
      spark, loc, updates, keyCols = Seq("id"), statsColumn = Some("ts"))
    assert(n === 10L)
    assert(IcebergTableReader.snapshots(spark, loc).count() === before + 1)
    val ops = IcebergTableReader.snapshots(spark, loc)
      .select("snapshot_id", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(s2) === "overwrite")

    // merged state: old rows 0..14 keep v-payloads, 15..19 updated,
    // 20..24 inserted — exactly once each (the old 15..19 are retired)
    val now = payloads()
    assert(now.keySet === (0L until 25L).toSet)
    assert((0L until 15L).forall(i => now(i) == s"v$i"))
    assert((15L until 25L).forall(i => now(i) == s"u$i"))
    assert(IcebergTableReader.read(spark, loc).count() === 25L)

    // scan state: one equality-delete file, data files = b1 + upsert
    val (dataNow, delsNow) = IcebergTableReader.scanState(spark, loc)
    assert(delsNow.map(_.content) === Seq(2))
    assert(dataNow.exists(_.path.contains("/data/upsert-")))

    // time travel: the pre-upsert snapshot still sees the v-payloads
    assert(payloads(Some(s1)) === (0L until 20L).map(i => i -> s"v$i").toMap)

    // second upsert over an already-upserted key: latest wins
    val (s3, _) = IcebergMaintenance.upsert(
      spark, loc, Seq((15L, 990000L, "w15")).toDF("id", "ts", "payload"),
      keyCols = Seq("id"))
    assert(payloads()(15L) === "w15")
    assert(payloads(Some(s2))(15L) === "u15")
    assert(IcebergTableReader.read(spark, loc).count() === 25L)

    // slice pruning covers the upsert files (ts bounds harvested)
    val sl = IcebergTableReader.readSlice(spark, loc, "ts", 700000L, 800000L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sl === (16L until 25L).toSet) // 15's u-row was re-upserted away

    // empty updates: no snapshot, no orphan dir
    val preCount = IcebergTableReader.snapshots(spark, loc).count()
    val (sNone, n0) = IcebergMaintenance.upsert(spark, loc,
      updates.filter($"id" > 1e9), keyCols = Seq("id"))
    assert(sNone === -1L && n0 === 0L)
    assert(IcebergTableReader.snapshots(spark, loc).count() === preCount)

    // compaction folds the MOR state; rows identical
    val preCompact = payloads()
    IcebergMaintenance.compact(spark, loc, statsColumn = Some("ts"))
    assert(payloads() === preCompact)
    assert(IcebergTableReader.scanState(spark, loc)._2.isEmpty)
    assert(s3 > 0)
    ()
  }

  test("removeOrphanFiles reclaims crashed-write debris, honors the grace window") {
    import spark.implicits._
    val (loc, sj, topIds) = freshTable("graft-orphan")
    val b1 = writeBatch(s"$loc/data/b1", 0 until 10, 0L)
    commitBatch(loc, sj, topIds, b1)
    val preState = liveIds(loc)

    // a crashed upsert: data files landed, no snapshot ever committed
    val crashed = writeBatch(s"$loc/data/upsert-crashed", 90 until 95, 0L)
    // ...and a stray manifest
    Files.write(Paths.get(s"$loc/metadata/graft-m-999.avro"),
      Array[Byte](1, 2, 3))

    // inside the grace window nothing is touched, debris is reported
    val early = IcebergMaintenance.removeOrphanFiles(spark, loc,
      olderThanMs = 0L)
    assert(early.deleted.isEmpty)
    assert(early.kept.exists(_.contains("upsert-crashed")))
    assert(Files.exists(Paths.get(crashed.head)))

    // past the grace window the debris goes; the table is intact
    val report = IcebergMaintenance.removeOrphanFiles(spark, loc,
      olderThanMs = System.currentTimeMillis() + 60000)
    assert(report.deleted.exists(_.contains("upsert-crashed")))
    assert(report.deleted.exists(_.contains("graft-m-999.avro")))
    assert(!Files.exists(Paths.get(crashed.head)))
    assert(b1.forall(p => Files.exists(Paths.get(p))))
    assert(liveIds(loc) === preState)
    // the metadata chain is never swept
    assert(Files.exists(Paths.get(s"$loc/metadata/version-hint.text")))
    ()
  }

  test("readChangelog: net row-level inserts/deletes between snapshots") {
    import spark.implicits._
    val (loc, sj, topIds) = freshTable("graft-cdc")
    val s1 = commitBatch(loc, sj, topIds, writeBatch(s"$loc/data/b1", 0 until 10, 0L))
    val s2 = commitBatch(loc, sj, topIds, writeBatch(s"$loc/data/b2", 10 until 15, 500000L))

    def changes(from: Option[Long], to: Option[Long] = None)
        : Map[(Long, String), Long] =
      IcebergTableReader.readChangelog(spark, loc, from, to)
        .select($"id", $"_change_type", $"_change_snapshot_id").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    // from table creation: pure inserts, attributed to their appends
    val c0 = changes(None)
    assert(c0.size === 15 && c0.keys.forall(_._2 == "insert"))
    assert(c0((0L, "insert")) === s1 && c0((12L, "insert")) === s2)

    // a position-delete and an equality-delete commit in the window
    val (s3, _) = IcebergMaintenance.deleteWhere(spark, loc, col("id").isin(3, 4))
    val (s4, _) = IcebergMaintenance.deleteMatching(spark, loc, Seq(10L).toDF("id"))
    val c1 = changes(Some(s2))
    assert(c1 === Map((3L, "delete") -> s3, (4L, "delete") -> s3,
      (10L, "delete") -> s4))

    // window spanning an append AND the deletes: b2's still-live rows
    // insert, b1's killed rows delete; 10 (inserted+deleted inside the
    // window) nets out of the inserts
    val c2 = changes(Some(s1))
    assert(c2 === Map(
      (11L, "insert") -> s2, (12L, "insert") -> s2,
      (13L, "insert") -> s2, (14L, "insert") -> s2,
      (3L, "delete") -> s3, (4L, "delete") -> s3))

    // insert-then-delete entirely inside the window: net zero
    val s5 = commitBatch(loc, sj, topIds, writeBatch(s"$loc/data/b3", 20 until 21, 900000L))
    IcebergMaintenance.deleteMatching(spark, loc, Seq(20L).toDF("id"))
    assert(changes(Some(s4)).isEmpty)
    assert(s5 > 0)

    // upsert shows as delete(old row) + insert(new row)
    val upd = Seq((8L, 990000L, "u8"), (30L, 991000L, "v30"))
      .toDF("id", "ts", "payload")
    val (s7, _) = IcebergMaintenance.upsert(spark, loc, upd, Seq("id"))
    val c3 = changes(Some(s5))
    assert(c3.keySet === Set((8L, "insert"), (30L, "insert"),
      (8L, "delete"), (20L, "delete")))
    assert(c3((8L, "insert")) === s7 && c3((8L, "delete")) === s7)
    val c3payload = IcebergTableReader.readChangelog(spark, loc, Some(s5))
      .select($"id", $"payload", $"_change_type").collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getString(1)).toMap
    assert(c3payload((8L, "insert")) === "u8")
    assert(c3payload((8L, "delete")) === "v8")

    // compaction draws a hard boundary
    val (s8, _) = IcebergMaintenance.compact(spark, loc)
    intercept[IllegalArgumentException] {
      IcebergTableReader.readChangelog(spark, loc, Some(s7)).count()
    }
    // ...but a window starting AT it works
    val s9 = commitBatch(loc, sj, topIds, writeBatch(s"$loc/data/b4", 40 until 42, 995000L))
    assert(changes(Some(s8)) ===
      Map((40L, "insert") -> s9, (41L, "insert") -> s9))
    ()
  }

  test("delete commits round-trip the REFERENCE Avro reader (delete manifest + carried list)") {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val (loc, sj, topIds) = freshTable("graft-mor-avro")
    val b1 = writeBatch(s"$loc/data/b1", 0 until 10, 0L)
    commitBatch(loc, sj, topIds, b1)
    val (s2, _) = IcebergMaintenance.deleteMatching(
      spark, loc, Seq(3L).toDF("id"))
    val meta = IcebergTableReader.metadata(spark, loc)
    val head = meta.snapshots.find(_.snapshotId == s2).get
    def avroRecords(path: String): Seq[GenericRecord] = {
      val rd = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(Files.readAllBytes(Paths.get(path))),
        new GenericDatumReader[GenericRecord]())
      try rd.iterator().asScala.toVector finally rd.close()
    }
    // list: one DELETES manifest (content=1) + the carried data manifest
    val listRecs = avroRecords(head.manifestList)
    assert(listRecs.map(_.get("content").asInstanceOf[Int]).sorted === Seq(0, 1))
    val delManifest = listRecs
      .find(_.get("content").asInstanceOf[Int] == 1).get
    assert(delManifest.get("sequence_number").asInstanceOf[Long] ===
      head.sequenceNumber)
    // the delete manifest's entry: content=2, explicit sequence
    // numbers, equality_ids carrying the id field
    val entry = avroRecords(delManifest.get("manifest_path").toString).head
    assert(entry.get("sequence_number").asInstanceOf[Long] === head.sequenceNumber)
    val df0 = entry.get("data_file").asInstanceOf[GenericRecord]
    assert(df0.get("content").asInstanceOf[Int] === 2)
    assert(df0.get("equality_ids").asInstanceOf[java.util.Collection[Int]]
      .asScala.toSeq === Seq(topIds("id")))
    ()
  }
}
