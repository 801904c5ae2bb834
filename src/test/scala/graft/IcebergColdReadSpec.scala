package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.catalog.{IcebergSingleValue, IcebergTableMetadata, IcebergTableReader,
  RestCatalogClient}
import graft.catalog.RestCatalogClient.{CatalogAuth, DataFile, Settings}

/** Iceberg table-format COLD READ: a table committed through the REST
  * client re-opens from its warehouse DIRECTORY alone — catalog gone —
  * row-identical, snapshot time travel included, time slices pruned
  * from manifest-entry bounds without opening non-matching files, and
  * the written metadata still byte-round-trips the reference Avro
  * implementation. This is the interop contract: any stand-alone
  * Iceberg reader starts from `version-hint.text` / `vN.metadata.json`
  * exactly like [[graft.catalog.IcebergTableReader]] does. */
class IcebergColdReadSpec extends SparkSpec {

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).toSeq.sorted

  private def writeBatch(dir: String, ids: Range, tsBase: Long): Seq[String] = {
    import spark.implicits._
    ids.map(i => (i.toLong, tsBase + i * 1000L, s"v$i")).toDF("id", "ts", "payload")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    listParquet(dir)
  }

  private def appendWithBounds(client: RestCatalogClient, ns: String,
                               tbl: String, paths: Seq[String]): Unit = {
    val sp = spark
    val counts = graft.recovery.Recovery.fileRowCounts(sp, paths)
    val stats = graft.recovery.Recovery.fileColumnStats(sp, paths, "ts")
    val fid = client.loadTable(ns, tbl)
      .flatMap(ti => RestCatalogClient.fieldIdOf(ti.schemaJson, "ts")).get
    client.appendDataFiles(ns, tbl, paths.map { p =>
      val (mn, mx) = stats(p)
      DataFile(p, Files.size(Paths.get(p)), counts(p),
        Seq((fid, IcebergSingleValue.longBytes(mn),
          IcebergSingleValue.longBytes(mx))))
    })
  }

  test("cold re-open: row-identical, time travel, bounds pruning, avro interop") {
    import spark.implicits._
    val warehouse = tempDir("graft-cold")
    val fake = new FakeRestCatalog
    fake.warehouseDir = warehouse
    val client = new RestCatalogClient(
      Settings(fake.uri, warehouse, CatalogAuth(token = "tok-0")))
    val ns = "colddb"; val tbl = "events"
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    client.ensureNamespace(ns)
    client.ensureTable(ns, tbl, schema)
    val loc = client.loadTable(ns, tbl).get.location

    // two appends with DISJOINT ts ranges (micros-scale longs)
    val b1 = writeBatch(s"$loc/data/b1", 0 until 500, 1000000L)
    val b2 = writeBatch(s"$loc/data/b2", 500 until 800, 900000000L)
    appendWithBounds(client, ns, tbl, b1)
    appendWithBounds(client, ns, tbl, b2)

    // catalog GONE — everything below is directory-only
    fake.stop()

    // chain: v1 (create) + v2 + v3 (appends), hint points at the head
    assert(new String(Files.readAllBytes(
      Paths.get(s"$loc/metadata/version-hint.text")), "UTF-8").trim === "3")
    val meta = IcebergTableReader.metadata(spark, loc)
    assert(meta.snapshots.size === 2)
    assert(meta.tableUuid.nonEmpty)
    val Seq(s1, s2) = meta.snapshots.sortBy(_.sequenceNumber)
    assert(s2.parentId === Some(s1.snapshotId))
    assert(meta.currentSnapshotId === Some(s2.snapshotId))

    // current snapshot: both batches, row-identical
    val cold = IcebergTableReader.read(spark, loc)
      .select($"id", $"ts", $"payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expected = ((0 until 500).map(i => (i.toLong, 1000000L + i * 1000L, s"v$i")) ++
      (500 until 800).map(i => (i.toLong, 900000000L + i * 1000L, s"v$i"))).toSet
    assert(cold === expected)

    // time travel: snapshot 1 sees ONLY batch 1
    val atS1 = IcebergTableReader.read(spark, loc, Some(s1.snapshotId))
      .agg(count(lit(1)), min($"id"), max($"id")).collect()(0)
    assert((atS1.getLong(0), atS1.getLong(1), atS1.getLong(2)) === ((500L, 0L, 499L)))

    // the CURRENT snapshot's manifest list carries BOTH manifests
    // (Iceberg carry-forward append) — a single-snapshot reader sees
    // the whole table
    assert(IcebergTableReader.dataFiles(spark, loc).map(_.path).toSet ===
      (b1 ++ b2).toSet)
    assert(IcebergTableReader.dataFiles(spark, loc, Some(s1.snapshotId))
      .map(_.path).toSet === b1.toSet)

    // bounds pruning: a slice inside batch 1's ts range must OPEN only
    // batch 1's file (inputFiles proves file-level pruning, not just a
    // row filter)
    val sliced = IcebergTableReader.readSlice(spark, loc, "ts",
      startUs = 1000000L, endUs = 2000000L)
    assert(sliced.inputFiles.toSeq.map(f => new java.net.URI(f).getPath).toSet
      .subsetOf(b1.toSet), sliced.inputFiles.mkString(", "))
    assert(sliced.count() === 500L) // all of batch 1 (ts 1000000..1499000)
    // a narrower slice also row-filters within the file
    assert(IcebergTableReader.readSlice(spark, loc, "ts",
      startUs = 1000000L, endUs = 1010000L).count() === 10L)
    ()
  }

  test("hint loss recovers via max-vN; snapshot log DataFrame is queryable") {
    import spark.implicits._
    val warehouse = tempDir("graft-cold2")
    val fake = new FakeRestCatalog
    fake.warehouseDir = warehouse
    val client = new RestCatalogClient(
      Settings(fake.uri, warehouse, CatalogAuth(token = "tok-0")))
    val ns = "colddb2"; val tbl = "t"
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    client.ensureNamespace(ns)
    client.ensureTable(ns, tbl, schema)
    val loc = client.loadTable(ns, tbl).get.location
    val b1 = writeBatch(s"$loc/data/b1", 0 until 10, 0L)
    appendWithBounds(client, ns, tbl, b1)
    fake.stop()
    Files.delete(Paths.get(s"$loc/metadata/version-hint.text"))
    assert(IcebergTableReader.read(spark, loc).count() === 10L)
    val log = IcebergTableReader.snapshots(spark, loc)
    assert(log.count() === 1L)
    assert(log.select($"operation").collect()(0).getString(0) === "append")
  }

  test("catalog-FREE standalone commit: chain + manifests only, cold-readable") {
    import spark.implicits._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val loc = tempDir("graft-standalone") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    val b1 = writeBatch(s"$loc/data/b1", 0 until 20, 0L)
    val b2 = writeBatch(s"$loc/data/b2", 20 until 30, 500000L)
    def commit(paths: Seq[String]): Long = {
      val stats = graft.recovery.Recovery.fileColumnStats(spark, paths, "ts")
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      graft.catalog.IcebergCommit.commitStandalone(conf, loc, sj, None,
        paths.map { p =>
          val bounds = stats.get(p).toSeq.map { case (mn, mx) =>
            (topIds("ts"), IcebergSingleValue.longBytes(mn),
              IcebergSingleValue.longBytes(mx))
          }
          DataFile(p, Files.size(Paths.get(p)), counts(p), bounds)
        })
    }
    val s1 = commit(b1)
    val s2 = commit(b2)
    val meta = IcebergTableReader.metadata(spark, loc)
    assert(meta.snapshots.map(_.snapshotId) === Seq(s1, s2))
    assert(meta.snapshots(1).parentId === Some(s1))
    assert(IcebergTableReader.read(spark, loc).count() === 30L)
    assert(IcebergTableReader.read(spark, loc, Some(s1)).count() === 20L)
    // pruning works through the standalone chain too
    val sliced = IcebergTableReader.readSlice(spark, loc, "ts", 500000L, 600000L)
    assert(sliced.inputFiles.toSeq.map(f => new java.net.URI(f).getPath).toSet
      .subsetOf(b2.toSet))
    assert(sliced.count() === 10L)
    // incremental: exactly the rows added AFTER snapshot 1
    val inc = IcebergTableReader.readIncremental(spark, loc, s1)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(inc === (20 until 30).map(_.toLong).toSet)
    assert(IcebergTableReader.readIncremental(spark, loc, s2).count() === 0L)
  }

  test("FOREIGN-written table reads cold: reference-Avro manifests, reordered fields, deflate, map bounds") {
    import org.apache.avro.{Schema => ASchema}
    import org.apache.avro.file.{CodecFactory, DataFileWriter}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import scala.jdk.CollectionConverters._
    // a table directory as ANOTHER engine would lay it down: manifests
    // written by org.apache.avro with field order unlike ours, deflate
    // codec, bounds as a REAL Avro map keyed by stringified field ids,
    // extra fields we never write — plus a hand-written metadata.json.
    val loc = tempDir("graft-foreign") + "/t"
    val dataFiles = writeBatch(s"$loc/data/b1", 0 until 25, 7000L)
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    val stats = graft.recovery.Recovery.fileColumnStats(spark, dataFiles, "ts")

    val entrySchema = new ASchema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"df","fields":[
        | {"name":"file_format","type":"string"},
        | {"name":"file_path","type":"string"},
        | {"name":"record_count","type":"long"},
        | {"name":"upper_bounds","type":["null",{"type":"map","values":"bytes"}],"default":null},
        | {"name":"lower_bounds","type":["null",{"type":"map","values":"bytes"}],"default":null},
        | {"name":"file_size_in_bytes","type":"long"},
        | {"name":"column_sizes","type":["null",{"type":"map","values":"long"}],"default":null},
        | {"name":"content","type":"int"}]}},
        |{"name":"status","type":"int"}]}""".stripMargin)
    def avroBytes(schema: ASchema, recs: Seq[GenericRecord]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.setCodec(CodecFactory.deflateCodec(6))
      w.create(schema, out)
      recs.foreach(w.append)
      w.close()
      out.toByteArray
    }
    // ts is field id 2 in the hand-written schema below
    val entries = dataFiles.map { p =>
      val e = new GenericData.Record(entrySchema)
      val dfr = new GenericData.Record(entrySchema.getField("data_file").schema())
      val (mn, mx) = stats(p)
      dfr.put("file_format", "PARQUET")
      dfr.put("file_path", p)
      dfr.put("record_count", 25L: java.lang.Long)
      dfr.put("file_size_in_bytes", Files.size(Paths.get(p)): java.lang.Long)
      dfr.put("content", 0: java.lang.Integer)
      dfr.put("lower_bounds", Map(
        "2" -> java.nio.ByteBuffer.wrap(IcebergSingleValue.longBytes(mn))).asJava)
      dfr.put("upper_bounds", Map(
        "2" -> java.nio.ByteBuffer.wrap(IcebergSingleValue.longBytes(mx))).asJava)
      e.put("snapshot_id", 42L: java.lang.Long)
      e.put("data_file", dfr)
      e.put("status", 1: java.lang.Integer)
      e: GenericRecord
    }
    Files.write(Paths.get(s"$loc/metadata/foreign-m0.avro"),
      avroBytes(entrySchema, entries))

    val listSchema = new ASchema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"added_snapshot_id","type":"long"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"manifest_path","type":"string"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"min_sequence_number","type":"long"},
        |{"name":"content","type":"int"}]}""".stripMargin)
    val lr = new GenericData.Record(listSchema)
    lr.put("added_snapshot_id", 42L: java.lang.Long)
    lr.put("manifest_length",
      Files.size(Paths.get(s"$loc/metadata/foreign-m0.avro")): java.lang.Long)
    lr.put("manifest_path", s"$loc/metadata/foreign-m0.avro")
    lr.put("sequence_number", 1L: java.lang.Long)
    lr.put("min_sequence_number", 1L: java.lang.Long)
    lr.put("content", 0: java.lang.Integer)
    Files.write(Paths.get(s"$loc/metadata/snap-42.avro"),
      avroBytes(listSchema, Seq(lr)))

    Files.write(Paths.get(s"$loc/metadata/v1.metadata.json"),
      (s"""{"format-version":2,"table-uuid":"foreign-uuid","location":"$loc",
         |"last-sequence-number":1,"last-updated-ms":1,"last-column-id":3,
         |"current-schema-id":0,"schemas":[{"type":"struct","schema-id":0,
         |"fields":[{"id":1,"name":"id","required":true,"type":"long"},
         |{"id":2,"name":"ts","required":true,"type":"long"},
         |{"id":3,"name":"payload","required":false,"type":"string"}]}],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
         |"current-snapshot-id":42,
         |"snapshots":[{"snapshot-id":42,"sequence-number":1,
         |"timestamp-ms":1,"manifest-list":"$loc/metadata/snap-42.avro",
         |"summary":{"operation":"append"}}]}""".stripMargin.replace("\n", ""))
        .getBytes("UTF-8"))
    Files.write(Paths.get(s"$loc/metadata/version-hint.text"), "1".getBytes("UTF-8"))

    assert(IcebergTableReader.read(spark, loc).count() === 25L)
    val fe = IcebergTableReader.dataFiles(spark, loc)
    assert(fe.map(_.path).toSet === dataFiles.toSet)
    // map-typed bounds decoded through the foreign representation
    assert(fe.head.lowerBounds.contains(2))
    // ts = 7000 + id*1000 → ids 0..9 in [7000, 17000)
    assert(IcebergTableReader.readSlice(spark, loc, "ts", 7000L, 17000L)
      .count() === 10L)
    // a slice entirely outside the bounds prunes EVERYTHING (file-level)
    assert(IcebergTableReader.readSlice(spark, loc, "ts", 1L, 2L).count() === 0L)

    // a FOREIGN-written DELETE manifest (content=1, position-delete
    // parquet, entry sequence number INHERITED from the list entry)
    // applies on read — merge-on-read across engines
    import spark.implicits._
    (0L until 10L).map(p => (dataFiles.head, p))
      .toDF("file_path", "pos")
      .coalesce(1).write.parquet(s"$loc/deletes/d0")
    val delParquet = Files.list(Paths.get(s"$loc/deletes/d0")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    val delEntry = new GenericData.Record(entrySchema)
    val delFile = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    delFile.put("file_format", "PARQUET")
    delFile.put("file_path", delParquet)
    delFile.put("record_count", 10L: java.lang.Long)
    delFile.put("file_size_in_bytes", Files.size(Paths.get(delParquet)): java.lang.Long)
    delFile.put("content", 1: java.lang.Integer) // position deletes
    delEntry.put("snapshot_id", 43L: java.lang.Long)
    delEntry.put("data_file", delFile)
    delEntry.put("status", 1: java.lang.Integer)
    Files.write(Paths.get(s"$loc/metadata/foreign-d0.avro"),
      avroBytes(entrySchema, Seq(delEntry)))
    val dl = new GenericData.Record(listSchema)
    dl.put("added_snapshot_id", 43L: java.lang.Long)
    dl.put("manifest_length",
      Files.size(Paths.get(s"$loc/metadata/foreign-d0.avro")): java.lang.Long)
    dl.put("manifest_path", s"$loc/metadata/foreign-d0.avro")
    dl.put("sequence_number", 2L: java.lang.Long)
    dl.put("min_sequence_number", 2L: java.lang.Long)
    dl.put("content", 1: java.lang.Integer) // DELETES
    Files.write(Paths.get(s"$loc/metadata/snap-42.avro"),
      avroBytes(listSchema, Seq(lr, dl)))
    // ids 0..9 (positions 0..9 of the single ordered data file) die;
    // the delete files surface in scanState with the inherited seq
    assert(IcebergTableReader.read(spark, loc)
      .select($"id").collect().map(_.getLong(0)).toSet ===
      (10L until 25L).toSet)
    val dels = IcebergTableReader.deleteFiles(spark, loc)
    assert(dels.map(d => (d.content, d.sequenceNumber)) === Seq((1, 2L)))
    // pruned slices apply them too: ts = 7000 + id*1000, ids 0..9 are
    // all inside [7000, 17000) and all deleted
    assert(IcebergTableReader.readSlice(spark, loc, "ts", 7000L, 17000L)
      .count() === 0L)
  }

  test("written manifests + carry-forward list round-trip the reference Avro reader") {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    val warehouse = tempDir("graft-cold3")
    val fake = new FakeRestCatalog
    fake.warehouseDir = warehouse
    val client = new RestCatalogClient(
      Settings(fake.uri, warehouse, CatalogAuth(token = "tok-0")))
    import spark.implicits._
    val ns = "colddb3"; val tbl = "t"
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    client.ensureNamespace(ns)
    client.ensureTable(ns, tbl, schema)
    val loc = client.loadTable(ns, tbl).get.location
    appendWithBounds(client, ns, tbl, writeBatch(s"$loc/data/b1", 0 until 5, 0L))
    appendWithBounds(client, ns, tbl, writeBatch(s"$loc/data/b2", 5 until 9, 99000L))
    fake.stop()
    val meta = IcebergTableReader.metadata(spark, loc)
    val head = meta.snapshots.maxBy(_.sequenceNumber)
    def avroRecords(path: String): Seq[GenericRecord] = {
      val rd = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(Files.readAllBytes(Paths.get(path))),
        new GenericDatumReader[GenericRecord]())
      try rd.iterator().asScala.toVector finally rd.close()
    }
    // reference reader on the carry-forward manifest LIST: both
    // manifests present, sequence numbers distinct and preserved
    val listRecs = avroRecords(head.manifestList)
    assert(listRecs.size === 2)
    assert(listRecs.map(_.get("sequence_number").asInstanceOf[Long]).toSet.size === 2)
    // reference reader on a manifest: bounds maps decode and the long
    // round-trips through the single-value serialization
    val mPath = listRecs.map(_.get("manifest_path").toString)
      .find(_.contains(s"graft-m-${head.snapshotId}")).get
    val entry = avroRecords(mPath).head
    val df0 = entry.get("data_file").asInstanceOf[GenericRecord]
    val lower = df0.get("lower_bounds")
    assert(lower != null, "lower_bounds must be written")
    val kv = lower.asInstanceOf[java.util.Collection[GenericRecord]]
      .asScala.head
    val bytes = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
    val arr = new Array[Byte](bytes.remaining()); bytes.duplicate().get(arr)
    // head append wrote ids 5..8 with ts = 99000 + id*1000 → min 104000
    assert(IcebergSingleValue.longOf(arr) === 104000L)
    ()
  }

  test("partition tuples: derived from stats, transform-aware pruning, reference-readable") {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    import spark.implicits._
    val loc = tempDir("graft-part") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    // the reference's hourly spec (partition.go:74-97): hour(ts)
    val spec = parse(
      s"""{"spec-id":0,"fields":[{"name":"ts_hour","transform":"hour",
         |"source-id":${topIds("ts")},"field-id":1000}]}""".stripMargin)
    val MicrosPerHour = 3600L * 1000000L

    def commit(paths: Seq[String], withBounds: Boolean,
               explicitPart: Seq[Option[Long]] = Nil): Long = {
      val stats = graft.recovery.Recovery.fileColumnStats(spark, paths, "ts")
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      graft.catalog.IcebergCommit.commitStandalone(conf, loc, sj, Some(spec),
        paths.map { p =>
          val bounds = if (!withBounds) Nil else stats.get(p).toSeq.map {
            case (mn, mx) => (topIds("ts"), IcebergSingleValue.longBytes(mn),
              IcebergSingleValue.longBytes(mx))
          }
          DataFile(p, Files.size(Paths.get(p)), counts(p), bounds,
            partition = explicitPart)
        })
    }
    // b1 lands in hour 0, b2 in hour 5 — tuples DERIVED from stats
    val b1 = writeBatch(s"$loc/data/b1", 0 until 20, 0L)
    val b2 = writeBatch(s"$loc/data/b2", 20 until 30, 5L * MicrosPerHour)
    commit(b1, withBounds = true)
    val s2 = commit(b2, withBounds = true)
    // b3 in hour 9: EXPLICIT tuple, NO column stats — any pruning of
    // b3 can only come from the partition tuple
    val b3 = writeBatch(s"$loc/data/b3", 30 until 35, 9L * MicrosPerHour)
    commit(b3, withBounds = false, explicitPart = Seq(Some(9L)))
    // b4 STRADDLES hours 0/1 (ids 35..54 → ts 3599990000..3600009000)
    // → null tuple, never partition-pruned; stats still slice it
    val b4 = writeBatch(s"$loc/data/b4", 35 until 55, MicrosPerHour - 45000L)
    commit(b4, withBounds = true)

    // the reader surfaces the tuples
    val byPath = IcebergTableReader.dataFiles(spark, loc)
      .map(f => f.path -> f.partition).toMap
    assert(byPath(b1.head) === Map("ts_hour" -> 0L))
    assert(byPath(b2.head) === Map("ts_hour" -> 5L))
    assert(byPath(b3.head) === Map("ts_hour" -> 9L))
    assert(byPath(b4.head) === Map.empty)

    def openedBy(startUs: Long, endUs: Long): Set[String] =
      IcebergTableReader.readSlice(spark, loc, "ts", startUs, endUs)
        .inputFiles.toSeq.map(f => new java.net.URI(f).getPath).toSet
    // hour-0 slice: b1 (stats+tuple) and b4 (null tuple, stats keep) —
    // b3 has NO stats, so its exclusion proves TUPLE pruning
    assert(openedBy(0L, 20000L) === b1.toSet)
    assert(openedBy(0L, MicrosPerHour) === (b1 ++ b4).toSet)
    // hour-9 slice: tuple matches, statless file opens
    assert(openedBy(9L * MicrosPerHour, 10L * MicrosPerHour) === b3.toSet)
    assert(IcebergTableReader.readSlice(
      spark, loc, "ts", 9L * MicrosPerHour, 10L * MicrosPerHour)
      .count() === 5L)
    // hour-3 slice: nothing
    assert(openedBy(3L * MicrosPerHour, 4L * MicrosPerHour) === Set.empty[String])
    // row totals survive the tuple plumbing
    assert(IcebergTableReader.read(spark, loc).count() === 55L)

    // REFERENCE Avro reader: b2's manifest carries a real r102 tuple
    // (ts_hour=5 int) and declares the spec fields in its metadata
    val meta = IcebergTableReader.metadata(spark, loc)
    val head2 = meta.snapshots.find(_.snapshotId == s2).get
    def avroFile(path: String) = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(Files.readAllBytes(Paths.get(path))),
      new GenericDatumReader[GenericRecord]())
    val listRd = avroFile(head2.manifestList)
    val mPath = try listRd.iterator().asScala.map(_.get("manifest_path").toString)
      .find(_.contains(s"graft-m-$s2")).get finally listRd.close()
    val mRd = avroFile(mPath)
    val (entry, specMeta) = try {
      (mRd.iterator().asScala.next(), mRd.getMetaString("partition-spec"))
    } finally mRd.close()
    val tuple = entry.get("data_file").asInstanceOf[GenericRecord]
      .get("partition").asInstanceOf[GenericRecord]
    assert(tuple.get("ts_hour").asInstanceOf[Int] === 5)
    val fields = graft.catalog.IcebergPartitioning.fieldsOf(
      org.json4s.JObject("fields" -> parse(specMeta)))
    assert(fields.map(f => (f.name, f.transform, f.sourceId)) ===
      Seq(("ts_hour", "hour", topIds("ts"))))
    ()
  }

  test("schema evolution: add/drop columns, schema-id history, name-mapping reads") {
    import spark.implicits._
    import org.json4s.jackson.JsonMethods.{compact => jc, render => jr}
    val loc = tempDir("graft-evolve") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    def commitFrame(df: org.apache.spark.sql.DataFrame, dir: String): Long = {
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val paths = listParquet(dir)
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      val (sj, _) = RestCatalogClient.icebergSchemaJson(df.schema)
      graft.catalog.IcebergCommit.commitStandalone(conf, loc, jc(jr(sj)),
        None, paths.map(p =>
          DataFile(p, Files.size(Paths.get(p)), counts(p), Nil)))
    }
    commitFrame(Seq((1L, 10L, "a1"), (2L, 20L, "a2"))
      .toDF("id", "ts", "payload"), s"$loc/data/b1")

    // ADD a column: pre-evolution files null-fill it
    commitFrame(Seq((3L, 30L, "b3", 0.5), (4L, 40L, "b4", 0.9))
      .toDF("id", "ts", "payload", "score"), s"$loc/data/b2")
    val df2 = IcebergTableReader.read(spark, loc)
    assert(df2.columns.toSeq === Seq("id", "ts", "payload", "score"))
    val rows2 = df2.collect().map(r =>
      r.getLong(0) -> (r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows2 === Map(1L -> ("a1", None), 2L -> ("a2", None),
      3L -> ("b3", Some(0.5)), 4L -> ("b4", Some(0.9))))
    val meta2 = IcebergTableReader.metadata(spark, loc)
    assert(meta2.schemasJson.size === 2)
    assert(meta2.snapshots.map(_.schemaId) === Seq(0, 1))
    assert(meta2.schemaJson.contains("score"))

    // DROP columns: even files that carry them stop showing them
    commitFrame(Seq((5L, 50L)).toDF("id", "ts"), s"$loc/data/b3")
    val df3 = IcebergTableReader.read(spark, loc)
    assert(df3.columns.toSeq === Seq("id", "ts"))
    assert(df3.select("id").collect().map(_.getLong(0)).toSet ===
      (1L to 5L).toSet)

    // reverting to a RECORDED shape reuses its schema-id, no new entry
    commitFrame(Seq((6L, 60L, "c6", 1.5))
      .toDF("id", "ts", "payload", "score"), s"$loc/data/b4")
    val meta4 = IcebergTableReader.metadata(spark, loc)
    assert(meta4.schemasJson.size === 3)
    assert(meta4.snapshots.map(_.schemaId) === Seq(0, 1, 2, 1))
    val rows4 = IcebergTableReader.read(spark, loc)
      .select($"id", $"payload", $"score").collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rows4(5L) === ((None, None)))     // written under the 2-col shape
    assert(rows4(1L) === ((Some("a1"), None)))
    assert(rows4(6L) === ((Some("c6"), Some(1.5))))

    // the changelog reads under the current schema too
    val snaps = meta4.snapshots.sortBy(_.sequenceNumber).map(_.snapshotId)
    val delta = IcebergTableReader.readChangelog(
        spark, loc, Some(snaps(2)), Some(snaps(3)))
      .select($"id", $"score", $"_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(delta.toSeq === Seq((6L, 1.5, "insert")))
    ()
  }
}
