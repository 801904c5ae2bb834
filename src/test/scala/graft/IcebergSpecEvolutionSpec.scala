package graft

import java.nio.file.{Files, Paths}

import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergPartitioning,
  IcebergSingleValue, IcebergTableReader, RestCatalogClient}
import graft.catalog.RestCatalogClient.DataFile

/** PARTITION-SPEC EVOLUTION on the catalog-free chain
  * (IcebergMaintenance.updateSpec + per-manifest spec resolution in
  * IcebergTableReader): a table partitioned daily moves to hourly; old
  * manifests keep their original spec-id and their tuples keep pruning
  * under the DAY transform while new commits derive HOUR tuples — the
  * Iceberg rule that spec changes are metadata-only and never
  * reinterpret existing files. The money assertion is the
  * mixed-spec slice: a day-tuple file inside the sliced day must stay
  * OPEN even though its tuple value (a day number) lies far outside
  * the hour-number range the new default spec would map the slice to —
  * pruning old files with the new transform silently loses data. */
class IcebergSpecEvolutionSpec extends SparkSpec {

  private val Hour = 3600L * 1000000L
  private val Day = 24L * Hour

  private def listParquet(dir: String): Seq[String] =
    java.nio.file.Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSeq.sorted

  private def writeBatch(dir: String, ids: Range, tsBase: Long): Seq[String] = {
    import spark.implicits._
    ids.map(i => (i.toLong, tsBase + i * 1000L, s"v$i")).toDF("id", "ts", "payload")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    listParquet(dir)
  }

  test("daily -> hourly: per-spec tuples, mixed-spec pruning, reference round-trip") {
    import spark.implicits._
    val loc = tempDir("graft-specevo") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    val tsId = topIds("ts")
    val daySpec = parse(
      s"""{"fields":[{"name":"ts_day","transform":"day",
         |"source-id":$tsId,"field-id":1000}]}""".stripMargin)

    def commit(paths: Seq[String], spec: Option[org.json4s.JValue],
               withBounds: Boolean,
               explicitPart: Seq[Option[Long]] = Nil): Long = {
      val stats = graft.recovery.Recovery.fileColumnStats(spark, paths, "ts")
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, spec,
        paths.map { p =>
          val bounds = if (!withBounds) Nil else stats.get(p).toSeq.map {
            case (mn, mx) => (tsId, IcebergSingleValue.longBytes(mn),
              IcebergSingleValue.longBytes(mx))
          }
          DataFile(p, Files.size(Paths.get(p)), counts(p), bounds,
            partition = explicitPart)
        })
    }

    // ---- era 1: DAILY spec (spec-id 0) ----
    // a1 in day 3 (hour 5), a2 statless in day 4, tuple EXPLICIT — any
    // pruning of a2 can only come from its (day) tuple
    val a1 = writeBatch(s"$loc/data/a1", 0 until 20, 3 * Day + 5 * Hour)
    commit(a1, Some(daySpec), withBounds = true)
    val a2 = writeBatch(s"$loc/data/a2", 20 until 30, 4 * Day + 2 * Hour)
    val sA2 = commit(a2, Some(daySpec), withBounds = false,
      explicitPart = Seq(Some(4L)))

    // ---- evolve: metadata-only, instant ----
    assert(IcebergMaintenance.updateSpec(spark, loc, "ts", "hourly") === 1)
    val meta1 = IcebergTableReader.metadata(spark, loc)
    assert(meta1.defaultSpecId === 1)
    assert(meta1.partitionSpecsJson.size === 2)
    val fieldsBySpec = meta1.partitionSpecsJson
      .map(sp => IcebergPartitioning.fieldsOf(sp).map(f =>
        (f.name, f.transform, f.fieldId))).toSet
    assert(fieldsBySpec === Set(
      Seq(("ts_day", "day", 1000)), Seq(("ts_hour", "hour", 1001))))

    // ---- era 2: commits inherit the HOURLY default ----
    // b1 in day 3 hour 7 with stats; b2 statless in day 5 hour 2 with
    // an explicit HOUR tuple
    val b1 = writeBatch(s"$loc/data/b1", 30 until 40, 3 * Day + 7 * Hour)
    val sB1 = commit(b1, None, withBounds = true)
    val b2 = writeBatch(s"$loc/data/b2", 40 until 45, 5 * Day + 2 * Hour)
    commit(b2, None, withBounds = false,
      explicitPart = Seq(Some(5L * 24 + 2)))

    // tuples surface under each file's OWN spec
    val files = IcebergTableReader.dataFiles(spark, loc)
    val byPath = files.map(f => f.path -> f).toMap
    assert(byPath(a1.head).partition === Map("ts_day" -> 3L))
    assert(byPath(a2.head).partition === Map("ts_day" -> 4L))
    assert(byPath(b1.head).partition === Map("ts_hour" -> (3L * 24 + 7)))
    assert(byPath(b2.head).partition === Map("ts_hour" -> (5L * 24 + 2)))
    assert(byPath(a1.head).specFields.get.map(_.transform) === Seq("day"))
    assert(byPath(b1.head).specFields.get.map(_.transform) === Seq("hour"))

    def openedBy(startUs: Long, endUs: Long): Set[String] =
      IcebergTableReader.readSlice(spark, loc, "ts", startUs, endUs)
        .inputFiles.toSeq.map(f => new java.net.URI(f).getPath).toSet

    // THE MONEY CASE: slicing all of day 4 must open the statless
    // day-tuple file a2 — its tuple value (4) is nowhere near the hour
    // numbers (96..119) the NEW default spec maps the window to, so
    // pruning it under the wrong spec would silently drop its rows
    assert(openedBy(4 * Day, 5 * Day) === a2.toSet)
    assert(IcebergTableReader.readSlice(spark, loc, "ts", 4 * Day, 5 * Day)
      .count() === 10L)
    // day-5-hour-2 slice: b2's hour tuple matches exactly (no stats —
    // tuple-only), a2's day tuple (4) excludes it
    assert(openedBy(5 * Day + 2 * Hour, 5 * Day + 3 * Hour) === b2.toSet)
    // hour slice inside day 3: b1 via stats+tuple; a1 pruned by STATS
    // (hour 5 ∉ hour-7 window) even though its day tuple matches
    assert(openedBy(3 * Day + 7 * Hour, 3 * Day + 8 * Hour) === b1.toSet)
    // a slice in an untouched day prunes everything
    assert(openedBy(9 * Day, 10 * Day) === Set.empty[String])
    // full cold read sees every era
    assert(IcebergTableReader.read(spark, loc).count() === 45L)

    // ---- reference Avro reader: each era's manifest declares ITS spec ----
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    val meta2 = IcebergTableReader.metadata(spark, loc)
    def manifestMeta(snapId: Long): (String, String) = {
      val head = meta2.snapshots.maxBy(_.sequenceNumber)
      val listRd = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(Files.readAllBytes(
          Paths.get(head.manifestList))),
        new GenericDatumReader[GenericRecord]())
      val mPath = try listRd.iterator().asScala
        .map(_.get("manifest_path").toString)
        .find(_.contains(s"graft-m-$snapId")).get finally listRd.close()
      val mRd = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(Files.readAllBytes(Paths.get(mPath))),
        new GenericDatumReader[GenericRecord]())
      try (mRd.getMetaString("partition-spec-id"),
           mRd.getMetaString("partition-spec")) finally mRd.close()
    }
    val (idA, fieldsA) = manifestMeta(sA2)
    assert(idA === "0")
    assert(IcebergPartitioning.fieldsOf(
      org.json4s.JObject("fields" -> parse(fieldsA)))
      .map(_.transform) === Seq("day"))
    val (idB, fieldsB) = manifestMeta(sB1)
    assert(idB === "1")
    assert(IcebergPartitioning.fieldsOf(
      org.json4s.JObject("fields" -> parse(fieldsB)))
      .map(_.transform) === Seq("hour"))

    // ---- structural reuse: an explicit re-commit under the OLD day
    // spec maps back to spec-id 0 (no third spec appears), and a
    // second hourly evolution reuses spec-id 1 + field-id 1001 ----
    val a3 = writeBatch(s"$loc/data/a3", 45 until 50, 6 * Day + Hour)
    commit(a3, Some(daySpec), withBounds = true)
    val meta3 = IcebergTableReader.metadata(spark, loc)
    assert(meta3.defaultSpecId === 0)
    assert(meta3.partitionSpecsJson.size === 2)
    assert(IcebergMaintenance.updateSpec(spark, loc, "ts", "hourly") === 1)
    assert(IcebergTableReader.metadata(spark, loc)
      .partitionSpecsJson.size === 2)
    ()
  }

  test("composite spec hour(ts)+identity(service): readRanges prunes on both dims") {
    import spark.implicits._
    val loc = tempDir("graft-composite") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    val spec = parse(
      s"""{"fields":[
         |{"name":"ts_hour","transform":"hour","source-id":${topIds("ts")},"field-id":1000},
         |{"name":"id_svc","transform":"identity","source-id":${topIds("id")},"field-id":1001}]}"""
        .stripMargin)

    def writeSvc(dir: String, svc: Long, n: Int, tsBase: Long): Seq[String] = {
      (0 until n).map(i => (svc, tsBase + i * 1000L, s"s$svc-$i"))
        .toDF("id", "ts", "payload")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      listParquet(dir)
    }
    def commit(paths: Seq[String]): Long = {
      val tsStats = graft.recovery.Recovery.fileColumnStats(spark, paths, "ts")
      val idStats = graft.recovery.Recovery.fileColumnStats(spark, paths, "id")
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, Some(spec),
        paths.map { p =>
          val bounds =
            tsStats.get(p).toSeq.map { case (mn, mx) =>
              (topIds("ts"), IcebergSingleValue.longBytes(mn),
                IcebergSingleValue.longBytes(mx)) } ++
            idStats.get(p).toSeq.map { case (mn, mx) =>
              (topIds("id"), IcebergSingleValue.longBytes(mn),
                IcebergSingleValue.longBytes(mx)) }
          DataFile(p, Files.size(Paths.get(p)), counts(p), bounds)
        })
    }
    // 2 services × 2 hours, one file each — both tuple fields DERIVED
    // from each file's own column stats at the commit choke point
    val s1h0 = writeSvc(s"$loc/data/s1h0", 1L, 10, 0L)
    val s1h5 = writeSvc(s"$loc/data/s1h5", 1L, 10, 5 * Hour)
    val s2h0 = writeSvc(s"$loc/data/s2h0", 2L, 10, 0L)
    val s2h5 = writeSvc(s"$loc/data/s2h5", 2L, 10, 5 * Hour)
    Seq(s1h0, s1h5, s2h0, s2h5).foreach(commit(_))

    val byPath = IcebergTableReader.dataFiles(spark, loc)
      .map(f => f.path -> f.partition).toMap
    assert(byPath(s2h5.head) === Map("ts_hour" -> 5L, "id_svc" -> 2L))

    def openedBy(ranges: Seq[(String, (Long, Long))]): Set[String] =
      IcebergTableReader.readRanges(spark, loc, ranges)
        .inputFiles.toSeq.map(f => new java.net.URI(f).getPath).toSet
    // the composite point-lookup: "service 2, hour 5" opens ONE file
    assert(openedBy(Seq("ts" -> (5 * Hour, 6 * Hour), "id" -> (2L, 3L)))
      === s2h5.toSet)
    // each dimension alone prunes to its own pair
    assert(openedBy(Seq("id" -> (2L, 3L))) === (s2h0 ++ s2h5).toSet)
    assert(openedBy(Seq("ts" -> (5 * Hour, 6 * Hour))) === (s1h5 ++ s2h5).toSet)
    // rows survive the residual filters
    assert(IcebergTableReader.readRanges(spark, loc,
      Seq("ts" -> (5 * Hour, 6 * Hour), "id" -> (2L, 3L))).count() === 10L)
    // readSlice still delegates (single-range twin)
    assert(IcebergTableReader.readSlice(spark, loc, "ts", 0L, Hour)
      .count() === 20L)
    ()
  }

  test("bucket[N]/truncate[W]: spec hash vectors and transform semantics") {
    // Iceberg spec Appendix B test vectors (32-bit murmur3, seed 0):
    // int/long 34 → 2017239379, string "iceberg" → 1210000089 — the
    // cross-engine contract that makes foreign readers prune our
    // bucketed tables identically
    assert(IcebergPartitioning.bucketHashLong(34L) === 2017239379)
    assert(IcebergPartitioning.bucketHashString("iceberg") === 1210000089)
    assert(IcebergPartitioning.transformValue("bucket[16]", 34L) ===
      (2017239379 & Int.MaxValue) % 16)
    assert(IcebergPartitioning.bucketValueString(16, "iceberg") ===
      (1210000089 & Int.MaxValue) % 16)
    // truncate floors toward -inf (spec: v - (v mod W), mod ≥ 0)
    assert(IcebergPartitioning.transformValue("truncate[10]", 37L) === 30L)
    assert(IcebergPartitioning.transformValue("truncate[10]", -7L) === -10L)
    assert(IcebergPartitioning.transformValue("truncate[10]", 40L) === 40L)
    // monotonicity classification drives both tuple derivation and
    // range pruning
    assert(!IcebergPartitioning.monotone("bucket[16]"))
    assert(IcebergPartitioning.monotone("truncate[10]"))
    assert(IcebergPartitioning.monotone("hour"))
    // tuple field types per spec
    assert(IcebergPartitioning.avroType("bucket[16]") === "int")
    assert(IcebergPartitioning.avroType("truncate[10]") === "long")
    // an unknown transform fails loudly
    intercept[UnsupportedOperationException] {
      IcebergPartitioning.transformValue("void", 1L)
    }
  }

  test("bucket[4](id) era: derived tuples, point-lookup pruning, range kept") {
    import spark.implicits._
    val loc = tempDir("graft-bucket") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    val spec = parse(
      s"""{"fields":[{"name":"id_bucket","transform":"bucket[4]",
         |"source-id":${topIds("id")},"field-id":1000}]}""".stripMargin)

    // one file per id value (constant id → min==max → tuple derivable
    // even under the non-monotone transform); NO id bounds are
    // committed, so any point-lookup pruning below is the BUCKET
    // TUPLE's doing alone
    def writeId(dir: String, id: Long): Seq[String] = {
      (0 until 10).map(i => (id, i * 1000L, s"v$id-$i"))
        .toDF("id", "ts", "payload")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      listParquet(dir)
    }
    val ids = (1L to 8L)
    val filesById = ids.map { id =>
      val paths = writeId(s"$loc/data/id$id", id)
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, Some(spec),
        paths.map(p => DataFile(p, Files.size(Paths.get(p)), counts(p),
          bounds = Nil,
          partition = Seq(None)))) // explicit-null: force stats-free path?
      id -> paths
    }.toMap
    // explicit null tuples → no pruning possible; recommit era 2 WITH
    // derived tuples from id stats to prove derivation end-to-end
    val loc2 = tempDir("graft-bucket2") + "/t"
    val filesById2 = ids.map { id =>
      val paths = writeId(s"$loc2/data/id$id", id)
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      val idStats = graft.recovery.Recovery.fileColumnStats(spark, paths, "id")
      IcebergCommit.commitStandalone(conf, loc2, sj, Some(spec),
        paths.map { p =>
          val bounds = idStats.get(p).toSeq.map { case (mn, mx) =>
            (topIds("id"), IcebergSingleValue.longBytes(mn),
              IcebergSingleValue.longBytes(mx)) }
          DataFile(p, Files.size(Paths.get(p)), counts(p), bounds)
        })
      id -> paths
    }.toMap

    // null tuples: every file kept (no false pruning)
    assert(IcebergTableReader.readRanges(spark, loc, Seq("id" -> (3L, 4L)))
      .count() === 10L)

    // derived tuples: each file's id_bucket is the spec hash of its id
    val byPath = IcebergTableReader.dataFiles(spark, loc2)
      .map(f => f.path -> f.partition).toMap
    ids.foreach { id =>
      assert(byPath(filesById2(id).head) ===
        Map("id_bucket" -> IcebergPartitioning.bucketValue(4, id)))
    }
    // a point lookup opens ONLY the files sharing the needle's bucket...
    def openedBy(ranges: Seq[(String, (Long, Long))]): Set[String] =
      IcebergTableReader.readRanges(spark, loc2, ranges)
        .inputFiles.toSeq.map(f => new java.net.URI(f).getPath).toSet
    val needle = 3L
    val sameBucket = ids.filter(id =>
      IcebergPartitioning.bucketValue(4, id) ==
        IcebergPartitioning.bucketValue(4, needle))
    // (bounds also prune here — the id stats are exact — so expect
    // exactly the needle's file; drop the bounds and the bucket tuple
    // alone would admit `sameBucket`, strictly fewer than all 8)
    assert(sameBucket.size < ids.size)
    assert(openedBy(Seq("id" -> (needle, needle + 1L)))
      === Set(filesById2(needle).head).map(p => new java.net.URI(p).getPath))
    assert(IcebergTableReader.readRanges(spark, loc2,
      Seq("id" -> (needle, needle + 1L))).count() === 10L)
    // a RANGE under bucket cannot prune (non-monotone): all rows return
    assert(IcebergTableReader.readRanges(spark, loc2, Seq("id" -> (1L, 9L)))
      .count() === 80L)

    // readPoint: the partition-tuple prune admits only same-bucket
    // files BEFORE bounds/bloom run (assert via pointFiles on era-1's
    // tuple-free twin vs a tuple-only filter on loc2's entries)
    val entries = IcebergTableReader.dataFiles(spark, loc2)
    val tupleKept = entries.filter(_.partition.get("id_bucket")
      .forall(_ == IcebergPartitioning.bucketValue(4, needle)))
    assert(tupleKept.map(_.path).toSet ===
      sameBucket.map(id => filesById2(id).head).toSet)
    ()
  }

  test("rewriteBucketed: OPTIMIZE-style bucket clustering, long and string keys") {
    import spark.implicits._
    val src = tempDir("graft-rwb-src") + "/t"
    (1L to 400L).map(i => (i, i * 1000L, s"id-${i % 40}", i / 7.0))
      .toDF("id", "ts", "tag", "score")
      .repartition(4).write.parquet(src)
    val srcRows = spark.read.parquet(src).count()

    // LONG key clustering
    val locL = tempDir("graft-rwb-long") + "/t"
    IcebergMaintenance.rewriteBucketed(spark, src, locL, "id", 8,
      statsColumn = Some("ts"))
    // rows conserved; every file single-bucket; tuples match the spec hash
    assert(IcebergTableReader.read(spark, locL).count() === srcRows)
    val entries = IcebergTableReader.dataFiles(spark, locL)
    entries.foreach { f =>
      val b = f.partition("id_bucket")
      val ids = spark.read.parquet(f.path).select($"id").as[Long].collect()
      assert(ids.forall(IcebergPartitioning.bucketValue(8, _) == b), f.path)
    }
    // point lookup opens only the needle's bucket files
    val needle = 137L
    val nb = IcebergPartitioning.bucketValue(8, needle)
    val opened = IcebergTableReader.readPoint(spark, locL, "id", needle)
    assert(opened.count() === 1L)
    val sameBucket = entries.filter(_.partition("id_bucket") == nb).map(_.path)
    assert(opened.inputFiles.map(f => new java.net.URI(f).getPath).toSet
      .subsetOf(sameBucket.map(p => new java.net.URI(p).getPath).toSet))
    // the harvested ts bounds keep time slicing pruning too
    assert(IcebergTableReader.readSlice(spark, locL, "ts", 0L, 100000L)
      .count() === 99L) // ids 1..99 (ts = id*1000 < 100000)

    // STRING key clustering: the needle path a zone map cannot serve
    val locS = tempDir("graft-rwb-str") + "/t"
    IcebergMaintenance.rewriteBucketed(spark, src, locS, "tag", 4)
    assert(IcebergTableReader.read(spark, locS).count() === srcRows)
    val sNeedle = "id-7"
    val hits = IcebergTableReader.readPoint(spark, locS, "tag", sNeedle)
    assert(hits.count() === 10L) // 400 ids, tag = id % 40 → 10 rows
    val sEntries = IcebergTableReader.dataFiles(spark, locS)
    val sBucket = IcebergPartitioning.bucketValueString(4, sNeedle)
    assert(hits.inputFiles.map(f => new java.net.URI(f).getPath).toSet
      .subsetOf(sEntries.filter(_.partition("tag_bucket") == sBucket)
        .map(p => new java.net.URI(p.path).getPath).toSet))
    // an unsupported key type (double) fails loudly
    intercept[UnsupportedOperationException] {
      IcebergMaintenance.rewriteBucketed(spark, src,
        tempDir("graft-rwb-bad") + "/t", "score", 4)
    }
    ()
  }

  test("truncate[100](id) era: order-preserving tuples prune ranges") {
    import spark.implicits._
    val loc = tempDir("graft-trunc") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    val spec = parse(
      s"""{"fields":[{"name":"id_trunc","transform":"truncate[100]",
         |"source-id":${topIds("id")},"field-id":1000}]}""".stripMargin)
    // three files, one per 100-wide id stripe — tuples derive from
    // min/max because truncate is order-preserving
    def writeStripe(dir: String, lo: Long): Seq[String] = {
      (lo until lo + 50L).map(i => (i, i * 1000L, s"v$i"))
        .toDF("id", "ts", "payload")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      listParquet(dir)
    }
    val stripes = Seq(0L, 100L, 200L).map { lo =>
      val paths = writeStripe(s"$loc/data/s$lo", lo)
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      val idStats = graft.recovery.Recovery.fileColumnStats(spark, paths, "id")
      IcebergCommit.commitStandalone(conf, loc, sj, Some(spec),
        paths.map { p =>
          // commit WITHOUT id bounds: pruning below is the truncate
          // tuple's alone (tuple passed explicitly, derived the same
          // way valuesForFile would)
          val (mn, mx) = idStats(p)
          val t = IcebergPartitioning.transformValue("truncate[100]", mn)
          assert(t === IcebergPartitioning.transformValue("truncate[100]", mx))
          DataFile(p, Files.size(Paths.get(p)), counts(p),
            bounds = Nil, partition = Seq(Some(t)))
        })
      lo -> paths
    }.toMap
    val byPath = IcebergTableReader.dataFiles(spark, loc)
      .map(f => f.path -> f.partition).toMap
    assert(byPath(stripes(100L).head) === Map("id_trunc" -> 100L))
    def openedBy(ranges: Seq[(String, (Long, Long))]): Set[String] =
      IcebergTableReader.readRanges(spark, loc, ranges)
        .inputFiles.toSeq.map(f => new java.net.URI(f).getPath).toSet
    // a range inside one stripe opens one file — the tuple pruned it
    assert(openedBy(Seq("id" -> (110L, 120L)))
      === stripes(100L).map(p => new java.net.URI(p).getPath).toSet)
    assert(IcebergTableReader.readRanges(spark, loc,
      Seq("id" -> (110L, 120L))).count() === 10L)
    // a range spanning two stripes opens exactly those two
    assert(openedBy(Seq("id" -> (40L, 140L))) ===
      (stripes(0L) ++ stripes(100L)).map(p => new java.net.URI(p).getPath).toSet)
    ()
  }
}
