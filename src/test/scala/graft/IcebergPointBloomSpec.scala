package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergTableReader,
  Puffin, RestCatalogClient}

/** Point-lookup bloom index on the INTEROP Iceberg chain (round 16):
  * [[IcebergMaintenance.writeBloomIndex]] registers a Puffin sidecar
  * with one bloom per data file; [[IcebergTableReader.readPoint]] must
  * then answer needle lookups exactly (NO false negatives, merge-on-
  * read deletes applied) while opening 1+ε files on a layout where
  * zone maps cannot prune at all. */
class IcebergPointBloomSpec extends SparkSpec {

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSeq.sorted

  test("bloom sidecar point reads: exact, no false negatives, 1+eps files") {
    import spark.implicits._
    val base = tempDir("graft-ice-bloom")
    val loc = s"$base/tbl"
    val dataDir = s"$base/data"
    val nFiles = 8
    // residue-class files: every file's [min, max] id bounds span the
    // whole table, so bounds pruning keeps ALL files — only the bloom
    // can narrow the needle read
    (0L until 4000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartition(nFiles, col("id") % nFiles)
      .write.parquet(dataDir)
    val paths = listParquet(dataDir)
    // hash partitioning may fold residues together — what matters is
    // several overlapping-bounds files, not exactly nFiles
    val nF = paths.size
    assert(nF >= 4, s"need several files for the prune to mean anything: $nF")
    val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
    val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(
      spark.read.parquet(dataDir).schema)
    IcebergCommit.commitStandalone(
      spark.sparkContext.hadoopConfiguration, loc,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson)),
      None,
      paths.map(p => RestCatalogClient.DataFile(
        p, Files.size(Paths.get(p)), counts.getOrElse(p, 0L), Nil)))

    val sidecarPath = IcebergMaintenance.writeBloomIndex(spark, loc, "id")
    // the sidecar is registered in table metadata and is a well-formed
    // Puffin file with one blob per data file
    val meta = IcebergTableReader.metadata(spark, loc)
    assert(meta.statistics.map(_.path) === Seq(sidecarPath))
    val (blobs, _) = Puffin.readFooter(
      spark.sparkContext.hadoopConfiguration, sidecarPath)
    assert(blobs.size === nF)
    assert(blobs.forall(_.blobType === "graft-bloom-v1"))
    // spec-conformance of the statistics entry (r12 ADVICE): the
    // footer size must be REAL — a conforming external reader seeks
    // fileSize − footerSize and expects the footer's opening magic
    // there — and blob-metadata must replicate the blob directory so
    // planners can assess relevance from table metadata alone
    val st = meta.statistics.head
    assert(st.fileSizeInBytes === Files.size(Paths.get(sidecarPath)))
    assert(st.footerSizeInBytes > 0)
    val in = Files.newInputStream(Paths.get(sidecarPath))
    try {
      in.skip(st.fileSizeInBytes - st.footerSizeInBytes)
      val m = new Array[Byte](4)
      assert(in.read(m) === 4 && new String(m, "US-ASCII") === "PFA1",
        "fileSize − footerSize must land on the footer's opening magic")
    } finally in.close()
    assert(st.blobMetadata.map(b => (b.blobType, b.fields, b.properties))
      === blobs.map(b => (b.blobType, b.fields, b.properties)),
      "metadata blob directory must mirror the sidecar footer")

    val full = IcebergTableReader.read(spark, loc)
    val needles = Seq(0L, 7L, 123L, 999L, 2048L, 3999L)
    needles.foreach { v =>
      val got = IcebergTableReader.readPoint(spark, loc, "id", v)
        .collect().map(_.toString).sorted.toSeq
      val want = full.filter($"id" === v)
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, s"needle $v wrong rows")
      assert(got.size === 1, s"needle $v should hit exactly one row")
    }
    // absent key: zero rows, still no crash
    assert(IcebergTableReader.readPoint(spark, loc, "id", 99999L)
      .collect().isEmpty)
    // prune strength: at fpp 3%, the average lookup must open ~1 file,
    // and never all of them
    val opened = needles.map(v =>
      IcebergTableReader.pointFiles(spark, loc, "id", v)._1.size)
    assert(opened.forall(_ < nF), s"a needle opened all files: $opened")
    assert(opened.sum <= needles.size * 2, s"bloom barely pruned: $opened")

    // snapshot moves (upsert): the old sidecar no longer matches the
    // current snapshot → reads fall back to unpruned but stay EXACT,
    // including the merge-on-read update
    IcebergMaintenance.upsert(spark, loc,
      Seq((7L, "UPDATED")).toDF("id", "payload"), Seq("id"))
    val got7 = IcebergTableReader.readPoint(spark, loc, "id", 7L).collect()
    assert(got7.length === 1 && got7(0).getAs[String]("payload") === "UPDATED")

    // re-index at the new snapshot: pruning returns AND the equality
    // delete still masks the stale row in the old data file
    IcebergMaintenance.writeBloomIndex(spark, loc, "id")
    val (f7, _, _) = IcebergTableReader.pointFiles(spark, loc, "id", 7L)
    assert(f7.size <= 2, s"re-indexed lookup kept ${f7.size} files")
    val got7b = IcebergTableReader.readPoint(spark, loc, "id", 7L).collect()
    assert(got7b.length === 1 &&
      got7b(0).getAs[String]("payload") === "UPDATED")

    // the SQL surface: graft_iceberg_point resolves to the same pruned
    // plan from plain SQL (literal-args contract like the other TVFs)
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT payload FROM graft_iceberg_point('$loc', 'id', 7)").collect()
    assert(viaSql.length === 1 && viaSql(0).getString(0) === "UPDATED")
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_iceberg_point('$loc', 'id', 1+6)").collect())
    assert(e.getMessage.contains("literal"))
  }

  test("ndv sketches: exact under k, ~estimate over k, metadata-only, coexist with blooms") {
    import spark.implicits._
    val base = tempDir("graft-ice-ndv")
    val loc = s"$base/tbl"
    val dataDir = s"$base/data"
    // id: 4000 distinct (past k=512 → estimated); grp: 23 distinct
    // (under k → the blob IS the exact distinct set)
    (0L until 4000L).map(i => (i, s"g${i % 23}")).toDF("id", "grp")
      .repartition(4).write.parquet(dataDir)
    val paths = listParquet(dataDir)
    val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
    val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(
      spark.read.parquet(dataDir).schema)
    IcebergCommit.commitStandalone(
      spark.sparkContext.hadoopConfiguration, loc,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson)),
      None,
      paths.map(p => RestCatalogClient.DataFile(
        p, Files.size(Paths.get(p)), counts.getOrElse(p, 0L), Nil)))

    // bloom first, then ndv: the sidecar append must KEEP prior blobs
    IcebergMaintenance.writeBloomIndex(spark, loc, "id")
    IcebergMaintenance.writeNdvIndex(spark, loc, Seq("id", "grp"), k = 512)
    val meta = IcebergTableReader.metadata(spark, loc)
    assert(meta.statistics.size === 1, "one sidecar per snapshot")

    val ndv = IcebergTableReader.ndvFromStats(spark, loc).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(ndv("grp") === ((23L, true)), "under-k column must be exact")
    val (idNdv, idExact) = ndv("id")
    assert(!idExact)
    assert(math.abs(idNdv - 4000L) <= 200L,
      s"id ndv estimate $idNdv outside 5% of 4000")
    // blooms survived the append: the needle read still prunes
    val (kept, _, _) = IcebergTableReader.pointFiles(spark, loc, "id", 7L)
    assert(kept.size < paths.size, "bloom pruning lost after ndv append")

    // the mergeable BottomKDistinct build (r12) must be BIT-IDENTICAL
    // to the legacy distinct().orderBy(h).limit(k) shuffle it replaced
    val sidecar = meta.statistics.head.path
    val (allBlobs, _) = Puffin.readFooter(
      spark.sparkContext.hadoopConfiguration, sidecar)
    val idBlob = allBlobs.find(b => b.blobType === "graft-kmv-ndv-v1" &&
      b.properties("ndv_col") === "id").get
    val got = {
      val bytes = Puffin.readBlob(
        spark.sparkContext.hadoopConfiguration, sidecar, idBlob)
      val in2 = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val n = in2.readLong().toInt
      (0 until n).map(_ => in2.readLong())
    }
    val want = spark.read.parquet(dataDir)
      .select(xxhash64($"id").as("h")).where($"id".isNotNull)
      .distinct().orderBy($"h").limit(512).as[Long].collect().toSeq
    assert(got === want, "KMV blob differs from the legacy build")

    // the SQL surface sees the same cardinalities
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT ndv, exact FROM graft_iceberg_ndv('$loc') " +
        "WHERE column = 'grp'").collect()
    assert(viaSql.length === 1 && viaSql(0).getLong(0) === 23L &&
      viaSql(0).getBoolean(1))

    // METADATA-ONLY: with every data file gone, NDV still answers
    Files.move(Paths.get(dataDir), Paths.get(s"$base/data_moved"))
    val ndv2 = IcebergTableReader.ndvFromStats(spark, loc).collect()
    assert(ndv2.length === 2, "ndv read touched data files")
  }

  /** The r6 malformed-input discipline applied to the Puffin reader: a
    * truncated or hostile sidecar must raise its own require message,
    * never a raw ArrayIndexOutOfBounds or a silent misread. */
  test("Puffin reader fails loudly on truncated and hostile sidecars") {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = tempDir("graft-puffin-fuzz")
    def write(name: String, bytes: Array[Byte]): String = {
      val p = s"$base/$name"
      Files.write(Paths.get(p), bytes)
      p
    }
    // a well-formed file round-trips
    val good = write("good.puffin", Array.emptyByteArray)
    Puffin.write(conf, good, Seq(Puffin.Blob("t", Seq(1), 1L, 1L,
      Array[Byte](1, 2, 3), Map("k" -> "v"))))
    val (blobs, _) = Puffin.readFooter(conf, good)
    assert(blobs.size === 1 && blobs.head.properties("k") === "v")
    assert(Puffin.readBlob(conf, good, blobs.head).toSeq === Seq[Byte](1, 2, 3))

    // too short to hold any footer
    val short = write("short.puffin", Array[Byte](1, 2, 3))
    val e1 = intercept[IllegalArgumentException](Puffin.readFooter(conf, short))
    assert(e1.getMessage.contains("too short"))
    // trailing magic wrong
    val badMagic = write("badmagic.puffin", Array.fill[Byte](64)(7))
    val e2 = intercept[IllegalArgumentException](Puffin.readFooter(conf, badMagic))
    assert(e2.getMessage.contains("magic"))
    // hostile footer payload size (bigger than the file)
    val hostile = {
      val b = java.nio.ByteBuffer.allocate(64)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.position(64 - 12)
      b.putInt(1000000)
      b.put(Array[Byte](0, 0, 0, 0))
      b.put("PFA1".getBytes("US-ASCII"))
      write("hostile.puffin", b.array())
    }
    val e3 = intercept[IllegalArgumentException](Puffin.readFooter(conf, hostile))
    assert(e3.getMessage.contains("hostile"))
  }
}
