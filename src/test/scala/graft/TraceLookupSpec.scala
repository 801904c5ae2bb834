package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergTableReader,
  Puffin, RestCatalogClient}
import graft.functions.BloomKeys
import graft.recovery.Recovery

/** STRING-keyed bloom point lookups — the trace_id needle (r12 verdict
  * item 1). The reference renders trace ids as 32-hex-char strings
  * (internal/arrow/traces.go:130), and "fetch this trace" is the most
  * common telemetry query; sketches therefore key on xxhash64 of the
  * value ([[BloomKeys]]) so string needles prune exactly like longs.
  * Pins: build/probe hash agreement per type, ≤¼-of-files pruning on a
  * string-keyed trace table through the Iceberg bloom sidecar, no false
  * negatives, and a bloom build that skips null keys. */
class TraceLookupSpec extends SparkSpec {

  private def hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSeq.sorted

  test("BloomKeys: driver-side probe hash equals the build expression") {
    import spark.implicits._
    // one row per supported type; the executor-evaluated keyCol and
    // the driver-evaluated keyOf must agree bit-for-bit or every
    // hashed probe silently misses
    val df = Seq((42L, "0a1b2c", java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-15T10:30:00.123456Z"))))
      .toDF("l", "s", "ts")
    val row = df.select(
      BloomKeys.keyCol(col("l"), org.apache.spark.sql.types.LongType),
      BloomKeys.keyCol(col("s"), org.apache.spark.sql.types.StringType),
      BloomKeys.keyCol(col("ts"), org.apache.spark.sql.types.TimestampType))
      .head
    assert(row.getLong(0) === BloomKeys.keyOf(42L))
    assert(row.getLong(1) === BloomKeys.keyOf("0a1b2c"))
    val micros = df.select(unix_micros(col("ts"))).head.getLong(0)
    assert(row.getLong(2) === BloomKeys.keyOf(micros))
    // int columns canonicalize to long before hashing (Spark hashes
    // int and long inputs differently)
    val irow = Seq(7).toDF("i").select(
      BloomKeys.keyCol(col("i"), org.apache.spark.sql.types.IntegerType)).head
    assert(irow.getLong(0) === BloomKeys.keyOf(7L))
  }

  test("iceberg chain: string trace_id needle prunes to <= 1/4 of files") {
    import spark.implicits._
    val base = tempDir("graft-trace-bloom")
    val loc = s"$base/tbl"
    val dataDir = s"$base/data"
    // residue-class layout: every file's id range spans the table, so
    // only the bloom can narrow a needle read — and the key column is
    // a 32-hex STRING, which the old cast("long") keying nulled out.
    // Spans without a trace id land in every file: the build skips them
    ((0L until 4000L).map(i => (hex(i.toString), i)) ++
      (4000L until 4048L).map(i => (null: String, i)))
      .toDF("trace_id", "id")
      .repartition(16, col("id") % 16)
      .write.parquet(dataDir)
    val paths = listParquet(dataDir)
    val nF = paths.size
    assert(nF >= 8, s"need several files for the prune to mean anything: $nF")
    val counts = Recovery.fileRowCounts(spark, paths)
    val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(
      spark.read.parquet(dataDir).schema)
    IcebergCommit.commitStandalone(
      spark.sparkContext.hadoopConfiguration, loc,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson)),
      None,
      paths.map(p => RestCatalogClient.DataFile(
        p, Files.size(Paths.get(p)), counts.getOrElse(p, 0L), Nil)))
    val sidecarPath = IcebergMaintenance.writeBloomIndex(spark, loc, "trace_id")
    // blobs carry the keying scheme so probes never mis-read them
    val (blobs, _) = Puffin.readFooter(
      spark.sparkContext.hadoopConfiguration, sidecarPath)
    assert(blobs.nonEmpty &&
      blobs.forall(_.properties.get("bloom_keys").contains(BloomKeys.Scheme)))

    // needle probes: exactness on every 100th id + the ≤¼ prune bar
    var admitted = 0
    val probes = (0L until 4000L by 400L).map(_.toString).map(hex)
    probes.foreach { needle =>
      val (kept, _, _) =
        IcebergTableReader.pointFiles(spark, loc, "trace_id", needle)
      admitted += kept.size
      val got = IcebergTableReader.readPoint(spark, loc, "trace_id", needle)
        .select($"trace_id").as[String].collect()
      assert(got.toSeq === Seq(needle), s"needle $needle")
    }
    // the verdict bar: ≤¼ of files admitted on average (fpp 3% on an
    // 8-file residue layout admits ~1.2 files/probe)
    assert(admitted.toDouble / probes.size <= nF / 4.0,
      s"admitted $admitted files over ${probes.size} probes on $nF files")
    // absent needle: no false-negative contract still means 0 rows
    assert(IcebergTableReader.readPoint(
      spark, loc, "trace_id", hex("not-there")).count() === 0)
  }
}
