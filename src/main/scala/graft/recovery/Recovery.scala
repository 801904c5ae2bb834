package graft.recovery

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sink.PartitionedParquetSink
import graft.sink.PartitionedParquetSink.SinkConfig

/** Recovery tooling — Spark-native counterpart of the reference's
  * recovery CLI (/root/reference/internal/recovery/{scanner,reconciler,
  * repartitioner}.go).
  *
  *  - scan: list data files in storage, anti-join against the manifest
  *    (the catalog's registered-files list) → orphans.
  *  - reconcile: register orphans into the manifest, idempotently
  *    (at-least-once safe, like the reference's re-register path).
  *  - repartition: read a table and rewrite it at a different
  *    granularity (repartitioner.go re-segments files across partitions).
  *
  * Storage is reached through the session's Hadoop conf
  * (`sessionState.newHadoopConf()`), so confs a streaming query holds on
  * its session, such as [[graft.storage.NioLocalFileSystem.Confs]], also
  * cover the register step it runs.
  */
object Recovery {

  /** Spark's reader rule for paths it never reads: names starting with
    * `_` (unless they hold a partition `=`) or `.`. Output committers
    * stage in-flight and crashed attempts under `_temporary`, so a file
    * behind such a name is not (yet) table data. */
  private def hiddenName(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** `listStatus` walk below `dir` collecting visible `.parquet` files
    * as (path, size); hidden directories are never entered. One
    * metadata call per directory, where `listFiles(recursive)` also
    * resolves block locations for every file. */
  private def walkDataFiles(fs: FileSystem, dir: Path,
                            out: ArrayBuffer[(String, Long)]): Unit =
    fs.listStatus(dir).foreach { s =>
      val name = s.getPath.getName
      if (!hiddenName(name)) {
        if (s.isDirectory) walkDataFiles(fs, s.getPath, out)
        else if (name.endsWith(".parquet")) out += ((s.getPath.toString, s.getLen))
      }
    }

  /** The table's data files, listed on the driver. */
  private[graft] def dataFiles(spark: SparkSession, tablePath: String): Seq[(String, Long)] = {
    val path = new Path(tablePath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val files = ArrayBuffer.empty[(String, Long)]
    if (fs.exists(path)) walkDataFiles(fs, path, files)
    files.toSeq
  }

  /** Storage listing (metadata-only, like scanner.go walking the bucket;
    * file counts are small relative to data so a driver-side walk is the
    * right tool — the data itself is never read). In-flight and
    * crashed-attempt files under hidden paths are not listed. */
  def listDataFiles(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    dataFiles(spark, tablePath).toDF("file_path", "file_size")
  }

  /** DISTRIBUTED storage listing for wide tables: the driver expands
    * only the DIRECTORY tree breadth-first until there are enough
    * leaf directories to spread (cheap — directories ≪ files), then
    * executors list their directories in parallel. At 10⁶ files on an
    * object store this turns the scanner's one sequential LIST stream
    * into #partitions concurrent ones. Results are identical to
    * [[listDataFiles]]. */
  def listDataFilesDistributed(spark: SparkSession, tablePath: String,
                               parallelism: Int = 64): DataFrame = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Seq.empty[(String, Long)].toDF("file_path", "file_size")
    // breadth-first expansion over UNSCANNED dirs: each round either
    // hands the pending set to executors (enough fan-out) or scans one
    // more level driver-side (files → shallow, subdirs → next round)
    var pending: Seq[Path] = Seq(root)
    val shallow = ArrayBuffer.empty[(String, Long)]
    while (pending.nonEmpty && pending.size < parallelism) {
      val next = ArrayBuffer.empty[Path]
      pending.foreach { d =>
        fs.listStatus(d).filterNot(c => hiddenName(c.getPath.getName)).foreach { c =>
          if (c.isDirectory) next += c.getPath
          else {
            val p = c.getPath.toString
            if (p.endsWith(".parquet")) shallow += ((p, c.getLen))
          }
        }
      }
      pending = next.toSeq
    }
    val shallowDf = shallow.toSeq.toDF("file_path", "file_size")
    if (pending.isEmpty) return shallowDf
    val sConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    val deep = spark.sparkContext
      .parallelize(pending.map(_.toString),
        math.min(parallelism, pending.size))
      .mapPartitions { it =>
        val c = sConf.value.value
        it.flatMap { d =>
          val p = new Path(d)
          val out = ArrayBuffer.empty[(String, Long)]
          walkDataFiles(p.getFileSystem(c), p, out)
          out
        }
      }.toDF("file_path", "file_size")
    deep.union(shallowDf)
  }

  /** Orphans = files present in storage but absent from the manifest.
    * `distributedListing` swaps in [[listDataFilesDistributed]] for
    * tables whose file count warrants executor-side listing. */
  def scanOrphans(spark: SparkSession, tablePath: String,
                  manifest: DataFrame,
                  distributedListing: Boolean = false): DataFrame = {
    val files = if (distributedListing) listDataFilesDistributed(spark, tablePath)
                else listDataFiles(spark, tablePath)
    files.join(manifest.select(col("file_path")), Seq("file_path"), "left_anti")
  }

  /** Reverse orphans: manifest entries whose backing file no longer
    * exists in storage (deleted out-of-band). The catalog must drop
    * these or every scan over it fails on a missing file. */
  def scanMissing(spark: SparkSession, tablePath: String,
                  manifest: DataFrame,
                  distributedListing: Boolean = false): DataFrame = {
    val files = if (distributedListing) listDataFilesDistributed(spark, tablePath)
                else listDataFiles(spark, tablePath)
    manifest.join(files.select(col("file_path")), Seq("file_path"), "left_anti")
  }

  // ── Manifest: a directory of append-only part files ───────────────

  /** Row schema of a manifest. Reads pass it explicitly, so no schema
    * inference job runs. */
  val ManifestSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("file_size", LongType, nullable = false)))

  private val PartType: MessageType = MessageTypeParser.parseMessageType(
    "message spark_schema { optional binary file_path (STRING); required int64 file_size; }")

  /** Parts a manifest may hold before the next write folds them. */
  private[graft] val ManifestFoldParts = 32

  /** The manifest as a DataFrame (empty when it does not exist yet). */
  def readManifest(spark: SparkSession, manifestPath: String): DataFrame = {
    val dir = new Path(manifestPath)
    if (dir.getFileSystem(spark.sessionState.newHadoopConf()).exists(dir))
      spark.read.schema(ManifestSchema).parquet(manifestPath)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ManifestSchema)
  }

  /** Entries of part files already read on this driver, by part path. A
    * published part is never rewritten in place (its name is unique),
    * so an entry is valid while its file keeps its length and mtime. */
  private final case class CachedPart(len: Long, mtime: Long,
                                       entries: Array[(String, Long)])
  private val partCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedPart]()

  /** One manifest directory, read on the driver. Layout: part files
    * `<manifest>/part-<uuid>.parquet` holding (file_path, file_size)
    * rows, nothing else visible. A writer stages a part under a hidden
    * name (or, for a distributed write, in a hidden staging directory)
    * and publishes it by renaming it to its visible name, so readers,
    * Spark's included, see a part whole or not at all. Registration
    * appends one part holding only the new entries, and writes nothing
    * when nothing is new. When an append would take the manifest past
    * [[ManifestFoldParts]] parts, the parts are folded: one part with
    * every entry is published, then the parts it replaces are deleted,
    * so a crash in between leaves duplicate entries (the next fold drops
    * them), never lost ones. */
  private final class Manifest(spark: SparkSession, manifestPath: String) {
    val conf: Configuration = spark.sessionState.newHadoopConf()
    val dir = new Path(manifestPath)
    val fs: FileSystem = dir.getFileSystem(conf)
    val parts: Seq[FileStatus] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.filter { s =>
        val name = s.getPath.getName
        s.isFile && !hiddenName(name) && name.endsWith(".parquet")
      }

    private def cacheKey(p: Path): String = fs.makeQualified(p).toString

    /** Every part's entries; only parts new to this driver are read. */
    lazy val entries: Seq[(String, Long)] = {
      val live = parts.map(s => cacheKey(s.getPath)).toSet
      val prefix = cacheKey(dir) + "/"
      partCache.keySet.removeIf(k => k.startsWith(prefix) && !live(k))
      parts.flatMap { s =>
        val key = cacheKey(s.getPath)
        val hit = partCache.get(key)
        if (hit != null && hit.len == s.getLen && hit.mtime == s.getModificationTime)
          hit.entries
        else {
          val e = readPart(s.getPath)
          partCache.put(key, CachedPart(s.getLen, s.getModificationTime, e))
          e
        }
      }
    }

    def registered: Set[String] = entries.iterator.map(_._1).toSet

    private def readPart(path: Path): Array[(String, Long)] = {
      val reader = ParquetReader.builder(new GroupReadSupport(), path)
        .withConf(conf).build()
      try {
        val out = ArrayBuffer.empty[(String, Long)]
        var g = reader.read()
        while (g != null) {
          if (g.getFieldRepetitionCount("file_path") > 0)
            out += ((g.getString("file_path", 0), g.getLong("file_size", 0)))
          g = reader.read()
        }
        out.toArray
      } finally reader.close()
    }

    /** Write `rows` as one part: staged under a hidden name, then
      * published by rename. */
    def writePart(rows: Seq[(String, Long)]): Unit = {
      val name = s"part-${UUID.randomUUID()}.parquet"
      val staged = new Path(dir, s".$name.tmp")
      val part = new Path(dir, name)
      try {
        val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(staged, conf))
          .withConf(conf).withType(PartType)
          .withCompressionCodec(CompressionCodecName.SNAPPY).build()
        try {
          val groups = new SimpleGroupFactory(PartType)
          rows.foreach { case (p, n) =>
            w.write(groups.newGroup().append("file_path", p).append("file_size", n))
          }
        } finally w.close()
        publish(staged, part)
      } catch { case e: Throwable => fs.delete(staged, false); throw e }
      val s = fs.getFileStatus(part)
      partCache.put(cacheKey(part), CachedPart(s.getLen, s.getModificationTime, rows.toArray))
    }

    /** Publish the data files of a finished Spark write in `staging` as
      * parts, then remove the staging dir. Empty files are dropped
      * unless `keepEmpty`. */
    def publishStaged(staging: Path, keepEmpty: Boolean): Unit =
      try fs.listStatus(staging).foreach { s =>
        val name = s.getPath.getName
        if (!hiddenName(name) && name.endsWith(".parquet") &&
            (keepEmpty || rowCount(s.getPath) > 0))
          publish(s.getPath, new Path(dir, s"part-${UUID.randomUUID()}.parquet"))
      } finally fs.delete(staging, true)

    private def rowCount(path: Path): Long = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
      try r.getRecordCount finally r.close()
    }

    private def publish(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"manifest: failed to publish $from as $to")

    /** Delete parts superseded by a just-published one. */
    def dropParts(old: Seq[FileStatus]): Unit = old.foreach { s =>
      fs.delete(s.getPath, false)
      partCache.remove(cacheKey(s.getPath))
    }
  }

  /** Append `fresh` as one new part and drop cached listings of the
    * manifest. A manifest that already has a part gains nothing when
    * `fresh` is empty; a missing one is created, so it reads back as
    * empty. When the append would take the manifest past
    * [[ManifestFoldParts]] parts, one folded part with every entry is
    * written instead and replaces the others. */
  private def append(spark: SparkSession, m: Manifest,
                     fresh: Seq[(String, Long)]): Unit = {
    if (fresh.nonEmpty || m.parts.isEmpty) {
      if (m.parts.size < ManifestFoldParts) m.writePart(fresh)
      else {
        val seen = scala.collection.mutable.HashSet.empty[String]
        m.writePart((m.entries ++ fresh).filter(e => seen.add(e._1)))
        m.dropParts(m.parts)
      }
    }
    spark.catalog.refreshByPath(m.dir.toString)
  }

  /** Drop cached listings of the manifest, then read it back. */
  private def publishedManifest(spark: SparkSession, manifestPath: String): DataFrame = {
    spark.catalog.refreshByPath(manifestPath)
    readManifest(spark, manifestPath)
  }

  /** Drop manifest entries with no backing file; returns the pruned
    * manifest, written as one part that replaces all others. */
  def pruneMissing(spark: SparkSession, tablePath: String,
                   manifestPath: String): DataFrame = {
    val m = new Manifest(spark, manifestPath)
    val live = dataFiles(spark, tablePath).iterator.map(_._1).toSet
    val seen = scala.collection.mutable.HashSet.empty[String]
    m.writePart(m.entries.filter(e => live(e._1) && seen.add(e._1)))
    m.dropParts(m.parts)
    publishedManifest(spark, manifestPath)
  }

  /** Register orphans into the manifest, idempotently (reconciler.go's
    * re-register semantics): the table listing is diffed against the
    * registered paths on the driver and only the new entries are
    * appended, as one part (layout and fold rule: [[Manifest]]). Without
    * `distributedListing` this runs no Spark job: the listing is a
    * driver-side walk, and the driver reads only the parts it has not
    * read before. With it, the listing and the anti-join against the
    * manifest run distributed and their output is appended the same
    * way, through a hidden staging directory. Returns the manifest. */
  def reconcile(spark: SparkSession, tablePath: String,
                manifestPath: String,
                distributedListing: Boolean = false): DataFrame = {
    if (!distributedListing) {
      registerOrphans(spark, tablePath, manifestPath)
      readManifest(spark, manifestPath)
    } else {
      val m = new Manifest(spark, manifestPath)
      val staging = new Path(m.dir, s".append-${UUID.randomUUID()}")
      scanOrphans(spark, tablePath, readManifest(spark, manifestPath),
        distributedListing = true).repartition(1).write.parquet(staging.toString)
      m.publishStaged(staging, keepEmpty = m.parts.isEmpty)
      val after = new Manifest(spark, manifestPath)
      if (after.parts.size > ManifestFoldParts) {
        val folded = new Path(m.dir, s".fold-${UUID.randomUUID()}")
        readManifest(spark, manifestPath).dropDuplicates("file_path")
          .repartition(1).write.parquet(folded.toString)
        after.publishStaged(folded, keepEmpty = true)
        after.dropParts(after.parts)
      }
      publishedManifest(spark, manifestPath)
    }
  }

  /** [[reconcile]]'s driver-side registration without reading the
    * manifest back: returns the (path, size) entries it appended. */
  private[graft] def registerOrphans(spark: SparkSession, tablePath: String,
                                     manifestPath: String): Seq[(String, Long)] = {
    val m = new Manifest(spark, manifestPath)
    val registered = m.registered
    val fresh = dataFiles(spark, tablePath).filterNot(f => registered(f._1))
    append(spark, m, fresh)
    fresh
  }

  /** Register an EXPLICIT file set into the manifest — reconcile with a
    * caller-filtered candidate list (e.g. [[RecoveryCli]]'s
    * `--after`/`--before` partition-time window). Same idempotent
    * dedup-on-path append as [[reconcile]]. */
  def registerFiles(spark: SparkSession, manifestPath: String,
                    files: DataFrame): DataFrame = {
    val m = new Manifest(spark, manifestPath)
    val seen = scala.collection.mutable.HashSet.empty[String] ++= m.registered
    val fresh = files.select(col("file_path"), col("file_size")).collect()
      .map(r => (r.getString(0), r.getLong(1))).filter(e => seen.add(e._1))
    append(spark, m, fresh.toSeq)
    readManifest(spark, manifestPath)
  }

  /** File-level column statistics (zone map) harvested from parquet
    * FOOTERS — the per-file min/max metrics an Iceberg catalog keeps,
    * reconstructed from storage alone. Metadata-only: footers are read,
    * row data never is. The harvest runs as a DISTRIBUTED Spark job over
    * the file list (a 100 TB table has ~10^5-10^6 footers; a sequential
    * driver sweep would dominate every query).
    * Returns one row per file with the column's min/max (as raw int64
    * for timestamp/long columns) and row count; files without stats
    * surface as nulls (never pruned). */
  def fileStats(spark: SparkSession, tablePath: String,
                column: String): DataFrame = {
    import spark.implicits._
    val paths = listDataFiles(spark, tablePath)
      .select("file_path").as[String].collect().toIndexedSeq
    graft.catalog.DataFiles.footers(spark, paths, Seq(column)).map { f =>
      val b = f.bounds.get(column)
      (f.path, b.map(_._1), b.map(_._2), f.rows)
    }.toDF("file_path", "min_val", "max_val", "n_rows")
  }

  /** Per-file min/max of one INT64/INT32-physical column, harvested
    * from parquet FOOTERS only (no data pages) — the stats a catalog
    * commit embeds into manifest-entry `lower_bounds`/`upper_bounds`
    * so downstream planners prune files from metadata alone. Columns
    * whose footer carries no comparable long stats (binary, all-null)
    * simply don't appear. Distributed like [[fileRowCounts]]: one
    * footer open per file across the cluster, collected driver-side
    * (bytes-per-file: two longs). */
  def fileColumnStats(spark: SparkSession, paths: Seq[String],
                      column: String): Map[String, (Long, Long)] =
    graft.catalog.DataFiles.footers(spark, paths, Seq(column))
      .flatMap(f => f.bounds.get(column).map(f.path -> _)).toMap

  /** Row counts for an EXPLICIT file list, from parquet footers, as a
    * distributed job (r6 — catalog registration carries real per-file
    * record counts, matching the reference exporter's snapshot summary,
    * instead of a hardcoded 0). Metadata-only like [[fileStats]]. */
  def fileRowCounts(spark: SparkSession, paths: Seq[String]): Map[String, Long] =
    graft.catalog.DataFiles.footers(spark, paths, Nil).map(f => f.path -> f.rows).toMap

  /** Time-sliced read with ZONE-MAP SKIPPING: prune files whose footer
    * [min,max] can't overlap [startUs, endUs) before Spark ever lists
    * them — Iceberg's metadata-level data skipping, at 100 TB the
    * difference between scanning the slice and scanning the table. A
    * residual filter keeps exactness; files without stats are read.
    * (Timestamps compare as parquet's int64 micros.) */
  def readSlice(spark: SparkSession, tablePath: String, tsColumn: String,
                startUs: Long, endUs: Long): DataFrame = {
    val stats = fileStats(spark, tablePath, tsColumn)
    val keep = stats
      .filter(col("min_val").isNull ||
              (col("max_val") >= startUs && col("min_val") < endUs))
      .select("file_path").collect().map(_.getString(0))
    val base = if (keep.isEmpty)
      spark.read.parquet(tablePath).limit(0)
    else
      spark.read.option("basePath", tablePath).parquet(keep.toIndexedSeq: _*)
    base.filter(unix_micros(col(tsColumn)) >= startUs &&
                unix_micros(col(tsColumn)) < endUs)
  }

  // ── Cross-partition file auto-repair ──────────────────────────────
  // Reference: reconciler.go:380 `handleCrossPartitionFile` +
  // repartitioner.go `Repartition` — a register that fails because a
  // file's rows straddle the registered partition is repaired by
  // splitting the file at the table's granularity and registering the
  // splits atomically, then deleting the original.

  /** iceberg-go's cross-partition error substring (repartitioner.go:21,
    * citing table/internal/utils.go) — the signal the reference
    * reconciler keys its auto-repair on. Our own partition validation
    * raises the same words so callers route identically. */
  val CrossPartitionError = "more than one value for partition field"

  /** Raised by [[validateSinglePartition]]; carries the straddler list
    * so the repair path needn't re-sweep footers. */
  final class CrossPartitionException(msg: String, val files: Seq[String])
    extends IllegalStateException(msg)

  /** repartitioner.go:68 `IsCrossPartitionError` parity: substring
    * match anywhere in the cause chain. */
  def isCrossPartitionError(t: Throwable): Boolean = {
    var e = t
    var seen = 0
    while (e != null && seen < 16) {
      if (e.getMessage != null && e.getMessage.contains(CrossPartitionError))
        return true
      e = if (e.getCause eq e) null else e.getCause
      seen += 1
    }
    false
  }

  private def granularityTransform(granularity: String): String =
    granularity match {
      case "hourly"  => "hour"
      case "daily"   => "day"
      case "monthly" => "month"
      case other => throw new IllegalArgumentException(
        s"unknown granularity '$other' (hourly|daily|monthly)")
    }

  /** Granularity inferred from a sink-layout path (deepest time dir
    * present); None for paths without partition dirs. */
  def pathGranularity(path: String): Option[String] =
    if (path.contains("hour=")) Some("hourly")
    else if (path.contains("day=")) Some("daily")
    else if (path.contains("month=")) Some("monthly")
    else None

  /** The subset of `paths` whose ROWS straddle more than one partition
    * at `granularity` on `tsColumn` — the condition that makes
    * iceberg-go's tuple derivation fail with [[CrossPartitionError]].
    * Metadata-only: one distributed footer sweep (int64-micros min/max);
    * files whose footer carries no usable stats can't be judged and are
    * not flagged (they register with a null tuple = never pruned, the
    * conservative fallback [[graft.catalog.IcebergCommit]] already
    * takes). */
  def crossPartitionFiles(spark: SparkSession, paths: Seq[String],
                          tsColumn: String,
                          granularity: String): Seq[String] = {
    if (paths.isEmpty) return Nil
    val tr = granularityTransform(granularity)
    val stats = fileColumnStats(spark, paths, tsColumn)
    paths.filter(p => stats.get(p).exists { case (mn, mx) =>
      graft.catalog.IcebergPartitioning.transformValue(tr, mn) !=
        graft.catalog.IcebergPartitioning.transformValue(tr, mx)
    })
  }

  /** Registration-time validation with the reference's ERROR SHAPE:
    * raises a [[CrossPartitionException]] carrying iceberg-go's exact
    * substring when any of `paths` straddles, so the caller routes on
    * [[isCrossPartitionError]] exactly like reconciler.go:371. */
  def validateSinglePartition(spark: SparkSession, paths: Seq[String],
                              tsColumn: String,
                              granularity: String): Unit = {
    val bad = crossPartitionFiles(spark, paths, tsColumn, granularity)
    if (bad.nonEmpty)
      throw new CrossPartitionException(
        s"${bad.head}: $CrossPartitionError " +
          s"($granularity on $tsColumn; ${bad.size} file(s) affected)", bad)
  }

  /** Repair straddling files, Spark-first: where the reference loops
    * file → Arrow split → per-partition write (repartitioner.go:78),
    * ONE distributed job here reads every straddler and appends its
    * rows back through the sink's dynamic-partition writer at the
    * table's granularity — each partition value lands in its own
    * file(s) by construction, for any number of straddlers at once.
    * Originals are deleted only AFTER the write job commits (Spark's
    * output committer makes the splits all-or-nothing), so a crash
    * mid-repair leaves storage duplicates at worst — which the
    * idempotent path-keyed register and a later reconcile both
    * tolerate. Returns the new split files (path, size) to register. */
  def repairCrossPartitionFiles(spark: SparkSession, basePath: String,
                                table: String, files: Seq[String],
                                tsColumn: String, granularity: String)
      : Seq[(String, Long)] = {
    if (files.isEmpty) return Nil
    import spark.implicits._
    val tablePath = s"$basePath/$table"
    val before = listDataFiles(spark, tablePath)
      .select("file_path").as[String].collect().toSet
    // read ONLY the straddlers, without basePath: dir-derived partition
    // columns stay out and the sink re-derives them from the rows
    val df = spark.read.parquet(files: _*)
    PartitionedParquetSink.writeBatch(df, SinkConfig(basePath, table,
      tsColumn = tsColumn, granularity = granularity))
    val conf = spark.sessionState.newHadoopConf()
    files.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(conf).delete(p, false)
    }
    spark.catalog.refreshByPath(tablePath)
    listDataFiles(spark, tablePath)
      .as[(String, Long)].collect().toSeq
      .filter { case (p, _) => !before.contains(p) }
  }

  /** Rewrite a partitioned table at a new granularity
    * (repartitioner.go). Reads through the partition layout, drops the
    * old partition value columns, re-derives at the target granularity. */
  def repartition(spark: SparkSession, from: SinkConfig, to: SinkConfig): Unit = {
    val df = spark.read.parquet(PartitionedParquetSink.tablePath(from))
    val bare = PartitionedParquetSink.partitionColumns(from.granularity)
      .foldLeft(df)((d, c) => d.drop(c))
    PartitionedParquetSink.writeBatch(bare, to)
  }

  /** Small-file compaction: rewrite a table into files near
    * `targetFileBytes` — THE steady-state maintenance job for any
    * streaming-ingested table (every micro-batch commit emits a file
    * per touched partition; a day of 1-minute batches is 1440 files per
    * partition, and at 100 TB scan cost is dominated by file-open
    * overhead long before bytes). Rows shuffle onto their partition
    * values (writeBatch — one writer per directory), and a
    * rows-per-file cap derived from the table's observed bytes/row
    * splits hot partitions near the target. Returns
    * (filesBefore, filesAfter).
    * Writes to `to` — compact-then-swap keeps readers consistent;
    * compacting in place would race them. */
  def compact(spark: SparkSession, from: SinkConfig, to: SinkConfig,
              targetFileBytes: Long = 128L << 20): (Long, Long) = {
    val files = listDataFiles(spark, PartitionedParquetSink.tablePath(from))
      .agg(count(col("file_path")), coalesce(sum(col("file_size")), lit(0L)))
      .collect()(0)
    val (nBefore, totalBytes) = (files.getLong(0), files.getLong(1))
    val df = spark.read.parquet(PartitionedParquetSink.tablePath(from))
    val bare = PartitionedParquetSink.partitionColumns(from.granularity)
      .foldLeft(df)((d, c) => d.drop(c))
    // writeBatch routes every row of a partition value to ONE task (the
    // small-file guarantee), so within-partition file splitting must come
    // from maxRecordsPerFile: rows-per-file sized from the table's
    // observed bytes/row — a hot partition larger than the target still
    // splits into ~target-sized files.
    val nRows = bare.count()
    val maxRecords =
      if (nRows == 0 || totalBytes == 0) 0L // 0 = unlimited
      else math.max(1L, targetFileBytes * nRows / totalBytes)
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, maxRecords.toString)
    try PartitionedParquetSink.writeBatch(bare, to)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    val nAfter = listDataFiles(spark, PartitionedParquetSink.tablePath(to)).count()
    (nBefore, nAfter)
  }
}
