package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.catalog.IcebergTableMetadata.{SnapshotMeta, TableMetadata}

/** COLD Iceberg table reads — open a table from its warehouse
  * directory ALONE: `version-hint.text` → `vN.metadata.json` →
  * snapshot → manifest list → manifests → pruned file set, no catalog
  * round-trip. This is the interop path that lets the engine query
  * tables the reference stack produced (and re-open its own committed
  * tables after the catalog is gone), the semantics of
  * `/root/reference/internal/iceberg/catalog_rest.go:394` (table
  * metadata is the authority for the snapshot set) applied to the
  * on-disk chain instead of the REST response.
  *
  * Plan shape at scale: everything up to the file list is METADATA —
  * a few KB of JSON plus one Avro OCF per manifest, decoded
  * driver-side exactly like every Iceberg planner (Spark's own Iceberg
  * source plans manifests on the driver too; the data files then scan
  * fully distributed). Min/max pruning runs on the manifest entries'
  * `lower_bounds`/`upper_bounds` BEFORE any parquet footer is opened —
  * a time-slice query on a 100 TB table dispatches only the files
  * whose stats ranges intersect the slice. */
object IcebergTableReader {

  /** One live data file at a snapshot, with its manifest-entry stats.
    * `dataSequenceNumber` is the entry's sequence number (inherited
    * from its manifest-list entry when the Avro field is null, per the
    * spec's v2 inheritance rules) — the key delete application sorts
    * against. */
  final case class FileEntry(
      path: String, recordCount: Long, sizeBytes: Long,
      snapshotId: Long,
      lowerBounds: Map[Int, Array[Byte]], upperBounds: Map[Int, Array[Byte]],
      dataSequenceNumber: Long = 0L,
      partition: Map[String, Long] = Map.empty,
      // the partition-spec fields of the MANIFEST this entry came from
      // (partition-spec evolution: a file's tuple is interpreted under
      // the spec it was written with, never the table's current
      // default); None = the manifest declared no spec → fall back to
      // the table default
      specFields: Option[Seq[IcebergPartitioning.PartField]] = None)

  /** One live DELETE file at a snapshot (Iceberg v2 merge-on-read):
    * `content` 1 = position deletes (`file_path`/`pos` parquet), 2 =
    * equality deletes over the schema columns named by `equalityIds`. */
  final case class DeleteEntry(
      path: String, content: Int, sequenceNumber: Long,
      recordCount: Long, equalityIds: Seq[Int], sizeBytes: Long = 0L,
      snapshotId: Long = 0L)

  def metadata(spark: SparkSession, tableDir: String): TableMetadata =
    IcebergTableMetadata.load(
      spark.sparkContext.hadoopConfiguration, tableDir)
      .getOrElse(throw new IllegalArgumentException(
        s"no Iceberg table metadata under $tableDir/metadata " +
          "(version-hint.text / vN.metadata.json missing)"))

  /** The snapshot log as a DataFrame — time travel starts here. */
  def snapshots(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    metadata(spark, tableDir).snapshots
      .map(s => (s.snapshotId, s.parentId, s.sequenceNumber, s.timestampMs,
        s.manifestList, s.summary.getOrElse("operation", "")))
      .toDF("snapshot_id", "parent_snapshot_id", "sequence_number",
        "timestamp_ms", "manifest_list", "operation")
  }

  /** Resolve a named ref (branch or tag) to its snapshot id. */
  def refSnapshot(spark: SparkSession, tableDir: String, name: String): Long = {
    val meta = metadata(spark, tableDir)
    meta.refs.get(name).map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no ref '$name' on table $tableDir (known: " +
          s"${meta.refs.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** [[read]] pinned at a named ref's head — how an auditor queries a
    * staged (unpublished) branch, or anyone a tagged release. */
  def readRef(spark: SparkSession, tableDir: String, name: String): DataFrame =
    read(spark, tableDir, Some(refSnapshot(spark, tableDir, name)))

  private def resolveSnapshot(meta: TableMetadata,
                              asOfSnapshotId: Option[Long]): Option[SnapshotMeta] =
    asOfSnapshotId match {
      case Some(id) =>
        Some(meta.snapshots.find(_.snapshotId == id).getOrElse(
          throw new IllegalArgumentException(
            s"snapshot $id not in table metadata (known: " +
              s"${meta.snapshots.map(_.snapshotId).mkString(", ")})")))
      case None =>
        meta.currentSnapshotId.flatMap(c => meta.snapshots.find(_.snapshotId == c))
    }

  private def readAll(spark: SparkSession, path: String): Option[Array[Byte]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  /** Bounds maps decode as array-of-record (the Java/Go writers' map
    * encoding) or as a real Avro map keyed by stringified ids — accept
    * both so foreign manifests parse. */
  private def boundsOf(v: Any): Map[Int, Array[Byte]] = v match {
    case items: Seq[Any] @unchecked =>
      items.collect { case m: Map[String, Any] @unchecked =>
        (m.get("key"), m.get("value")) match {
          case (Some(k: Int), Some(b: Array[Byte])) => k -> b
          case (Some(k: Long), Some(b: Array[Byte])) => k.toInt -> b
          case _ => -1 -> Array.emptyByteArray
        }
      }.filter(_._1 >= 0).toMap
    case m: Map[String, Any] @unchecked =>
      m.collect { case (k, b: Array[Byte]) =>
        scala.util.Try(k.toInt).toOption.map(_ -> b)
      }.flatten.toMap
    case _ => Map.empty
  }

  private def longIn(v: Option[Any], dflt: Long): Long = v match {
    case Some(l: Long) => l
    case Some(i: Int) => i.toLong
    case _ => dflt
  }

  /** The complete LIVE file state at a snapshot: (data files, delete
    * files). The snapshot's manifest LIST is the full state — appends
    * carry prior manifests forward into every new list, per the
    * Iceberg spec — DELETED (status=2) entries drop out, and delete
    * manifests (manifest_file.content=1) contribute [[DeleteEntry]]s
    * for merge-on-read application. Entry sequence numbers inherit
    * from the manifest-list entry when null (v2 inheritance). */
  def scanState(spark: SparkSession, tableDir: String,
                asOfSnapshotId: Option[Long] = None)
      : (Seq[FileEntry], Seq[DeleteEntry]) = {
    val meta = metadata(spark, tableDir)
    resolveSnapshot(meta, asOfSnapshotId) match {
      case None => (Seq.empty, Seq.empty)
      case Some(snap) =>
        val listBytes = readAll(spark, snap.manifestList).getOrElse(
          throw new IllegalArgumentException(
            s"manifest list ${snap.manifestList} missing"))
        val (_, manifests) = AvroOcf.read(listBytes)
        val data = Seq.newBuilder[FileEntry]
        val dels = Seq.newBuilder[DeleteEntry]
        manifests.foreach { case m: Map[String, Any] @unchecked =>
          val mContent = longIn(m.get("content"), 0L)
          if (mContent != 0L && mContent != 1L)
            throw new UnsupportedOperationException(
              s"manifest ${m("manifest_path")} has unknown content " +
                s"$mContent; this reader knows data (0) and deletes (1)")
          val mSeq = longIn(m.get("sequence_number"), 0L)
          val mpath = m("manifest_path").asInstanceOf[String]
          val mb = readAll(spark, mpath).getOrElse(
            throw new IllegalArgumentException(s"manifest $mpath missing"))
          val (mMeta, entries) = AvroOcf.read(mb)
          // per-manifest partition spec (spec EVOLUTION): the embedded
          // `partition-spec` fields array wins (what both this writer
          // and the Java ManifestWriter stamp); else resolve the
          // manifest's `partition-spec-id` against the table's
          // partition-specs array; else None → table default.
          val mSpecFields: Option[Seq[IcebergPartitioning.PartField]] =
            mMeta.get("partition-spec").flatMap(s =>
              scala.util.Try(IcebergPartitioning.fieldsOf(
                JObject("fields" -> parse(s)))).toOption)
            .orElse(mMeta.get("partition-spec-id")
              .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
              .flatMap(id => meta.partitionSpecsJson.find(sp =>
                (sp \ "spec-id").toOption.contains(JInt(id)))
                .map(IcebergPartitioning.fieldsOf)))
          entries.foreach {
            case e: Map[String, Any] @unchecked if !e.get("status").contains(2) =>
              e.get("data_file").foreach {
                case df: Map[String, Any] @unchecked =>
                  val seq = longIn(e.get("sequence_number"), mSeq)
                  val fContent = longIn(df.get("content"), 0L).toInt
                  if (fContent == 0)
                    data += FileEntry(
                      path = df("file_path").asInstanceOf[String],
                      recordCount = longIn(df.get("record_count"), 0L),
                      sizeBytes = longIn(df.get("file_size_in_bytes"), 0L),
                      snapshotId = longIn(e.get("snapshot_id"), snap.snapshotId),
                      lowerBounds = df.get("lower_bounds").map(boundsOf)
                        .getOrElse(Map.empty),
                      upperBounds = df.get("upper_bounds").map(boundsOf)
                        .getOrElse(Map.empty),
                      dataSequenceNumber = seq,
                      partition = df.get("partition") match {
                        case Some(t: Map[String, Any] @unchecked) =>
                          t.collect {
                            case (k, v: Int) => k -> v.toLong
                            case (k, v: Long) => k -> v
                          }
                        case _ => Map.empty
                      },
                      specFields = mSpecFields)
                  else if (fContent == 1 || fContent == 2)
                    dels += DeleteEntry(
                      path = df("file_path").asInstanceOf[String],
                      content = fContent, sequenceNumber = seq,
                      recordCount = longIn(df.get("record_count"), 0L),
                      sizeBytes = longIn(df.get("file_size_in_bytes"), 0L),
                      snapshotId =
                        longIn(e.get("snapshot_id"), snap.snapshotId),
                      equalityIds = df.get("equality_ids") match {
                        case Some(ids: Seq[Any] @unchecked) if ids != null =>
                          ids.collect { case i: Int => i; case l: Long => l.toInt }
                        case _ => Seq.empty
                      })
                  else throw new UnsupportedOperationException(
                    s"file ${df("file_path")} has unknown content $fContent")
                case _ => ()
              }
            case _ => ()
          }
        }
        (data.result(), dels.result())
    }
  }

  /** The `table$files` metadata table (r10): one row per live file at
    * the snapshot — data AND delete files, with content, counts,
    * sequence numbers, adding snapshot, and the partition tuple as a
    * map. The inspection surface Iceberg exposes as
    * `SELECT * FROM tbl.files`, driver-side metadata only. */
  def filesDf(spark: SparkSession, tableDir: String,
              asOfSnapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (files, dels) = scanState(spark, tableDir, asOfSnapshotId)
    (files.map(f => ("data", f.path, f.recordCount, f.sizeBytes,
        f.dataSequenceNumber, f.snapshotId, f.partition)) ++
     dels.map(d => (if (d.content == 1) "position-deletes"
                    else "equality-deletes",
        d.path, d.recordCount, d.sizeBytes, d.sequenceNumber,
        d.snapshotId, Map.empty[String, Long])))
      .toDF("content", "file_path", "record_count", "file_size_in_bytes",
        "data_sequence_number", "added_snapshot_id", "partition")
  }

  /** The `table$partitions` metadata table (r15): one row per live
    * partition tuple — file/record/byte counts plus the tuple itself
    * (each file's tuple read under its OWN manifest's spec, so a
    * spec-evolved table reports both eras side by side; unpartitioned
    * files group under the empty tuple). The surface an operator reads
    * to find fragmented or skewed partitions before pointing
    * [[graft.catalog.IcebergMaintenance.rewriteDataFiles]] at them.
    * Driver-side metadata only — no parquet touched. */
  def partitionsDf(spark: SparkSession, tableDir: String,
                   asOfSnapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val meta = metadata(spark, tableDir)
    val defaultFields = IcebergPartitioning.fields(meta)
    val (files, _) = scanState(spark, tableDir, asOfSnapshotId)
    files
      .groupBy { f =>
        val pf = f.specFields.getOrElse(defaultFields)
        pf.map(p => s"${p.name}=${f.partition.get(p.name)
          .map(_.toString).getOrElse("null")}").mkString("/")
      }
      .toSeq.map { case (tuple, fs) =>
        (tuple, fs.size, fs.map(_.recordCount).sum, fs.map(_.sizeBytes).sum,
          fs.map(_.sizeBytes).min, fs.map(_.sizeBytes).max)
      }
      .sortBy(_._1)
      .toDF("partition", "file_count", "record_count", "total_bytes",
        "min_file_bytes", "max_file_bytes")
  }

  /** The `table$manifests` metadata table (r10): one row per manifest
    * in the snapshot's list — path, length, spec-id, content,
    * sequence-number window, adding snapshot, and the per-status file
    * counts. What an operator reads to decide a
    * [[graft.catalog.IcebergMaintenance.rewriteManifests]] is due. */
  def manifestsDf(spark: SparkSession, tableDir: String,
                  asOfSnapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val meta = metadata(spark, tableDir)
    val rows = resolveSnapshot(meta, asOfSnapshotId).toSeq.flatMap { snap =>
      val listBytes = readAll(spark, snap.manifestList).getOrElse(
        throw new IllegalArgumentException(
          s"manifest list ${snap.manifestList} missing"))
      AvroOcf.read(listBytes)._2.collect {
        case m: Map[String, Any] @unchecked =>
          (m("manifest_path").asInstanceOf[String],
           longIn(m.get("manifest_length"), 0L),
           longIn(m.get("partition_spec_id"), 0L).toInt,
           longIn(m.get("content"), 0L).toInt,
           longIn(m.get("sequence_number"), 0L),
           longIn(m.get("min_sequence_number"), 0L),
           longIn(m.get("added_snapshot_id"), 0L),
           longIn(m.get("added_data_files_count"), 0L).toInt,
           longIn(m.get("existing_data_files_count"), 0L).toInt,
           longIn(m.get("deleted_data_files_count"), 0L).toInt)
      }
    }
    rows.toDF("manifest_path", "manifest_length", "partition_spec_id",
      "content", "sequence_number", "min_sequence_number",
      "added_snapshot_id", "added_files_count", "existing_files_count",
      "deleted_files_count")
  }

  /** The live data files at a snapshot (current unless `asOfSnapshotId`
    * time-travels). Delete files are NOT reflected here — use
    * [[scanState]] (or [[read]], which applies them) when the table may
    * be merge-on-read. */
  def dataFiles(spark: SparkSession, tableDir: String,
                asOfSnapshotId: Option[Long] = None): Seq[FileEntry] =
    scanState(spark, tableDir, asOfSnapshotId)._1

  /** The live delete files at a snapshot — empty for append-only
    * tables (everything this engine's own commits write). */
  def deleteFiles(spark: SparkSession, tableDir: String,
                  asOfSnapshotId: Option[Long] = None): Seq[DeleteEntry] =
    scanState(spark, tableDir, asOfSnapshotId)._2

  /** Top-level field id of `column` in the table's CURRENT schema —
    * the key into the bounds maps. */
  def fieldId(meta: TableMetadata, column: String): Int =
    (parse(meta.schemaJson) \ "fields").toOption.collect {
      case JArray(fs) => fs.collectFirst {
        case f if (f \ "name").toOption.contains(JString(column)) =>
          (f \ "id") match { case JInt(n) => n.toInt; case _ => -1 }
      }
    }.flatten.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"column $column not in table schema"))

  /** Top-level field NAME for `id` in the table's current schema —
    * the reverse of [[fieldId]], used to resolve equality-delete
    * columns. */
  def fieldName(meta: TableMetadata, id: Int): String =
    (parse(meta.schemaJson) \ "fields").toOption.collect {
      case JArray(fs) => fs.collectFirst {
        case f if (f \ "id").toOption.contains(JInt(id)) =>
          (f \ "name") match { case JString(n) => n; case _ => "" }
      }
    }.flatten.filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"equality-delete field id $id not in table schema"))

  /** Strip the local-fs scheme so manifest paths (`/tmp/...`) and
    * Spark's `_metadata.file_path` (`file:///tmp/...`) compare equal;
    * non-file schemes pass through (object stores use one consistent
    * URI form on both sides). */
  private def normPathExpr(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^file:(//)?", "")
  private def normPath(p: String): String = p.replaceFirst("^file:(//)?", "")

  /** MERGE-ON-READ: subtract `deletes` from the scan of `files`.
    * Spark-first formulation of the spec's application rules — each
    * delete group is one LEFT ANTI join:
    *   - position deletes (content=1) match on (file_path, row
    *     position) via the parquet source's `_metadata` columns, and
    *     apply to data files with sequence number <= theirs;
    *   - equality deletes (content=2) match null-safely on the
    *     `equality_ids` columns and apply STRICTLY BELOW their
    *     sequence number (a row re-inserted in the same snapshot that
    *     deleted its old version survives).
    * Scale shape: delete sets are orders of magnitude smaller than
    * data, so AQE broadcasts the anti-join build sides and the 100 TB
    * data side never shuffles; per-file sequence numbers ride a
    * broadcast of the (path, seq) file list, the same driver-planned
    * metadata every Iceberg reader distributes. */
  private def applyDeletes(spark: SparkSession, base: DataFrame,
                           files: Seq[FileEntry], deletes: Seq[DeleteEntry],
                           meta: TableMetadata,
                           keepLineage: Boolean = false): DataFrame = {
    import spark.implicits._
    val dataCols = base.columns.toSeq
    val seqDf = files.map(f => (normPath(f.path), f.dataSequenceNumber))
      .toDF("__gf_path", "__gf_seq")
    var cur = base
      .withColumn("__g_path", normPathExpr(col("_metadata.file_path")))
      .withColumn("__g_pos", col("_metadata.row_index"))
      .join(broadcast(seqDf), col("__g_path") === col("__gf_path"), "left")
    val posBySeq = deletes.filter(_.content == 1)
      .groupBy(_.sequenceNumber).toSeq.sortBy(_._1)
    posBySeq.map { case (seq, entries) =>
      spark.read.parquet(entries.map(_.path).distinct: _*)
        .select(normPathExpr(col("file_path")).as("__d_path"),
          col("pos").cast("long").as("__d_pos"),
          lit(seq).as("__d_seq"))
    }.reduceOption(_ unionByName _).foreach { posDel =>
      cur = cur.join(posDel,
        col("__g_path") === col("__d_path") &&
          col("__g_pos") === col("__d_pos") &&
          coalesce(col("__gf_seq"), lit(0L)) <= col("__d_seq"),
        "left_anti")
    }
    deletes.filter(_.content == 2)
      .groupBy(d => (d.sequenceNumber, d.equalityIds)).toSeq
      .sortBy(_._1._1).foreach { case ((seq, ids), entries) =>
        require(ids.nonEmpty,
          s"equality delete ${entries.head.path} lists no equality_ids")
        val names = ids.map(fieldName(meta, _))
        val del = spark.read.parquet(entries.map(_.path).distinct: _*)
          .select(names.map(n => col(n).as(s"__e_$n")): _*)
        val cond = names.map(n => col(n) <=> col(s"__e_$n")).reduce(_ && _) &&
          coalesce(col("__gf_seq"), lit(0L)) < lit(seq)
        cur = cur.join(del, cond, "left_anti")
      }
    val out = dataCols.map(col) ++ (if (keepLineage)
      Seq(col("__g_path").as(LineagePathCol), col("__g_pos").as(LineagePosCol))
    else Nil)
    cur.select(out: _*)
  }

  /** Column names [[readWithPositions]] appends: the scheme-normalized
    * source file path and the row's position within it — exactly the
    * (file_path, pos) tuple an Iceberg position delete targets. */
  val LineagePathCol = "__graft_file_path"
  val LineagePosCol = "__graft_pos"

  /** [[read]] plus row LINEAGE: two extra columns ([[LineagePathCol]],
    * [[LineagePosCol]]) carrying each live row's (data file, row
    * position) — the input a position-delete writer
    * ([[IcebergMaintenance.deleteWhere]]) needs. Deletes are applied,
    * so the lineage identifies only LIVE rows. */
  def readWithPositions(spark: SparkSession, tableDir: String,
                        asOfSnapshotId: Option[Long] = None): DataFrame = {
    val (files, deletes) = scanState(spark, tableDir, asOfSnapshotId)
    if (files.isEmpty) return spark.emptyDataFrame
    val base = scanData(spark, metadata(spark, tableDir), files.map(_.path))
    if (deletes.isEmpty)
      base.withColumn(LineagePathCol, normPathExpr(col("_metadata.file_path")))
        .withColumn(LineagePosCol, col("_metadata.row_index"))
    else applyDeletes(spark, base, files, deletes,
      metadata(spark, tableDir), keepLineage = true)
  }

  /** Scan data files under the table's CURRENT schema (the chain's
    * `current-schema-id` entry) rather than whatever the first footer
    * says — the schema-evolution contract: files written before an
    * added column null-fill it, a dropped column disappears even from
    * the files that carry it, and column order is the table's. Name
    * resolution = the spec's `schema.name-mapping.default` fallback
    * (this engine's Spark-written parquet carries no embedded field
    * ids). A chain with no parseable schema falls back to footer
    * inference. */
  private def scanData(spark: SparkSession, meta: TableMetadata,
                       paths: Seq[String]): DataFrame =
    IcebergSchema.sparkStruct(meta.schemaJson) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  private[catalog] def assemble(spark: SparkSession, meta: TableMetadata,
                       files: Seq[FileEntry],
                       deletes: Seq[DeleteEntry]): DataFrame =
    if (files.isEmpty) spark.emptyDataFrame
    else {
      val base = scanData(spark, meta, files.map(_.path))
      if (deletes.isEmpty) base
      else applyDeletes(spark, base, files, deletes, meta)
    }

  /** Read the table cold at a snapshot, MERGE-ON-READ deletes applied
    * (an append-only table pays nothing — the plan is the plain
    * multi-file scan). Schema comes from the parquet files themselves
    * (the committed schema and the footers agree — RestCatalogSpec's
    * field-id test pins that). An empty snapshot is an empty frame. */
  def read(spark: SparkSession, tableDir: String,
           asOfSnapshotId: Option[Long] = None): DataFrame = {
    val (files, deletes) = scanState(spark, tableDir, asOfSnapshotId)
    assemble(spark, metadata(spark, tableDir), files, deletes)
  }

  /** INCREMENTAL cold read: exactly the rows ADDED between two
    * snapshots — the nightly-delta shape: the file-set difference of the
    * two snapshots' manifest lists. For the append-only tables this
    * engine writes, that is precisely the later appends' files; a
    * rewrite (same rows, new files) would appear as its new files, as
    * in Iceberg's own incremental-append scan. `fromSnapshotId` is
    * EXCLUSIVE, `toSnapshotId` (default current) inclusive. Like
    * Iceberg's incremental APPEND scan this surfaces added data files
    * only — delete files landing in the window are not applied. */
  def readIncremental(spark: SparkSession, tableDir: String,
                      fromSnapshotId: Long,
                      toSnapshotId: Option[Long] = None): DataFrame = {
    val before = dataFiles(spark, tableDir, Some(fromSnapshotId))
      .map(_.path).toSet
    val after = dataFiles(spark, tableDir, toSnapshotId)
    val fresh = after.filterNot(f => before(f.path))
    if (fresh.isEmpty) spark.emptyDataFrame
    else scanData(spark, metadata(spark, tableDir), fresh.map(_.path))
  }

  /** CDC CHANGELOG read: the NET row-level changes between two
    * snapshots — `_change_type` "insert" rows (added in the window and
    * still live at `to`) and "delete" rows (live at `from`, dead at
    * `to`), each stamped with `_change_snapshot_id` (the append that
    * added it / the delete commit that killed it). This is how a
    * downstream pipeline consumes a curated 100 TB corpus
    * incrementally: train on the inserts, retire the deletes, never
    * rescan the table. `fromSnapshotId` EXCLUSIVE (None = since table
    * creation: pure inserts), `toSnapshotId` (default current)
    * inclusive.
    *
    * Scale shape, derived from v2 sequence arithmetic rather than any
    * row diff: data files at `to` split by sequence number into
    * new-in-window (their live rows ARE the inserts — one scan with
    * the standard delete application) and pre-window (every old file's
    * seq <= seqFrom < any in-window delete's seq, so the spec's
    * "position at-or-below / equality strictly-below" rules reduce to
    * "every new delete group applies"): deleted rows = rows live at
    * `from` SEMI-matched by a new delete group, unioned and deduped by
    * (file, pos) lineage — work proportional to the CHANGE set, never
    * a full-table diff or shuffle. A `replace` (compaction) snapshot
    * inside the window is rejected — it rewrites every file identity
    * and carries no row-level change; consume up to it first (the same
    * boundary Iceberg's own changelog scan draws). */
  def readChangelog(spark: SparkSession, tableDir: String,
                    fromSnapshotId: Option[Long],
                    toSnapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val meta = metadata(spark, tableDir)
    def seqOf(id: Long): Long =
      meta.snapshots.find(_.snapshotId == id).map(_.sequenceNumber).getOrElse(
        throw new IllegalArgumentException(s"snapshot $id not in table metadata"))
    val seqFrom = fromSnapshotId.map(seqOf).getOrElse(0L)
    val seqTo = toSnapshotId.orElse(meta.currentSnapshotId)
      .map(seqOf).getOrElse(0L)
    require(seqTo >= seqFrom,
      s"changelog window is inverted: to (seq $seqTo) precedes from (seq $seqFrom)")
    val inWindow = meta.snapshots
      .filter(s => s.sequenceNumber > seqFrom && s.sequenceNumber <= seqTo)
    inWindow.find(_.summary.getOrElse("operation", "") == "replace").foreach(r =>
      throw new IllegalArgumentException(
        s"changelog window crosses replace snapshot ${r.snapshotId} " +
          "(compaction rewrites file identity, not rows): consume up to it first"))
    val snapBySeq = inWindow.map(s => (s.sequenceNumber, s.snapshotId)).toMap

    val (filesTo, deletesTo) = scanState(spark, tableDir, toSnapshotId)
    val (newFiles, oldFiles) = filesTo.partition(_.dataSequenceNumber > seqFrom)
    val newDeletes = deletesTo.filter(_.sequenceNumber > seqFrom)

    val inserts =
      if (newFiles.isEmpty) None
      else {
        val base = scanData(spark, meta, newFiles.map(_.path))
        val live =
          if (deletesTo.isEmpty)
            base.withColumn(LineagePathCol,
              normPathExpr(col("_metadata.file_path")))
          else applyDeletes(spark, base, newFiles, deletesTo, meta,
            keepLineage = true)
        val snapDf = newFiles.map(f => (normPath(f.path), f.snapshotId))
          .toDF("__i_path", "__i_snap")
        Some(live.join(broadcast(snapDf),
            col(LineagePathCol) === col("__i_path"), "left")
          .withColumn("_change_type", lit("insert"))
          .withColumn("_change_snapshot_id", col("__i_snap"))
          .drop(LineagePathCol, LineagePosCol, "__i_path", "__i_snap"))
      }

    val deleted =
      if (oldFiles.isEmpty || newDeletes.isEmpty) None
      else {
        val nGroups = newDeletes.filter(_.content == 1)
          .map(_.sequenceNumber).distinct.size +
          newDeletes.filter(_.content == 2)
            .map(d => (d.sequenceNumber, d.equalityIds)).distinct.size
        val liveFrom0 = applyDeletes(spark,
          scanData(spark, meta, oldFiles.map(_.path)), oldFiles,
          deletesTo.filter(_.sequenceNumber <= seqFrom), meta,
          keepLineage = true)
        // each delete group is its own semi-join branch over liveFrom;
        // materialize it once instead of rescanning per group
        val liveFrom =
          if (nGroups > 1) liveFrom0.localCheckpoint() else liveFrom0
        val dataCols = liveFrom.columns.toSeq
          .filterNot(c => c == LineagePathCol || c == LineagePosCol)
        // every new delete group applies to every old file (seq
        // arithmetic above), so each group is one small-build SEMI join
        val posHits = newDeletes.filter(_.content == 1)
          .groupBy(_.sequenceNumber).toSeq.map { case (seq, entries) =>
            val del = spark.read.parquet(entries.map(_.path).distinct: _*)
              .select(normPathExpr(col("file_path")).as("__d_path"),
                col("pos").cast("long").as("__d_pos"))
            liveFrom.join(broadcast(del),
                col(LineagePathCol) === col("__d_path") &&
                  col(LineagePosCol) === col("__d_pos"), "left_semi")
              .withColumn("__del_seq", lit(seq))
          }
        val eqHits = newDeletes.filter(_.content == 2)
          .groupBy(d => (d.sequenceNumber, d.equalityIds)).toSeq
          .map { case ((seq, ids), entries) =>
            val names = ids.map(fieldName(meta, _))
            val del = spark.read.parquet(entries.map(_.path).distinct: _*)
              .select(names.map(n => col(n).as(s"__e_$n")): _*)
            liveFrom.join(broadcast(del),
                names.map(n => col(n) <=> col(s"__e_$n")).reduce(_ && _),
                "left_semi")
              .withColumn("__del_seq", lit(seq))
          }
        (posHits ++ eqHits).reduceOption(_ unionByName _).map { hits =>
          // a row killed by several commits: attribute the EARLIEST —
          // the per-lineage min makes the dedup deterministic (all
          // duplicates become identical rows first)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(LineagePathCol), col(LineagePosCol))
          val seqToSnap = typedLit(snapBySeq.map { case (s, id) => (s, id) })
          hits.withColumn("__del_seq", min(col("__del_seq")).over(w))
            .dropDuplicates(LineagePathCol, LineagePosCol)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_change_snapshot_id",
              element_at(seqToSnap, col("__del_seq")))
            .select(dataCols.map(col) ++
              Seq(col("_change_type"), col("_change_snapshot_id")): _*)
        }
      }

    (inserts.toSeq ++ deleted.toSeq).reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame)
  }

  /** Cold time-slice read with TWO-LEVEL metadata pruning: the
    * PARTITION TUPLE first (every default-spec field sourced from
    * `column` — its transform maps `[startUs, endUs)` to a partition
    * value range; files whose tuple value falls outside drop without
    * looking at stats; null tuple values are kept), then per-file
    * MANIFEST STATS (`[lower, upper]` for `column` must intersect the
    * slice; files without stats are kept — can't prune what isn't
    * claimed). Row-level residual filter applied after the scan. */
  def readSlice(spark: SparkSession, tableDir: String, column: String,
                startUs: Long, endUs: Long,
                asOfSnapshotId: Option[Long] = None): DataFrame =
    readRanges(spark, tableDir, Seq(column -> (startUs, endUs)),
      asOfSnapshotId)

  /** MULTI-column cold read with the same two-level pruning as
    * [[readSlice]], one `[lo, hi)` range per named column — the
    * composite-spec point-lookup pattern (e.g. a table partitioned
    * `hour(ts), identity(service)` answering "service 7, last 6 hours"
    * opens only the files in the intersection of both prunes). A
    * single-element equality is `col -> (v, v + 1)`. Every range must
    * pass for a file to open: partition-tuple fields (each file under
    * its OWN manifest's spec) first, manifest `lower/upper_bounds` for
    * each column second, files lacking a tuple value or stats for a
    * column are kept for that check (can't prune what isn't claimed).
    * The row-level residual applies every range after the scan. */
  def readRanges(spark: SparkSession, tableDir: String,
                 ranges: Seq[(String, (Long, Long))],
                 asOfSnapshotId: Option[Long] = None): DataFrame = {
    val meta = metadata(spark, tableDir)
    val fidOf = ranges.map { case (c, _) => c -> fieldId(meta, c) }.toMap
    val defaultFields = IcebergPartitioning.fields(meta)
    val (allFiles, deletes) = scanState(spark, tableDir, asOfSnapshotId)
    val files = allFiles.filter { f =>
      // each file's tuple is interpreted under ITS OWN manifest's spec
      // (partition-spec evolution: a day-partitioned file keeps its
      // day transform after the table moves to hourly) — only fields
      // sourced from a ranged column participate
      val fileFields = f.specFields.getOrElse(defaultFields)
      ranges.forall { case (col, (startUs, endUs)) =>
        val fid = fidOf(col)
        val partitionKeeps = fileFields.filter(_.sourceId == fid).forall { p =>
          f.partition.get(p.name).forall { v =>
            if (IcebergPartitioning.monotone(p.transform))
              v >= IcebergPartitioning.transformValue(p.transform, startUs) &&
                v <= IcebergPartitioning.transformValue(p.transform, endUs - 1)
            else
              // bucket: non-order-preserving, so a RANGE cannot prune —
              // only a point (one-value range) maps to one bucket
              endUs - startUs != 1L ||
                v == IcebergPartitioning.transformValue(p.transform, startUs)
          }
        }
        partitionKeeps &&
          ((f.lowerBounds.get(fid), f.upperBounds.get(fid)) match {
            case (Some(lo), Some(hi)) =>
              val l = IcebergSingleValue.longOf(lo)
              val h = IcebergSingleValue.longOf(hi)
              h >= startUs && l < endUs
            case _ => true // no stats → cannot prune
          })
      }
    }
    // deletes for pruned-away files are harmless in the anti-joins
    // (their (path, pos) / key tuples simply never match)
    val df = assemble(spark, meta, files, deletes)
    if (files.isEmpty) return df
    ranges.foldLeft(df) { case (acc, (column, (startUs, endUs))) =>
      val c =
        if (acc.schema(column).dataType == TimestampType)
          unix_micros(col(column))
        else col(column).cast("long")
      acc.filter(c >= startUs && c < endUs)
    }
  }

  /** The data files a point lookup for `column == value` must open:
    * manifest bounds prune first (free — same check as [[readRanges]]),
    * then the snapshot's BLOOM SIDECAR
    * ([[IcebergMaintenance.writeBloomIndex]]'s Puffin statistics file)
    * prunes the rest. Membership checks run DISTRIBUTED: the driver
    * reads only the sidecar's footer (blob directory); executors
    * range-read their blobs' slices and deserialize the sketches —
    * a 10^6-file index never lands on one node. Files without a blob
    * (or a table without a sidecar) are kept, never silently skipped:
    * no false negatives by construction. Exposed for the spec/bench;
    * [[readPoint]] is the query surface. */
  private[graft] def pointFiles(spark: SparkSession, tableDir: String,
                                column: String, value: Any,
                                asOfSnapshotId: Option[Long] = None)
      : (Seq[FileEntry], Seq[DeleteEntry], TableMetadata) = {
    val meta = metadata(spark, tableDir)
    val snapId = resolveSnapshot(meta, asOfSnapshotId).map(_.snapshotId)
    val (allUnpart, dels) = scanState(spark, tableDir, asOfSnapshotId)
    val fid = fieldId(meta, column)
    // PARTITION-TUPLE prune (r14, the bucket[N] payoff): a point
    // lookup maps to exactly one partition value under every transform
    // — bucket included (string needles hash through the spec's
    // murmur3; string tuples are ints, so this is the one tuple prune
    // a string needle gets). Null tuple values are kept, as always.
    val defaultFields = IcebergPartitioning.fields(meta)
    val all = allUnpart.filter { f =>
      val fileFields = f.specFields.getOrElse(defaultFields)
      fileFields.filter(_.sourceId == fid).forall { p =>
        f.partition.get(p.name).forall { v =>
          value match {
            case l: Long =>
              v == IcebergPartitioning.transformValue(p.transform, l)
            case s: String =>
              p.transform match {
                case bt if bt.startsWith("bucket[") =>
                  val n = bt.stripPrefix("bucket[").stripSuffix("]").toInt
                  v == IcebergPartitioning.bucketValueString(n, s)
                case _ => true // non-bucket transform over a string: keep
              }
            case _ => true
          }
        }
      }
    }
    // manifest zone-map prune — long/timestamp needles only (string
    // bounds are truncated under the Iceberg spec; the bloom below is
    // the string needle's prune lever, so skipping bounds for strings
    // loses nothing and can never false-negative)
    val bounded = value match {
      case needle: Long => all.filter { f =>
        (f.lowerBounds.get(fid), f.upperBounds.get(fid)) match {
          case (Some(lo), Some(hi)) =>
            IcebergSingleValue.longOf(lo) <= needle &&
              needle <= IcebergSingleValue.longOf(hi)
          case _ => true // no stats → cannot prune
        }
      }
      case _ => all
    }
    val sidecar = meta.statistics.find(s => snapId.contains(s.snapshotId))
    val kept = sidecar match {
      case None => bounded
      case Some(sf) =>
        val conf = spark.sparkContext.hadoopConfiguration
        val (blobs, _) = Puffin.readFooter(conf, sf.path)
        // per-blob probe key: hash-keyed sketches (bloom_keys =
        // xxhash64) probe the needle's hash; legacy raw-long sketches
        // probe the raw long. A sketch we cannot probe (legacy blob,
        // string needle) is treated as ABSENT — its file stays kept,
        // never silently skipped: no false negatives by construction.
        val hashedNeedle = graft.functions.BloomKeys.keyOf(value)
        val byFile = blobs
          .filter(b => b.blobType == "graft-bloom-v1" &&
            b.properties.get("bloom_col").contains(column))
          .flatMap { b =>
            val probe: Option[Long] =
              if (b.properties.get("bloom_keys")
                    .contains(graft.functions.BloomKeys.Scheme))
                Some(hashedNeedle)
              else value match {
                case l: Long => Some(l)
                case _       => None // legacy long sketch, non-long needle
              }
            for (f <- b.properties.get("file_path"); pv <- probe)
              yield f -> ((b, pv))
          }.toMap
        val checks = bounded.flatMap(f => byFile.get(normPath(f.path))
          .map { case (b, pv) => (normPath(f.path), b.offset, b.length, pv) })
        val hits: Set[String] =
          if (checks.isEmpty) Set.empty
          else {
            val confB = spark.sparkContext.broadcast(
              new org.apache.spark.util.SerializableConfiguration(conf))
            val sfPath = sf.path
            val slices = math.max(1, math.min(checks.length,
              spark.sparkContext.defaultParallelism))
            spark.sparkContext.parallelize(checks.toIndexedSeq, slices)
              .mapPartitions { it =>
                val c = confB.value.value
                it.flatMap { case (p, off, len, pv) =>
                  val bytes = Puffin.readBlob(c, sfPath,
                    Puffin.BlobMeta("graft-bloom-v1", Nil, 0L, 0L, off, len,
                      Map.empty))
                  val bf = org.apache.spark.util.sketch.BloomFilter
                    .readFrom(new java.io.ByteArrayInputStream(bytes))
                  if (bf.mightContainLong(pv)) Some(p) else None
                }
              }.collect().toSet
          }
        bounded.filter(f =>
          !byFile.contains(normPath(f.path)) || hits(normPath(f.path)))
    }
    (kept, dels, meta)
  }

  /** Column NDV from the snapshot's statistics sidecar alone —
    * METADATA-ONLY: the sidecar footer plus one small blob per column
    * (≤ k longs), no data file opened (the planner's join-cardinality
    * read at 100 TB). Returns (column, ndv, exact): `exact` when the
    * KMV saw fewer than its k distinct hashes (the blob then IS the
    * distinct set size); otherwise the (k−1)/x₍ₖ₎ estimate (~1/√k
    * relative error). Columns without a `graft-kmv-ndv-v1` blob at the
    * resolved snapshot simply don't appear. */
  def ndvFromStats(spark: SparkSession, tableDir: String,
                   asOfSnapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val meta = metadata(spark, tableDir)
    val snapId = resolveSnapshot(meta, asOfSnapshotId).map(_.snapshotId)
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = meta.statistics.filter(s => snapId.contains(s.snapshotId))
      .flatMap { sf =>
        val (blobs, _) = Puffin.readFooter(conf, sf.path)
        blobs.filter(_.blobType == "graft-kmv-ndv-v1").flatMap { b =>
          b.properties.get("ndv_col").map { c =>
            val bytes = Puffin.readBlob(conf, sf.path, b)
            val in = new java.io.DataInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val n = in.readLong().toInt
            val hashes = Array.fill(n)(in.readLong())
            val k = b.properties.get("k").map(_.toInt).getOrElse(n)
            if (n < k) (c, n.toLong, true)
            else {
              // k-th smallest hash as an unsigned fraction of 2^64
              val u = hashes.last.toDouble / math.pow(2.0, 64) + 0.5
              (c, math.round((k - 1) / u), false)
            }
          }
        }
      }
    rows.toDF("column", "ndv", "exact")
  }

  /** Needle lookup: `column == value` reading only the files the
    * bounds + bloom-sidecar prune keeps (1+ε at any table size), with
    * the row-level residual keeping exactness through bloom false
    * positives and merge-on-read deletes applied as in every other
    * read path. Accepts LONG needles (numeric/timestamp-micros
    * columns) and STRING needles (the trace_id hex lookup — the most
    * common telemetry needle). */
  def readPoint(spark: SparkSession, tableDir: String, column: String,
                value: Any, asOfSnapshotId: Option[Long] = None): DataFrame = {
    val (files, deletes, meta) =
      pointFiles(spark, tableDir, column, value, asOfSnapshotId)
    val df = assemble(spark, meta, files, deletes)
    if (files.isEmpty) return df
    val c = value match {
      case _: String => col(column)
      case _ if df.schema(column).dataType == TimestampType =>
        unix_micros(col(column))
      case _ => col(column).cast("long")
    }
    df.filter(c === lit(value))
  }

}
