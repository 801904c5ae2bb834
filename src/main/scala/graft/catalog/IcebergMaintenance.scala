package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.IcebergTableReader.{DeleteEntry, FileEntry}
import graft.catalog.RestCatalogClient.DataFile
import graft.functions.GraftFunctions.{bottomKDistinct, icebergBucket}

/** High-level Iceberg v2 table MAINTENANCE over the catalog-free
  * chain — the user-facing verbs a curated 100 TB corpus needs on top
  * of [[IcebergCommit]]'s low-level commits:
  *
  *   - [[deleteWhere]]    — position-delete commit from a predicate
  *                          (merge-on-read: no data file rewritten);
  *   - [[deleteMatching]] — equality-delete commit from a key frame
  *                          (the right-to-be-forgotten shape: the
  *                          commit cost is the key set, the 100 TB
  *                          table is untouched);
  *   - [[upsert]]         — MERGE INTO: equality-delete + append in
  *                          ONE snapshot (update matched keys, insert
  *                          the rest) at O(|updates|), never scanning
  *                          the table;
  *   - [[compact]]        — materialize merge-on-read state into
  *                          fresh data files via a REPLACE snapshot
  *                          (read amplification returns to zero, old
  *                          snapshots keep time-traveling);
  *   - [[expireSnapshots]]— prune history from the metadata chain and
  *                          physically reclaim files no retained
  *                          snapshot references (the step that
  *                          actually frees the compacted-away bytes);
  *   - [[removeOrphanFiles]] — reclaim unreferenced debris of crashed
  *                          writes (grace-windowed, chain untouched);
  *   - [[createBranch]] / [[createTag]] / [[fastForward]] / [[dropRef]]
  *                        — snapshot refs: stage commits on a branch,
  *                          audit them, fast-forward publish to main
  *                          (write-audit-publish), pin releases with
  *                          expiry-shielding tags.
  *
  * Together with [[IcebergTableReader]]'s delete application this is
  * the full DML lifecycle the reference stack delegates to its
  * catalog+engine pair (`/root/reference/internal/iceberg/catalog_rest.go`
  * owns only the append; deletes/compaction/expiry are left to the
  * query engine — this object IS that engine half).
  *
  * Scale shape: the delete verbs scan the table ONCE distributed
  * (predicate evaluation / key anti-identification is executor-side;
  * only the matched (path, pos) or key tuples come back through a
  * parquet write), compaction is one distributed read→write of live
  * rows, and expiry is pure driver-side metadata diffing — no
  * operation here shuffles the table. */
object IcebergMaintenance {

  /** Position-delete parquet columns per the Iceberg spec ("Position
    * Delete Files"): `file_path` (field id 2147483546), `pos`
    * (2147483545). Paths are written in manifest form (no `file:`
    * scheme) so any reader's path equality holds. */
  private val PosPathCol = "file_path"
  private val PosCol = "pos"

  /** The parquet files a write left in `dir`, spelled under `dir`. */
  private def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(n => s"${dir.stripSuffix("/")}/$n").sorted
  }

  private def removeDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  private def tableMeta(spark: SparkSession, tableDir: String) =
    IcebergTableReader.metadata(spark, tableDir)

  /** MERGE-ON-READ DELETE by predicate: scan the current live state,
    * record the (file, row-position) of every matching row as a
    * position-delete parquet, commit it as a `delete` snapshot. Rows
    * already dead under existing deletes are skipped (the scan applies
    * them first), so the written delete set is exactly the NEWLY
    * deleted rows; returns (snapshotId, deletedRowCount). A predicate
    * matching nothing commits nothing and returns (-1, 0). */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: Column): (Long, Long) = {
    val live = IcebergTableReader.readWithPositions(spark, tableDir)
    if (live.columns.isEmpty) return (-1L, 0L) // empty table
    val hits = live.filter(predicate)
      .select(
        col(IcebergTableReader.LineagePathCol).as(PosPathCol),
        col(IcebergTableReader.LineagePosCol).cast("long").as(PosCol))
      .orderBy(col(PosPathCol), col(PosCol)) // spec: sorted by (path, pos)
    val outDir = s"$tableDir/data/pos-delete-${System.nanoTime()}"
    hits.coalesce(1).write.parquet(outDir)
    commitDeleteDir(spark, tableDir, outDir, content = 1, equalityIds = Nil)
  }

  /** MERGE-ON-READ DELETE by key set (Iceberg equality deletes): every
    * row whose `keys.columns` tuple null-safe-equals a key row is dead
    * from this snapshot on. The table is never scanned — the commit
    * cost is O(|keys|): the GDPR / right-to-be-forgotten verb. Rows
    * inserted AFTER this snapshot with the same keys live (equality
    * deletes apply strictly below their sequence number). Returns
    * (snapshotId, keyCount). */
  def deleteMatching(spark: SparkSession, tableDir: String,
                     keys: DataFrame): (Long, Long) = {
    val meta = tableMeta(spark, tableDir)
    val ids = keys.columns.toSeq.map(IcebergTableReader.fieldId(meta, _))
    val outDir = s"$tableDir/data/eq-delete-${System.nanoTime()}"
    keys.distinct().coalesce(1).write.parquet(outDir)
    commitDeleteDir(spark, tableDir, outDir, content = 2, equalityIds = ids)
  }

  /** MERGE-ON-READ UPSERT (the MERGE INTO … WHEN MATCHED UPDATE WHEN
    * NOT MATCHED INSERT shape): commit `updates` as fresh data files
    * AND an equality delete over `keyCols` in ONE snapshot — existing
    * rows whose key tuple appears in `updates` are retired (the
    * equality delete applies strictly below the new sequence number),
    * the new rows land untouched (they sit AT it). The table is never
    * scanned: cost is O(|updates|), the nightly-refresh property for a
    * 100 TB dimension feed. `updates` must be key-unique (two rows
    * sharing a key tuple would BOTH survive — same as two inserts).
    * `statsColumn` harvests per-file bounds so slice pruning covers
    * the new files. Returns (snapshotId, upsertRowCount); an empty
    * frame commits nothing and returns (-1, 0). */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
             keyCols: Seq[String], statsColumn: Option[String] = None,
             numFiles: Int = 1,
             extraSummary: Map[String, String] = Map.empty): (Long, Long) =
    stageUpsert(spark, tableDir, updates, keyCols, statsColumn, numFiles,
      extraSummary).fold((-1L, 0L))(s => (s.commit(), s.files.map(_.recordCount).sum))

  /** An [[upsert]] whose data and key files are written: `commit`
    * publishes them as one snapshot and returns its id. */
  private[graft] final case class StagedUpsert(files: Seq[DataFile], commit: () => Long)

  /** [[upsert]]'s write half; None (and no files left behind) when
    * `updates` is empty. */
  private[graft] def stageUpsert(spark: SparkSession, tableDir: String,
                                 updates: DataFrame, keyCols: Seq[String],
                                 statsColumn: Option[String], numFiles: Int,
                                 extraSummary: Map[String, String])
      : Option[StagedUpsert] = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val meta = tableMeta(spark, tableDir)
    val ids = keyCols.map(IcebergTableReader.fieldId(meta, _))
    val stamp = System.nanoTime()
    writeUpsertFiles(spark, updates.repartition(numFiles), keyCols,
      s"$tableDir/data/upsert-$stamp", s"$tableDir/data/eq-delete-$stamp",
      statsColumn.map(c => (IcebergTableReader.fieldId(meta, c), c)).toSeq
    ).map { case (data, keys) =>
      StagedUpsert(data, () => IcebergCommit.commitStandaloneUpsert(
        spark.sessionState.newHadoopConf(), tableDir, meta.schemaJson,
        None, data, keys.map(IcebergCommit.DeleteFileSpec(_, content = 2, ids)),
        extraSummary))
    }
  }

  /** Write `updates` under `dataDir`, then the distinct `keyCols`
    * tuples of the WRITTEN files under `keyDir` — re-read, not taken
    * from the input plan: a nondeterministic `updates` (sample,
    * shuffle-order top-k) could otherwise delete keys that differ from
    * the rows that landed. Returns (data files, key files); None, with
    * `dataDir` removed, when no row landed. */
  private[graft] def writeUpsertFiles(spark: SparkSession, updates: DataFrame,
                                      keyCols: Seq[String], dataDir: String,
                                      keyDir: String, stats: Seq[(Int, String)] = Nil)
      : Option[(Seq[DataFile], Seq[DataFile])] = {
    updates.write.parquet(dataDir)
    val data = DataFiles.describe(spark, listParquet(spark, dataDir), stats)
    if (data.map(_.recordCount).sum == 0L) { removeDir(spark, dataDir); return None }
    spark.read.parquet(data.map(_.path): _*).select(keyCols.map(col): _*)
      .distinct().coalesce(1).write.parquet(keyDir)
    Some((data, DataFiles.describe(spark, listParquet(spark, keyDir))))
  }

  private def commitDeleteDir(spark: SparkSession, tableDir: String,
                              outDir: String, content: Int,
                              equalityIds: Seq[Int]): (Long, Long) = {
    val meta = tableMeta(spark, tableDir)
    val files = DataFiles.describe(spark, listParquet(spark, outDir))
    val rows = files.map(_.recordCount).sum
    if (rows == 0L) { // nothing matched: no empty snapshot, no orphan dir
      removeDir(spark, outDir)
      return (-1L, 0L)
    }
    val snap = IcebergCommit.commitStandaloneDeletes(
      spark.sessionState.newHadoopConf(), tableDir, meta.schemaJson,
      None, files.map(IcebergCommit.DeleteFileSpec(_, content, equalityIds)))
    (snap, rows)
  }

  /** COMPACT the table: read the current snapshot with all deletes
    * applied, rewrite the live rows as fresh data files, commit a
    * REPLACE snapshot whose manifest list references ONLY them — read
    * amplification drops to zero and subsequent scans never touch the
    * delete files again. `statsColumn` (when given) harvests per-file
    * min/max bounds for it so slice pruning keeps working on the
    * compacted files. Old snapshots still time-travel through their
    * own untouched manifest lists; [[expireSnapshots]] reclaims the
    * superseded bytes. Returns (snapshotId, liveRowCount). */
  def compact(spark: SparkSession, tableDir: String,
              statsColumn: Option[String] = None,
              numFiles: Int = 1): (Long, Long) = {
    val meta = tableMeta(spark, tableDir)
    val live = IcebergTableReader.read(spark, tableDir)
    val outDir = s"$tableDir/data/compact-${System.nanoTime()}"
    live.repartition(numFiles).write.parquet(outDir)
    val files = DataFiles.describe(spark, listParquet(spark, outDir),
      statsColumn.map(c => (IcebergTableReader.fieldId(meta, c), c)).toSeq)
    val snap = IcebergCommit.commitStandaloneReplace(
      spark.sessionState.newHadoopConf(), tableDir, meta.schemaJson,
      None, files)
    (snap, files.map(_.recordCount).sum)
  }

  /** Files a snapshot's manifest list reaches: the list itself, every
    * manifest, every data/delete file path. */
  private def reachable(spark: SparkSession, tableDir: String,
                        snapshotId: Long): Set[String] = {
    val meta = tableMeta(spark, tableDir)
    val snap = meta.snapshots.find(_.snapshotId == snapshotId).get
    val (data, dels) = IcebergTableReader.scanState(
      spark, tableDir, Some(snapshotId))
    val manifests = {
      val p = new Path(snap.manifestList)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) Seq.empty[String]
      else {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        AvroOcf.read(bytes)._2.collect {
          case m: Map[String, Any] @unchecked =>
            m("manifest_path").asInstanceOf[String]
        }
      }
    }
    (Set(snap.manifestList) ++ manifests ++
      data.map(_.path) ++ dels.map(_.path))
  }

  final case class OrphanReport(deleted: Seq[String], kept: Seq[String])

  /** Remove ORPHAN files: anything under the table location that no
    * retained snapshot reaches — the debris of writes that crashed
    * between landing files and committing the snapshot (the metadata
    * version flip is atomic, so a crash never leaves a partial
    * snapshot, only unreferenced bytes; [[graft.streaming.IcebergCdcSink]]
    * leans on this). Files modified at or after `olderThanMs` are kept
    * (the in-flight-writer grace window every orphan sweep needs —
    * default 24 h back). The metadata chain itself
    * (`vN.metadata.json`, `version-hint.text`) is never touched:
    * versions are the recovery record. Driver-side metadata walk; no
    * table scan. */
  def removeOrphanFiles(spark: SparkSession, tableDir: String,
                        olderThanMs: Long =
                          System.currentTimeMillis() - 24L * 3600 * 1000)
      : OrphanReport = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = tableMeta(spark, tableDir)
    val live = meta.snapshots.map(_.snapshotId)
      .flatMap(id => reachable(spark, tableDir, id)).toSet
    val root = new Path(tableDir)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    val candidates = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(_.isFile)
      .map(st => (st.getPath, st.getModificationTime))
      .filterNot { case (p, _) =>
        val n = p.getName
        n.endsWith(".metadata.json") || n == "version-hint.text"
      }.toVector
    val (old, fresh) = candidates.partition(_._2 < olderThanMs)
    val orphans = old.map(_._1)
      .filterNot(p => live(p.toString) || live(normUri(p)))
    orphans.foreach(p => fs.delete(p, false))
    OrphanReport(orphans.map(_.toString),
      fresh.map(_._1.toString).filterNot(live))
  }

  /** Hadoop `Path.toString` may carry a `file:` scheme the manifest
    * paths lack — compare both spellings. */
  private def normUri(p: Path): String =
    p.toUri.getPath

  /** PARTITION-SPEC EVOLUTION on the catalog-free chain — the
    * standalone twin of [[RestCatalogClient.updatePartitionSpec]] (the
    * reference repartitioner's re-registration,
    * `/root/reference/internal/recovery/repartitioner.go`): register a
    * new default spec with `granularity`'s time transform on
    * `tsColumn`. Metadata-only and instant at any table size: one new
    * vN.metadata.json whose `partition-specs` array KEEPS every prior
    * spec (old manifests stay stamped with their original spec-id and
    * keep pruning under their original transform — the reader resolves
    * tuples per manifest); only FUTURE commits derive tuples under the
    * new spec. Field-ids: a (source, transform) pair already present in
    * any recorded spec reuses its field-id and name, a new one gets
    * max+1 (≥1000), per the spec's partition-field-id rules. Returns
    * the new default spec-id. */
  def updateSpec(spark: SparkSession, tableDir: String,
                 tsColumn: String, granularity: String): Int = {
    import org.json4s._
    val meta = tableMeta(spark, tableDir)
    val srcId = IcebergTableReader.fieldId(meta, tsColumn)
    val (baseName, transform) =
      RestCatalogClient.granularityTransform(granularity)
    val prevFields = meta.partitionSpecsJson
      .flatMap(IcebergPartitioning.fieldsOf)
    val (name, fieldId) = prevFields
      .find(p => p.sourceId == srcId && p.transform == transform)
      .map(p => (p.name, p.fieldId))
      .getOrElse((s"${tsColumn}_$baseName",
        prevFields.map(_.fieldId).foldLeft(999)(math.max) + 1))
    val spec = JObject("fields" -> JArray(List(JObject(
      "name" -> JString(name), "transform" -> JString(transform),
      "source-id" -> JInt(srcId), "field-id" -> JInt(fieldId)))))
    IcebergTableMetadata.commit(
      spark.sessionState.newHadoopConf(), tableDir,
      meta.schemaJson, Some(spec), None)
    tableMeta(spark, tableDir).defaultSpecId
  }

  /** Manifest REWRITE (Iceberg's rewrite_manifests): reorganize the
    * live metadata into one data manifest per partition spec plus at
    * most one deletes manifest — data files untouched, per-entry
    * sequence numbers and adding snapshots preserved (EXISTING
    * entries), so merge-on-read ordering, changelog attribution, and
    * time travel all survive. Run it after many small streaming
    * appends each left a one-file manifest: planning cost returns to
    * O(1) manifests without rewriting a byte of data. Returns the new
    * snapshot id, or -1 on an empty table. */
  def rewriteManifests(spark: SparkSession, tableDir: String): Long = {
    import org.json4s._
    val meta = tableMeta(spark, tableDir)
    val (files, dels) = IcebergTableReader.scanState(spark, tableDir)
    if (files.isEmpty && dels.isEmpty) return -1L
    val defaultFields = IcebergPartitioning.fields(meta)
    def specIdOf(fields: Seq[IcebergPartitioning.PartField]): Int =
      meta.partitionSpecsJson.find(sp =>
        IcebergPartitioning.fieldsOf(sp) == fields)
        .flatMap(sp => (sp \ "spec-id").toOption
          .collect { case JInt(n) => n.toInt })
        .getOrElse(meta.defaultSpecId)
    val groups = files.groupBy(_.specFields.getOrElse(defaultFields))
      .toSeq.map { case (pf, fs) => (specIdOf(pf), pf, fs) }
      .sortBy(_._1)
      .map { case (sid, pf, fs) =>
        (sid, pf, fs.sortBy(_.path).map { f =>
          val ids = (f.lowerBounds.keySet & f.upperBounds.keySet).toSeq.sorted
          IcebergCommit.RewriteDataEntry(
            DataFile(f.path, f.sizeBytes, f.recordCount,
              ids.map(id => (id, f.lowerBounds(id), f.upperBounds(id)))),
            f.dataSequenceNumber, f.snapshotId,
            pf.map(p => f.partition.get(p.name)))
        })
      }
    val delEntries = dels.sortBy(_.path).map(d =>
      IcebergCommit.RewriteDeleteEntry(
        DataFile(d.path, d.sizeBytes, d.recordCount, Nil),
        d.content, d.equalityIds, d.sequenceNumber, d.snapshotId))
    IcebergCommit.commitStandaloneRewriteManifests(
      spark.sessionState.newHadoopConf(), tableDir, meta.schemaJson,
      groups, delEntries, deleteSpec = (meta.defaultSpecId, defaultFields))
  }

  final case class RewriteFilesReport(snapshotId: Long, rewrittenFiles: Int,
                                      rewrittenBytes: Long, addedFiles: Int,
                                      keptFiles: Int)

  /** BIN-PACK data-file compaction — Iceberg's `rewrite_data_files`
    * (binpack / sort strategies), the selective sibling of [[compact]]:
    * only data files SMALLER than `smallFileThresholdBytes` are
    * rewritten, per partition tuple, into ~`targetFileSizeBytes`
    * outputs; every other data file and all delete files carry through
    * UNTOUCHED as EXISTING entries with their original sequence
    * numbers. At 100 TB this is the only affordable shape: a streaming
    * sink that lands a few MB per micro-batch fragments each partition
    * into hundreds of files, and the fix must rewrite those megabytes —
    * never the terabytes sitting in already-well-sized files (which
    * [[compact]] would).
    *
    * Merge-on-read correctness: the rewritten rows are read WITH
    * deletes applied, and the fresh files enter at the new snapshot's
    * sequence number — strictly above every live delete — so position
    * deletes (path-keyed) and equality deletes (strictly-below rule)
    * cannot re-apply to them, while kept files retain their original
    * sequence numbers so existing deletes still apply exactly as
    * before. Position deletes that referenced only rewritten paths
    * become inert (path never matches) and are reclaimed by the next
    * [[compact]] + [[expireSnapshots]].
    *
    * `sortBy` selects the SORT strategy: each rewritten group is
    * range-partitioned and sorted on those columns, so per-file
    * min/max bounds turn disjoint and [[IcebergTableReader.readSlice]]
    * pruning tightens from "every small file straddles the key space"
    * to one file per probe. `statsColumn` harvests per-file bounds for
    * the new files (same contract as [[compact]]).
    *
    * Only files on the CURRENT default partition spec are candidates:
    * an old-spec file's rows would need row-level re-projection into
    * the new spec's tuple space (that migration is [[updateSpec]] +
    * a full [[compact]]). Groups need >= `minInputFiles` small files
    * to bother. Returns the report; nothing to do → snapshotId -1. */
  def rewriteDataFiles(spark: SparkSession, tableDir: String,
                       smallFileThresholdBytes: Long = 32L << 20,
                       targetFileSizeBytes: Long = 128L << 20,
                       minInputFiles: Int = 2,
                       statsColumn: Option[String] = None,
                       sortBy: Seq[String] = Nil): RewriteFilesReport = {
    import org.json4s._
    val meta = tableMeta(spark, tableDir)
    val (files, dels) = IcebergTableReader.scanState(spark, tableDir)
    val defaultFields = IcebergPartitioning.fields(meta)
    val (onDefault, offSpec) =
      files.partition(_.specFields.forall(_ == defaultFields))
    val candidates = onDefault
      .filter(_.sizeBytes < smallFileThresholdBytes)
      .groupBy(f => defaultFields.map(p => f.partition.get(p.name)))
      .filter(_._2.size >= minInputFiles)
      .toSeq.sortBy(_._1.map(_.getOrElse(Long.MinValue)).mkString(","))
    if (candidates.isEmpty)
      return RewriteFilesReport(-1L, 0, 0L, 0, files.size)
    val rewrittenPaths = candidates.flatMap(_._2.map(_.path)).toSet

    // one distributed read→write per fragmented partition group, the
    // group's deletes applied in the read; explicit tuple rides the
    // DataFile so the commit never re-derives partition math.
    val newFiles = candidates.zipWithIndex.flatMap {
      case ((tuple, group), gi) =>
        val rows = IcebergTableReader.assemble(
          spark, meta, group.sortBy(_.path), dels)
        val nOut = math.max(1L, (group.map(_.sizeBytes).sum +
          targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
        val packed =
          if (sortBy.nonEmpty) {
            val cols = sortBy.map(col)
            (if (nOut > 1) rows.repartitionByRange(nOut, cols: _*)
             else rows.coalesce(1)).sortWithinPartitions(cols: _*)
          } else rows.repartition(nOut)
        val outDir = s"$tableDir/data/rewrite-${System.nanoTime()}-$gi"
        packed.write.parquet(outDir)
        // harvest bounds for EVERY field id the input group carried,
        // plus the explicitly requested statsColumn — compaction must
        // not erase the pruning metadata the superseded files had, or
        // post-rewrite readSlice/readRanges on those columns degrades
        // to opening every rewritten file (r16 ADVICE). Limitation:
        // the footer harvester round-trips INT32/INT64-physical
        // columns only (timestamps as micros); bounds another engine
        // wrote for string/binary columns do not survive a rewrite
        // through this path.
        val groupIds = group
          .flatMap(f => (f.lowerBounds.keySet & f.upperBounds.keySet))
          .distinct
        val wantIds = (groupIds ++ statsColumn.toSeq.map(c =>
          IcebergTableReader.fieldId(meta, c))).distinct.sorted
        val stats = wantIds.flatMap(fid =>
          scala.util.Try(IcebergTableReader.fieldName(meta, fid)).toOption.map(fid -> _))
        DataFiles.describe(spark, listParquet(spark, outDir), stats, _ => tuple)
    }

    // kept files (well-sized + off-spec) as EXISTING entries, grouped
    // per spec exactly like rewriteManifests; deletes all carry.
    def specIdOf(fields: Seq[IcebergPartitioning.PartField]): Int =
      meta.partitionSpecsJson.find(sp =>
        IcebergPartitioning.fieldsOf(sp) == fields)
        .flatMap(sp => (sp \ "spec-id").toOption
          .collect { case JInt(n) => n.toInt })
        .getOrElse(meta.defaultSpecId)
    val kept = (onDefault.filterNot(f => rewrittenPaths(f.path)) ++ offSpec)
    val keptGroups = kept.groupBy(_.specFields.getOrElse(defaultFields))
      .toSeq.map { case (pf, fs) => (specIdOf(pf), pf, fs) }
      .sortBy(_._1)
      .map { case (sid, pf, fs) =>
        (sid, pf, fs.sortBy(_.path).map { f =>
          val ids = (f.lowerBounds.keySet & f.upperBounds.keySet).toSeq.sorted
          IcebergCommit.RewriteDataEntry(
            DataFile(f.path, f.sizeBytes, f.recordCount,
              ids.map(id => (id, f.lowerBounds(id), f.upperBounds(id)))),
            f.dataSequenceNumber, f.snapshotId,
            pf.map(p => f.partition.get(p.name)))
        })
      }
    val delEntries = dels.sortBy(_.path).map(d =>
      IcebergCommit.RewriteDeleteEntry(
        DataFile(d.path, d.sizeBytes, d.recordCount, Nil),
        d.content, d.equalityIds, d.sequenceNumber, d.snapshotId))
    val snap = IcebergCommit.commitStandaloneRewriteManifests(
      spark.sessionState.newHadoopConf(), tableDir, meta.schemaJson,
      keptGroups, delEntries,
      deleteSpec = (meta.defaultSpecId, defaultFields),
      addedFiles = newFiles,
      addedSpec = (meta.defaultSpecId, defaultFields))
    RewriteFilesReport(snap, rewrittenPaths.size,
      candidates.flatMap(_._2.map(_.sizeBytes)).sum, newFiles.size,
      kept.size)
  }

  final case class MaintenanceReport(
      filesRewrite: RewriteFilesReport, manifestsRewritten: Boolean,
      expiredSnapshots: Seq[Long], orphansDeleted: Seq[String])

  /** The NIGHTLY TABLE SERVICE — the four maintenance verbs composed
    * in dependency order, each firing only when its trigger condition
    * holds (so an already-healthy table is a metadata-read no-op):
    *
    *   1. [[rewriteDataFiles]] when any partition has >= `minInputFiles`
    *      files under the size threshold (bin-pack the streaming
    *      fragmentation first — it CREATES manifest churn);
    *   2. [[rewriteManifests]] when the snapshot carries more than
    *      `maxManifests` manifests (collapse planning cost after the
    *      appends + the rewrite above);
    *   3. [[expireSnapshots]] keeping the last `keepSnapshots`
    *      (refs/tags stay shielded) — reclaims the bytes the rewrites
    *      retired;
    *   4. [[removeOrphanFiles]] with the grace window — sweeps crashed-
    *      write debris.
    *
    * At 100 TB every step's cost is proportional to what is WRONG with
    * the table (small files rewritten, manifests decoded, dead bytes
    * deleted), never to table size — the property that makes running
    * this nightly affordable. */
  def runMaintenance(spark: SparkSession, tableDir: String,
                     smallFileThresholdBytes: Long = 32L << 20,
                     targetFileSizeBytes: Long = 128L << 20,
                     minInputFiles: Int = 4,
                     sortBy: Seq[String] = Nil,
                     statsColumn: Option[String] = None,
                     maxManifests: Int = 8,
                     keepSnapshots: Int = 3,
                     orphanOlderThanMs: Long =
                       System.currentTimeMillis() - 24L * 3600 * 1000)
      : MaintenanceReport = {
    val filesReport = rewriteDataFiles(spark, tableDir,
      smallFileThresholdBytes, targetFileSizeBytes, minInputFiles,
      statsColumn, sortBy)
    val manifestCount = IcebergTableReader.manifestsDf(spark, tableDir)
      .count()
    val manifestsRewritten =
      manifestCount > maxManifests && rewriteManifests(spark, tableDir) > 0
    val expiry = expireSnapshots(spark, tableDir, keepSnapshots)
    val orphans = removeOrphanFiles(spark, tableDir, orphanOlderThanMs)
    MaintenanceReport(filesReport, manifestsRewritten,
      expiry.expiredSnapshots, orphans.deleted)
  }

  // ---- snapshot refs: branches, tags, write-audit-publish ----------

  import IcebergTableMetadata.SnapshotRef

  private def setRef(spark: SparkSession, tableDir: String, name: String,
                     refType: String, at: Option[Long]): Long = {
    val meta = tableMeta(spark, tableDir)
    val target = at.orElse(meta.currentSnapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"table $tableDir has no snapshot to point '$name' at"))
    require(meta.snapshots.exists(_.snapshotId == target),
      s"snapshot $target not in table metadata")
    IcebergTableMetadata.commit(spark.sessionState.newHadoopConf(),
      tableDir, meta.schemaJson, None, None,
      updateRefs = Map(name -> Some(SnapshotRef(target, refType))))
    target
  }

  /** Create (or move) a BRANCH ref at `at` (default: main's head).
    * Commits land on it via `IcebergCommit.commitStandalone(...,
    * branch = name)` without moving what plain reads see — the staging
    * half of write-audit-publish. Returns the snapshot it points at. */
  def createBranch(spark: SparkSession, tableDir: String, name: String,
                   at: Option[Long] = None): Long = {
    require(name != "main", "main already exists")
    setRef(spark, tableDir, name, "branch", at)
  }

  /** Create a TAG ref — an immutable pin (commits to it are rejected)
    * that also shields its snapshot from [[expireSnapshots]]: the
    * release/audit-hold verb. */
  def createTag(spark: SparkSession, tableDir: String, name: String,
                at: Option[Long] = None): Long = {
    require(name != "main", "cannot tag over the main branch ref")
    setRef(spark, tableDir, name, "tag", at)
  }

  /** Drop a ref. The snapshots it pinned stay in history until
    * [[expireSnapshots]] reclaims them. */
  def dropRef(spark: SparkSession, tableDir: String, name: String): Unit = {
    require(name != "main", "cannot drop the main branch")
    val meta = tableMeta(spark, tableDir)
    require(meta.refs.contains(name), s"no ref '$name' to drop")
    IcebergTableMetadata.commit(spark.sessionState.newHadoopConf(),
      tableDir, meta.schemaJson, None, None,
      updateRefs = Map(name -> None))
    ()
  }

  /** PUBLISH: fast-forward `to` (default main) onto `from`'s head.
    * Requires `to`'s head to be an ancestor of `from`'s — the audited
    * branch must contain everything published so far; a diverged
    * branch is rejected (re-stage it instead of silently dropping
    * main's commits). Publishing to main is atomic for readers: the
    * metadata version flip IS the publication. Returns the published
    * snapshot id. */
  def fastForward(spark: SparkSession, tableDir: String, from: String,
                  to: String = "main"): Long = {
    val meta = tableMeta(spark, tableDir)
    val fromId = meta.refs.get(from).map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no ref '$from' to publish"))
    meta.refs.get(to).foreach(r => require(r.refType == "branch",
      s"cannot fast-forward '$to': it is a ${r.refType}"))
    val toHead = meta.refs.get(to).map(_.snapshotId)
      .orElse(if (to == "main") meta.currentSnapshotId else None)
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val ancestry = Iterator.iterate(Option(fromId))(
      _.flatMap(byId.get).flatMap(_.parentId))
      .takeWhile(_.isDefined).flatten.toSet
    toHead.foreach(t => require(ancestry.contains(t),
      s"not a fast-forward: '$to' head $t is not an ancestor of " +
        s"'$from' head $fromId"))
    IcebergTableMetadata.commit(spark.sessionState.newHadoopConf(),
      tableDir, meta.schemaJson, None, None,
      updateRefs = Map(to -> Some(SnapshotRef(fromId, "branch"))))
    fromId
  }

  final case class ExpiryReport(retainedSnapshots: Seq[Long],
                                expiredSnapshots: Seq[Long],
                                deletedFiles: Seq[String])

  /** EXPIRE history: keep the `keepLast` most recent snapshots (always
    * including the current one), rewrite the metadata chain without
    * the rest, and physically delete every manifest list / manifest /
    * data / delete file reachable ONLY from expired snapshots — the
    * reclamation step that frees what [[compact]] superseded. Pure
    * metadata diffing driver-side: no table scan. */
  def expireSnapshots(spark: SparkSession, tableDir: String,
                      keepLast: Int): ExpiryReport = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val conf = spark.sessionState.newHadoopConf()
    val meta = tableMeta(spark, tableDir)
    val ordered = meta.snapshots.sortBy(_.sequenceNumber)
    // every ref target is shielded: tags pin releases, branch heads
    // keep staged-but-unpublished work alive
    val keepIds = (ordered.takeRight(keepLast).map(_.snapshotId) ++
      meta.currentSnapshotId ++
      meta.refs.values.map(_.snapshotId)).distinct.toSet
    val expired = ordered.map(_.snapshotId).filterNot(keepIds)
    if (expired.isEmpty)
      return ExpiryReport(ordered.map(_.snapshotId), Nil, Nil)
    val keep = ordered.map(_.snapshotId).filter(keepIds)
      .flatMap(id => reachable(spark, tableDir, id)).toSet
    val dead = expired.flatMap(id => reachable(spark, tableDir, id))
      .distinct.filterNot(keep)
    IcebergTableMetadata.commit(conf, tableDir, meta.schemaJson, None,
      None, retain = s => keepIds(s.snapshotId))
    val fs = new Path(tableDir).getFileSystem(conf)
    // Never delete storage OUTSIDE the table location: a chain may
    // adopt external files in place by absolute path (registration is
    // just a manifest entry — e.g. IcebergSqlDemo over the shared
    // read-only testdata). Those files are referenced, not owned;
    // expiry physically reclaims only what lives under the table dir.
    val rootPrefix = normUri(new Path(tableDir)).stripSuffix("/") + "/"
    val deleted = dead.filter { p =>
      val hp = new Path(p)
      normUri(hp).startsWith(rootPrefix) &&
        fs.exists(hp) && fs.delete(hp, false)
    }
    ExpiryReport(ordered.map(_.snapshotId).filter(keepIds), expired, deleted)
  }

  /** PROPERTY-DRIVEN expiry — the retention knobs ride table
    * properties per the Iceberg spec, so maintenance jobs need no
    * per-table configuration:
    * `history.expire.max-snapshot-age-ms` (spec default 5 days) and
    * `history.expire.min-snapshots-to-keep` (spec default 1). Policy:
    * snapshots younger than the age bar all survive; the keep floor
    * applies regardless of age — mapped onto [[expireSnapshots]]'s
    * keep-last machinery (sequence order tracks commit time in this
    * chain), so refs/current shielding and owned-files-only deletion
    * hold unchanged. `nowMs` is injectable for deterministic tests. */
  def expireByProperties(spark: SparkSession, tableDir: String,
                         nowMs: Long = System.currentTimeMillis())
      : ExpiryReport = {
    val meta = tableMeta(spark, tableDir)
    val props = meta.properties
    def parseProp[T](key: String, parse: String => T): Option[T] =
      props.get(key).map { raw =>
        try parse(raw)
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"table property $key must be an integer, got '$raw'")
        }
      }
    val maxAge = parseProp("history.expire.max-snapshot-age-ms", _.toLong)
      .getOrElse(5L * 24 * 3600 * 1000)
    require(maxAge >= 0,
      s"history.expire.max-snapshot-age-ms must be >= 0, got $maxAge")
    val minKeep = parseProp("history.expire.min-snapshots-to-keep", _.toInt)
      .getOrElse(1)
    require(minKeep >= 1, "min-snapshots-to-keep must be >= 1")
    val young = meta.snapshots.count(_.timestampMs > nowMs - maxAge)
    expireSnapshots(spark, tableDir, keepLast = math.max(minKeep, young))
  }

  /** Append `blobs` to the CURRENT snapshot's statistics sidecar —
    * the spec associates one statistics file with a snapshot, and a
    * Puffin file holds many blobs, so adding an index type means
    * rewriting the sidecar with old + new blobs and replacing the
    * metadata entry (sidecars are small next to data; the write is
    * driver-side like any statistics producer's). Returns the new
    * sidecar path. */
  private def appendStatsBlobs(spark: SparkSession, tableDir: String,
                               blobs: Seq[Puffin.Blob]): String = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = tableMeta(spark, tableDir)
    val snapId = meta.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException(
        s"table $tableDir has no snapshot to index"))
    val carried = meta.statistics.find(_.snapshotId == snapId).toSeq
      .flatMap { sf =>
        val (old, _) = Puffin.readFooter(conf, sf.path)
        old.map(m => Puffin.Blob(m.blobType, m.fields, m.snapshotId,
          m.sequenceNumber, Puffin.readBlob(conf, sf.path, m), m.properties))
      }
    val path = s"$tableDir/metadata/$snapId-stats-" +
      s"${java.util.UUID.randomUUID()}.puffin"
    val written = Puffin.write(conf, path, carried ++ blobs)
    IcebergTableMetadata.commit(conf, tableDir, meta.schemaJson, None, None,
      addStatistics = Seq(IcebergTableMetadata.StatisticsFile(
        snapId, path, written.fileSize, written.footerSize, written.blobs)))
    path
  }

  /** Build the PER-FILE BLOOM INDEX for `column` at the current
    * snapshot and register it as a table-metadata `statistics` entry —
    * a [[Puffin]] sidecar with one `graft-bloom-v1` blob per live data
    * file (the file's path and the indexed column ride in blob
    * properties). [[IcebergTableReader.readPoint]] then answers
    * needle-in-100 TB lookups by opening 1+ε data files instead of all
    * of them.
    *
    * Scale shape: bloom construction is one distributed pass (each
    * file's keys buffer only in its own executor task, sketches sized
    * to their file's key count); the driver only concatenates the
    * finished sketch bytes into the sidecar — the one-writer step any
    * statistics-file producer has. Returns the sidecar path. */
  def writeBloomIndex(spark: SparkSession, tableDir: String,
                      column: String, fpp: Double = 0.03): String = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val meta = tableMeta(spark, tableDir)
    val snapId = meta.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException(
        s"table $tableDir has no snapshot to index"))
    val fid = IcebergTableReader.fieldId(meta, column)
    val (files, _) = IcebergTableReader.scanState(spark, tableDir)
    require(files.nonEmpty, s"table $tableDir has no data files to index")
    val norm: String => String = _.replaceFirst("^file:(//)?", "")
    val scan = spark.read.parquet(files.map(_.path): _*)
    // sketches key on xxhash64 of the value ([[graft.functions
    // .BloomKeys]]) so STRING needles (trace_id hex) index too; the
    // probe side (readPoint) hashes its literal identically. Blob
    // property `bloom_keys` records the scheme so probes never
    // mis-read a legacy raw-long sidecar.
    val key = graft.functions.BloomKeys.keyCol(
      col(column), scan.schema(column).dataType)
    // null keys can never match an equality point lookup, so
    // dropping them is exact — and without the filter a null
    // value would NPE the (String, Long) encoder at build time
    // (writeNdvIndex has the same guard).
    val blooms = scan
      .where(col(column).isNotNull)
      .select(input_file_name().as("f"), key.as("v"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        // sketch sized to ITS file's key count: fixed capacity either
        // over-sizes small files or saturates big ones past fpp
        val vals = it.map(_._2).toArray
        val bf = org.apache.spark.util.sketch.BloomFilter.create(
          math.max(vals.length.toLong, 64L), fpp)
        vals.foreach(bf.putLong)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (f, bos.toByteArray)
      }.collect()
    appendStatsBlobs(spark, tableDir,
      blooms.sortBy(b => norm(b._1)).map { case (f, bytes) =>
        Puffin.Blob("graft-bloom-v1", Seq(fid), snapId,
          meta.lastSequenceNumber, bytes,
          Map("file_path" -> norm(f), "bloom_col" -> column,
              "bloom_keys" -> graft.functions.BloomKeys.Scheme,
              "fpp" -> fpp.toString))
      }.toSeq)
  }

  /** Build NDV (distinct-count) SKETCHES for `columns` at the current
    * snapshot and register them in the statistics sidecar — the
    * Iceberg-spec use of statistics files (the reference ecosystem
    * ships theta sketches there for CBO). The sketch is a KMV
    * (k-minimum-values over codegen'd xxhash64): if a column yields
    * fewer than `k` distinct hashes the blob IS the exact distinct
    * count; otherwise ndv ≈ (k−1)/x₍ₖ₎ with relative error ~1/√k
    * (k=4096 → ~1.6%). Serialization is this engine's own
    * `graft-kmv-ndv-v1` (8-byte big-endian count + sorted hashes), NOT
    * the Java datasketches wire format — claiming
    * `apache-datasketches-theta-v1` without byte compatibility would
    * break interop readers, so the custom name states the truth.
    *
    * NDV is computed over the LIVE table (merge-on-read applied), so
    * it is the snapshot's answer, not the raw files'. Scale shape: KMV
    * is mergeable by construction, so the build is ONE map-side pass
    * with [[graft.functions.BottomKDistinct]] — each partition keeps a
    * bounded ≤k-long buffer and only those longs reach the single
    * merge (no distinct shuffle of billions of hashes to take the 4096
    * smallest); planners then read NDV from metadata alone
    * ([[IcebergTableReader.ndvFromStats]]), never rescanning 100 TB to
    * re-derive join cardinalities. */
  def writeNdvIndex(spark: SparkSession, tableDir: String,
                    columns: Seq[String], k: Int = 4096): String = {
    require(columns.nonEmpty, "writeNdvIndex needs at least one column")
    require(k >= 16, s"k=$k too small for a meaningful estimate")
    import spark.implicits._
    val meta = tableMeta(spark, tableDir)
    val snapId = meta.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException(
        s"table $tableDir has no snapshot to index"))
    val live = IcebergTableReader.read(spark, tableDir)
    val blobs = columns.map { c =>
      val fid = IcebergTableReader.fieldId(meta, c)
      // bit-identical to distinct().orderBy(h).limit(k): the aggregate
      // keeps the k smallest distinct signed hashes, already sorted
      val hashes = live.where(col(c).isNotNull)
        .agg(bottomKDistinct(xxhash64(col(c)), k).as("ks"))
        .select(explode($"ks").as("h"))
        .as[Long].collect()
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeLong(hashes.length.toLong)
      hashes.foreach(out.writeLong)
      out.flush()
      Puffin.Blob("graft-kmv-ndv-v1", Seq(fid), snapId,
        meta.lastSequenceNumber, bos.toByteArray,
        Map("ndv_col" -> c, "k" -> k.toString))
    }
    appendStatsBlobs(spark, tableDir, blobs)
  }

  /** The bucket-clustered routing plan [[rewriteBucketed]] writes —
    * factored so `IcebergSpecEvolutionSpec` can pin its shape: the
    * spec's murmur3 bucket is computed in-row by the codegen'd
    * [[graft.functions.IcebergBucket]] expression, so the whole job
    * is narrow-map → exactly ONE Exchange (hash on the bucket value).
    * NULL keys keep a NULL bucket (the dynamic-partition writer
    * routes them to the default partition; [[rewriteBucketed]]
    * commits those files with a null partition tuple) instead of
    * being joined away. */
  def bucketClustered(df: DataFrame, column: String,
                      nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    df.schema(column).dataType match {
      case LongType | IntegerType | StringType => ()
      case other => throw new UnsupportedOperationException(
        s"bucket clustering on $column: $other (supported: long, int, string)")
    }
    df.withColumn("__bucket", icebergBucket(nBuckets, col(column)))
      .repartition(col("__bucket"))
  }

  /** OPTIMIZE … CLUSTER BY bucket(column) (r14, single-shuffle since
    * r15): rewrite a plain parquet table into a `bucket[N]`-clustered
    * stand-alone Iceberg chain. Rows route by the SPEC's murmur3
    * bucket of `column`, computed in-row by the native
    * [[graft.functions.IcebergBucket]] expression — ONE shuffle on
    * the bucket value, no distinct/join detour — so every output file
    * is single-bucket by construction and commits with its EXPLICIT
    * partition tuple under a `bucket[N]` spec — the one clustering a
    * min/max zone map cannot give a hash-spread key. Point lookups
    * through [[IcebergTableReader.readPoint]] then open ~1/N of the
    * files from the partition tuple alone, for LONG and STRING needles
    * alike, with no bloom sidecar. NULL keys commit under a null
    * partition tuple (they match only IS NULL probes); an empty
    * source commits an empty snapshot. Optional `statsColumn`
    * harvests footer bounds so time slicing keeps pruning too.
    * Returns the committed snapshot id.
    *
    * Scale shape: the corpus pays one narrow map (codegen'd murmur3)
    * plus one hash exchange, and the dynamic partition writer emits
    * per-bucket files — no driver-side row handling anywhere. */
  def rewriteBucketed(spark: SparkSession, srcParquetDir: String,
                      destLoc: String, column: String, nBuckets: Int,
                      statsColumn: Option[String] = None): Long = {
    require(nBuckets > 1, s"nBuckets must be > 1, got $nBuckets")
    val df = spark.read.parquet(srcParquetDir)
    val dataDir = s"$destLoc/data/bucketed"
    bucketClustered(df, column, nBuckets)
      .write.partitionBy("__bucket").parquet(dataDir)
    val paths = graft.recovery.Recovery.dataFiles(spark, dataDir).map(_._1).sorted
    // the partition column never lands in the data files, so the file
    // schema is the source schema (also correct when `paths` is empty)
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(df.schema)
    val spec = org.json4s.jackson.JsonMethods.parse(
      s"""{"fields":[{"name":"${column}_bucket",
         |"transform":"bucket[$nBuckets]",
         |"source-id":${topIds(column)},"field-id":1000}]}""".stripMargin)
    IcebergCommit.commitStandalone(spark.sessionState.newHadoopConf(), destLoc,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson)),
      Some(spec),
      // NULL-key rows land in the writer's default partition dir and
      // commit with a null partition tuple (spec: null bucket value)
      DataFiles.describe(spark, paths, statsColumn.map(c => (topIds(c), c)).toSeq,
        p => Seq("__bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toLong))))
  }
}
