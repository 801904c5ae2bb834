package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s.jackson.JsonMethods.{compact => jcompact, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergTableMetadata,
  RestCatalogClient}

/** EXACTLY-ONCE streaming CDC into the Iceberg merge-on-read chain —
  * the streaming twin of [[graft.catalog.IcebergMaintenance.upsert]]:
  * each micro-batch of keyed changes lands as ONE `overwrite` snapshot (equality-delete +
  * append), so per-batch write cost is O(|batch|) regardless of table
  * size and every batch boundary is a time-travelable snapshot a
  * downstream [[graft.catalog.IcebergTableReader.readChangelog]]
  * consumer can tail.
  *
  * Exactly-once without a transaction coordinator: foreachBatch is
  * at-least-once (a crash between the sink commit and the checkpoint
  * write replays the batch), so each snapshot records its epoch in the
  * summary (`graft.batch_id`) and a replayed batch is detected on the
  * chain itself and skipped — the same dedup-on-the-destination
  * discipline as the reference's idempotent path-keyed manifest
  * registration (exporter.go retry path), applied to snapshot epochs.
  * A crash BEFORE the commit leaves only unreferenced data files
  * (never a partial snapshot — the metadata version flip is atomic),
  * which standard orphan-file maintenance reclaims. */
object IcebergCdcSink {

  /** Stream identity for the epoch key — derived from the CHECKPOINT
    * location, not the query runId: batch ids are scoped to a
    * checkpoint lineage (same checkpoint resumes the numbering, a
    * fresh checkpoint restarts at 0), while runId changes on EVERY
    * restart — keying on runId would miss the one replay that matters
    * (crash after commit, before checkpoint write, then restart).
    * Without it, a stream restarted with a fresh checkpoint against an
    * existing table would silently skip its first batches as
    * "replays" of the old lineage's epochs. */
  private[graft] def streamIdOf(checkpoint: String): String = {
    val canon = checkpoint.stripSuffix("/")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(canon.getBytes("UTF-8")).take(6)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  private def epochKey(streamId: Option[String], batchId: Long): String =
    streamId.map(s => s"$s:$batchId").getOrElse(batchId.toString)

  /** Replay detection. With a stream identity: replay iff some
    * snapshot carries our exact epoch — or, for snapshots written
    * before epochs carried an identity, a bare `graft.batch_id` match
    * (conservative: preserves the legacy skip against old chains).
    * Without one (direct programmatic calls): the legacy
    * batch-id-only check, unchanged. */
  private def isReplay(summaries: Iterable[Map[String, String]],
                       streamId: Option[String], batchId: Long): Boolean =
    streamId match {
      case None =>
        summaries.exists(_.get("graft.batch_id").contains(batchId.toString))
      case Some(_) =>
        val key = epochKey(streamId, batchId)
        summaries.exists { s =>
          s.get("graft.epoch").contains(key) ||
            (!s.contains("graft.epoch") &&
              s.get("graft.batch_id").contains(batchId.toString))
        }
    }

  private def epochSummary(streamId: Option[String], batchId: Long): Map[String, String] =
    Map("graft.batch_id" -> batchId.toString, "graft.epoch" -> epochKey(streamId, batchId))

  /** A replayed batch still runs, writing nowhere: a stateful query
    * commits its state stores only when the batch executes, and fails
    * the batch if they were not committed. */
  private def drain(batch: DataFrame): Unit =
    batch.write.format("noop").mode("overwrite").save()

  /** Apply one CDC micro-batch: bootstrap the chain on first contact,
    * skip if `batchId` is already on it, else upsert. Returns true if
    * the batch was applied, false if it was a detected replay or empty.
    * `streamId` scopes the epoch to a checkpoint lineage (see
    * [[streamIdOf]]); None keeps the legacy bare-batch-id key. */
  def applyBatch(spark: SparkSession, tableDir: String, batch: DataFrame,
                 batchId: Long, keyCols: Seq[String],
                 statsColumn: Option[String] = None,
                 streamId: Option[String] = None): Boolean =
    commit(tableDir, keyCols, statsColumn, streamId)(batch, batchId)().nonEmpty

  /** [[applyBatch]] as a loop commit: the write stages the upsert's
    * data and key files, the register step commits them as one
    * snapshot. A batch whose epoch is already on the chain writes and
    * commits nothing. */
  private[streaming] def commit(tableDir: String, keyCols: Seq[String],
                                statsColumn: Option[String],
                                streamId: Option[String]): IngestLoop.Commit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      val conf = spark.sessionState.newHadoopConf()
      val meta = IcebergTableMetadata.load(conf, tableDir)
      val staged =
        if (meta.exists(m => isReplay(m.snapshots.map(_.summary), streamId, batchId))) {
          drain(batch); None
        } else {
          if (meta.isEmpty) {
            val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(batch.schema)
            IcebergTableMetadata.commit(conf, tableDir,
              jcompact(render(schemaJson)), None, None)
          }
          IcebergMaintenance.stageUpsert(spark, tableDir, batch, keyCols,
            statsColumn, numFiles = 1, epochSummary(streamId, batchId))
        }
      staged.fold[IngestLoop.Register](() => Nil) { s => () =>
        s.commit(); s.files.map(f => (f.path, f.sizeBytes))
      }
    }

  /** Continuous keyed-change apply: `changes` rows upsert into the
    * Iceberg table at `tableDir` by `keyCols`, one snapshot per
    * micro-batch, exactly-once across restarts (checkpoint resume +
    * [[applyBatch]] replay detection). */
  def cdcApply(changes: DataFrame, tableDir: String, checkpoint: String,
               keyCols: Seq[String],
               statsColumn: Option[String] = None): StreamingQuery =
    IngestLoop.start(changes, checkpoint,
      commit(tableDir, keyCols, statsColumn, Some(streamIdOf(checkpoint))))

  /** [[applyBatch]]'s CATALOGED twin: one CDC micro-batch lands as one
    * merge-on-read `overwrite` snapshot committed THROUGH THE REST
    * CATALOG ([[RestCatalogClient.upsertFiles]]: equality delete +
    * append in one `add-snapshot`, `assert-ref-snapshot-id` optimistic
    * lock, 409-replay safe) — the deployment shape the reference
    * actually runs (catalog-first readers, catalog_rest.go). The
    * exactly-once epoch check reads the CATALOG's snapshot summaries
    * (`graft.batch_id`), not the stand-alone mirror, so a replayed
    * foreachBatch epoch is skipped even if only the catalog commit
    * survived a crash. Table bootstrap is [[RestCatalogClient
    * .ensureTable]] (create-race tolerant). Returns true if applied,
    * false on detected replay or an empty batch. */
  def applyBatchCatalog(spark: SparkSession, client: RestCatalogClient,
                        namespace: String, table: String, batch: DataFrame,
                        batchId: Long, keyCols: Seq[String],
                        streamId: Option[String] = None): Boolean =
    commitCatalog(client, namespace, table, keyCols, streamId)(batch, batchId)().nonEmpty

  /** [[applyBatchCatalog]] as a loop commit: the write lands the data
    * and key files under the catalog's table location, the register
    * step commits them. A batch whose epoch is already in the catalog
    * writes and commits nothing. */
  private[streaming] def commitCatalog(client: RestCatalogClient,
                                       namespace: String, table: String,
                                       keyCols: Seq[String],
                                       streamId: Option[String]): IngestLoop.Commit =
    (batch, batchId) => {
      require(keyCols.nonEmpty, "catalog CDC needs at least one key column")
      val spark = batch.sparkSession
      client.ensureNamespace(namespace)
      client.ensureTable(namespace, table, batch.schema)
      val info = client.loadTable(namespace, table).getOrElse(
        throw new IllegalStateException(
          s"table $namespace.$table missing after ensureTable"))
      val staged =
        if (isReplay(info.snapshotSummaries.values, streamId, batchId)) { drain(batch); None }
        else {
          val stamp = java.util.UUID.randomUUID().toString.take(16)
          IcebergMaintenance.writeUpsertFiles(spark, batch.coalesce(1), keyCols,
            s"${info.location}/data/cdc-upsert-$stamp", s"${info.location}/data/cdc-eqdel-$stamp")
        }
      staged.fold[IngestLoop.Register](() => Nil) { case (data, keys) =>
        val ids = keyCols.map(c =>
          RestCatalogClient.fieldIdOf(info.schemaJson, c).getOrElse(
            throw new IllegalArgumentException(
              s"key column $c not in $namespace.$table schema")))
        () => {
          client.upsertFiles(namespace, table, data,
            keys.map(IcebergCommit.DeleteFileSpec(_, content = 2, ids)),
            extraSummary = epochSummary(streamId, batchId))
          data.map(f => (f.path, f.sizeBytes))
        }
      }
    }

  /** Continuous keyed-change apply into a REST-CATALOGED table: the
    * [[cdcApply]] twin routed through [[applyBatchCatalog]] — one
    * catalog-committed snapshot per micro-batch, exactly-once across
    * restarts via the catalog-side epoch check. */
  def cdcApplyCatalog(changes: DataFrame, client: RestCatalogClient,
                      namespace: String, table: String, checkpoint: String,
                      keyCols: Seq[String]): StreamingQuery =
    IngestLoop.start(changes, checkpoint,
      commitCatalog(client, namespace, table, keyCols, Some(streamIdOf(checkpoint))))
}
