package graft.catalog

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Iceberg v2 SINGLE-VALUE binary serialization (spec Appendix D) —
  * the encoding of `lower_bounds`/`upper_bounds` values in manifest
  * entries: little-endian fixed width for int/long/float/double, raw
  * UTF-8 for strings. Timestamps are longs (micros). */
object IcebergSingleValue {
  import java.nio.{ByteBuffer, ByteOrder}

  def longBytes(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()
  def longOf(b: Array[Byte]): Long = {
    require(b.length == 8, s"long bound must be 8 bytes, got ${b.length}")
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getLong
  }
  def intBytes(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  def intOf(b: Array[Byte]): Int = {
    require(b.length == 4, s"int bound must be 4 bytes, got ${b.length}")
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
  }
  def doubleBytes(v: Double): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v).array()
  def doubleOf(b: Array[Byte]): Double = {
    require(b.length == 8, s"double bound must be 8 bytes, got ${b.length}")
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getDouble
  }
  def stringBytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  def stringOf(b: Array[Byte]): String = new String(b, StandardCharsets.UTF_8)
}

/** The Iceberg TABLE-METADATA JSON chain (`metadata/vN.metadata.json`
  * + `version-hint.text`) — what makes a table readable COLD, from the
  * warehouse directory alone, with no catalog round-trip: the format
  * every stand-alone Iceberg reader (Spark's HadoopTables, Trino's
  * fallback, DuckDB's iceberg extension) starts from. The REST commits
  * ([[RestCatalogClient.appendDataFiles]]) post snapshots to the
  * catalog AND append to this chain, so the engine's own tables are
  * self-describing; [[IcebergTableReader]] consumes the chain.
  *
  * Reference semantics: `/root/reference/internal/iceberg/catalog_rest.go:394`
  * (all-snapshots table metadata is the unit the recovery scanner
  * diffs against); the JSON layout follows the public Iceberg table
  * spec (format-version 2 required fields) as iceberg-go serializes it.
  *
  * Durability: the chain is written AFTER the catalog commit succeeds
  * (the catalog stays the source of truth); a crash between the two
  * leaves a stale-but-consistent chain that the next commit repairs —
  * at-least-once, same as the reference's idempotent re-register. Both
  * files land via write-temp + atomic rename, so a cold reader never
  * observes a torn metadata file. */
object IcebergTableMetadata {

  final case class SnapshotMeta(
      snapshotId: Long, parentId: Option[Long], sequenceNumber: Long,
      timestampMs: Long, manifestList: String, summary: Map[String, String],
      schemaId: Int = 0)

  /** A named ref (spec "Snapshot References"): `type` is "branch"
    * (moves with commits to it) or "tag" (an immutable pin that also
    * shields its snapshot from expiry). */
  final case class SnapshotRef(snapshotId: Long, refType: String)

  /** One entry of the spec's `statistics` list: a Puffin sidecar
    * ([[Puffin]]) carrying index/sketch blobs for `snapshotId`. The
    * spec requires the REAL footer size (readers seek
    * `file-size − footer-size` without probing) and the per-blob
    * directory replicated as `blob-metadata` (planners decide
    * whether a sidecar is relevant from table metadata alone, before
    * opening it) — both come straight from [[Puffin.Written]]. */
  final case class StatisticsFile(snapshotId: Long, path: String,
                                  fileSizeInBytes: Long,
                                  footerSizeInBytes: Long = 0L,
                                  blobMetadata: Seq[Puffin.BlobMeta] = Nil)

  /** Spec JSON for one `statistics` entry — shared by the stand-alone
    * chain writer ([[commit]]) and the REST catalog's `set-statistics`
    * update ([[RestCatalogClient.setStatistics]]), so both registries
    * carry the identical spec shape. */
  def statisticsJson(s: StatisticsFile): JValue = JObject(
    "snapshot-id" -> JInt(BigInt(s.snapshotId)),
    "statistics-path" -> JString(s.path),
    "file-size-in-bytes" -> JInt(BigInt(s.fileSizeInBytes)),
    "file-footer-size-in-bytes" -> JInt(BigInt(s.footerSizeInBytes)),
    "blob-metadata" -> JArray(s.blobMetadata.map(b => JObject(
      "type" -> JString(b.blobType),
      "snapshot-id" -> JInt(BigInt(b.snapshotId)),
      "sequence-number" -> JInt(BigInt(b.sequenceNumber)),
      "fields" -> JArray(b.fields.map(f => JInt(f): JValue).toList),
      "properties" -> JObject(b.properties.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) })): JValue)
      .toList))

  /** Parse a metadata-level `statistics` array (inverse of
    * [[statisticsJson]], tolerant of foreign writers' extra fields).
    * Blob offset/length live in the sidecar's own footer, not table
    * metadata — 0 here by design. */
  def parseStatistics(statsJson: JValue): Seq[StatisticsFile] =
    statsJson.toOption.toSeq.flatMap {
      case JArray(ss) => ss.flatMap { s =>
        for {
          sid <- (s \ "snapshot-id").toOption
            .collect { case JInt(n) => n.toLong }
          p <- (s \ "statistics-path").toOption
            .collect { case JString(sp) => sp }
        } yield StatisticsFile(sid, p,
          (s \ "file-size-in-bytes").toOption
            .collect { case JInt(n) => n.toLong }.getOrElse(0L),
          (s \ "file-footer-size-in-bytes").toOption
            .collect { case JInt(n) => n.toLong }.getOrElse(0L),
          (s \ "blob-metadata").toOption.toSeq.flatMap {
            case JArray(bs) => bs.map { b =>
              Puffin.BlobMeta(
                blobType = (b \ "type").toOption
                  .collect { case JString(t) => t }.getOrElse(""),
                fields = (b \ "fields").toOption.toSeq.flatMap {
                  case JArray(ids) =>
                    ids.collect { case JInt(n) => n.toInt }
                  case _ => Nil
                },
                snapshotId = (b \ "snapshot-id").toOption
                  .collect { case JInt(n) => n.toLong }.getOrElse(0L),
                sequenceNumber = (b \ "sequence-number").toOption
                  .collect { case JInt(n) => n.toLong }.getOrElse(0L),
                offset = 0L, length = 0L,
                properties = (b \ "properties") match {
                  case JObject(fs0) => fs0.collect {
                    case (k, JString(v)) => k -> v
                  }.toMap
                  case _ => Map.empty
                })
            }
            case _ => Nil
          })
      }
      case _ => Nil
    }

  final case class TableMetadata(
      version: Int, tableUuid: String, location: String,
      lastSequenceNumber: Long, lastUpdatedMs: Long,
      currentSnapshotId: Option[Long], snapshots: Seq[SnapshotMeta],
      schemaJson: String, partitionSpecsJson: Seq[JValue],
      defaultSpecId: Int,
      refs: Map[String, SnapshotRef] = Map.empty,
      schemasJson: Seq[JValue] = Nil,
      statistics: Seq[StatisticsFile] = Nil,
      properties: Map[String, String] =
        Map("write.format.default" -> "parquet"))

  private implicit val formats: Formats = DefaultFormats

  private def hintPath(location: String) =
    new Path(s"$location/metadata/version-hint.text")
  private def metadataPath(location: String, v: Int) =
    new Path(s"$location/metadata/v$v.metadata.json")

  /** Partition-spec EVOLUTION resolution, shared by [[commit]] and the
    * manifest writers ([[IcebergCommit]] stamps each manifest with the
    * spec-id its tuples were written under — the id this function
    * returns): given the chain's prior state and an incoming default
    * spec, produce (the accumulated `partition-specs` array, the
    * effective default spec-id). Matching is STRUCTURAL on the fields
    * array (spec-ids stripped), so the common every-commit-passes-the-
    * same-spec path keeps id 0 and only a genuinely new shape appends
    * max+1 — Iceberg's rule that old manifests keep their original
    * spec-id and only future writes use the new one. */
  def resolveSpec(prev: Option[TableMetadata], defaultSpec: Option[JValue])
      : (List[JValue], Int) = defaultSpec match {
    case Some(sp) =>
      val prevSpecs = prev.map(_.partitionSpecsJson.toList).getOrElse(Nil)
      prevSpecs.find(ex => (ex \ "fields") == (sp \ "fields")) match {
        case Some(ex) =>
          (prevSpecs, (ex \ "spec-id").toOption
            .collect { case JInt(n) => n.toInt }.getOrElse(0))
        case None =>
          val nid = prevSpecs.flatMap(s => (s \ "spec-id").toOption
            .collect { case JInt(n) => n.toInt }).foldLeft(-1)(math.max) + 1
          val withId = sp.removeField {
            case ("spec-id", _) => true; case _ => false
          }.merge(JObject("spec-id" -> JInt(nid)))
          (prevSpecs :+ withId, nid)
      }
    case None => prev.map(_.partitionSpecsJson.toList).filter(_.nonEmpty)
      .map(ss => (ss, prev.map(_.defaultSpecId).getOrElse(0)))
      .getOrElse((List(JObject("spec-id" -> JInt(0),
        "fields" -> JArray(Nil))), 0))
  }

  /** Current metadata version: the hint file, else the max vN present
    * (hint loss is recoverable — versions are immutable and
    * numbered). 0 = none. */
  def currentVersion(conf: Configuration, location: String): Int = {
    val hint = hintPath(location)
    val fs = hint.getFileSystem(conf)
    val fromHint =
      if (!fs.exists(hint)) None
      else {
        val in = fs.open(hint)
        val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
                finally in.close()
        scala.util.Try(s.toInt).toOption.filter(_ > 0)
      }
    fromHint.getOrElse {
      val dir = new Path(s"$location/metadata")
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".metadata.json") =>
          scala.util.Try(n.stripPrefix("v").stripSuffix(".metadata.json").toInt)
            .getOrElse(0)
        }.foldLeft(0)(math.max)
    }
  }

  /** Parse `vN.metadata.json` (ours or another engine's — only the
    * spec-required fields are consumed). */
  def load(conf: Configuration, location: String): Option[TableMetadata] = {
    val v = currentVersion(conf, location)
    if (v == 0) None
    else {
      val p = metadataPath(location, v)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val j = try parse(new String(in.readAllBytes(), StandardCharsets.UTF_8))
                finally in.close()
        val snaps = (j \ "snapshots").toOption.toSeq.flatMap {
          case JArray(ss) => ss.map { s =>
            SnapshotMeta(
              snapshotId = (s \ "snapshot-id").extract[Long],
              parentId = (s \ "parent-snapshot-id").toOption
                .collect { case JInt(n) => n.toLong },
              sequenceNumber = (s \ "sequence-number").toOption
                .collect { case JInt(n) => n.toLong }.getOrElse(0L),
              timestampMs = (s \ "timestamp-ms").toOption
                .collect { case JInt(n) => n.toLong }.getOrElse(0L),
              manifestList = (s \ "manifest-list").extract[String],
              summary = (s \ "summary").toOption.collect {
                case JObject(fs0) => fs0.collect {
                  case (k, JString(vv)) => k -> vv
                }.toMap
              }.getOrElse(Map.empty),
              schemaId = (s \ "schema-id").toOption
                .collect { case JInt(n) => n.toInt }.getOrElse(0))
          }
          case _ => Nil
        }
        val currentSchemaId = (j \ "current-schema-id").toOption
          .collect { case JInt(n) => n.toInt }.getOrElse(0)
        val schema = (j \ "schemas").toOption.collect { case JArray(ss) =>
          ss.find(s => (s \ "schema-id").toOption.contains(JInt(currentSchemaId)))
            .orElse(ss.headOption)
        }.flatten.orElse((j \ "schema").toOption)
          .map(s => compact(render(s))).getOrElse("{}")
        Some(TableMetadata(
          version = v,
          tableUuid = (j \ "table-uuid").toOption
            .collect { case JString(u) => u }.getOrElse(""),
          location = (j \ "location").toOption
            .collect { case JString(l) => l }.getOrElse(location),
          lastSequenceNumber = (j \ "last-sequence-number").toOption
            .collect { case JInt(n) => n.toLong }.getOrElse(0L),
          lastUpdatedMs = (j \ "last-updated-ms").toOption
            .collect { case JInt(n) => n.toLong }.getOrElse(0L),
          currentSnapshotId = (j \ "current-snapshot-id").toOption
            .collect { case JInt(n) if n >= 0 => n.toLong },
          snapshots = snaps,
          schemaJson = schema,
          partitionSpecsJson = (j \ "partition-specs").toOption.toSeq.flatMap {
            case JArray(ss) => ss; case _ => Nil
          },
          defaultSpecId = (j \ "default-spec-id").toOption
            .collect { case JInt(n) => n.toInt }.getOrElse(0),
          refs = (j \ "refs").toOption.collect {
            case JObject(rs) => rs.collect {
              case (name, r: JObject) =>
                name -> SnapshotRef(
                  (r \ "snapshot-id").extract[Long],
                  (r \ "type").toOption.collect { case JString(t) => t }
                    .getOrElse("branch"))
            }.toMap
          }.getOrElse(Map.empty),
          schemasJson = (j \ "schemas").toOption.collect {
            case JArray(ss) => ss
          }.orElse((j \ "schema").toOption.map(List(_))).getOrElse(Nil),
          statistics = parseStatistics(j \ "statistics"),
          properties = (j \ "properties").toOption.collect {
            case JObject(ps) => ps.collect {
              case (k, JString(v)) => k -> v
            }.toMap
          // same default as the case class / first commit: a metadata
          // JSON lacking a properties key must not drop the
          // write.format.default the writer always emits on commit
          }.getOrElse(Map("write.format.default" -> "parquet"))))
      }
    }
  }

  /** Deepest field id anywhere in the Iceberg schema JSON — the
    * `last-column-id` the spec requires (schema evolution allocates
    * above it). */
  private def maxFieldId(schemaJson: String): Int = {
    def walk(j: JValue): Int = j match {
      case JObject(fields) => fields.map {
        case ("id", JInt(n)) => n.toInt
        case ("element-id", JInt(n)) => n.toInt
        case ("key-id", JInt(n)) => n.toInt
        case ("value-id", JInt(n)) => n.toInt
        case (_, v) => walk(v)
      }.foldLeft(0)(math.max)
      case JArray(items) => items.map(walk).foldLeft(0)(math.max)
      case _ => 0
    }
    walk(parse(schemaJson))
  }

  private def writeAtomic(conf: Configuration, path: Path,
                          bytes: Array[Byte]): Unit = {
    val fs = path.getFileSystem(conf)
    fs.mkdirs(path.getParent)
    val tmp = new Path(path.getParent,
      s".${path.getName}.tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"rename $tmp -> $path failed")
  }

  /** Append one committed snapshot (or bootstrap a snapshot-less v1
    * when `snapshot` is None) to the chain: read the previous version,
    * carry its uuid + snapshot history forward, write `v{N+1}` then
    * flip the hint. Snapshot history is deduplicated by id, so the
    * idempotent re-commit the delivery layer can produce is harmless.
    * `retain` filters the CARRIED history (never a newly supplied
    * snapshot) — the snapshot-expiry hook: expired entries simply drop
    * out of the new version while every prior vN keeps referencing
    * them (metadata versions are immutable). */
  /** `branch` names the ref a new snapshot advances (default "main" —
    * the only ref that moves `current-snapshot-id`); committing to any
    * other branch stages the snapshot WITHOUT publishing it, the
    * write-audit-publish pattern. `updateRefs` applies explicit ref
    * edits (Some = create/move, None = drop) after the branch move —
    * the create-branch/tag/fast-forward/drop verbs. Refs whose target
    * snapshot is not retained drop out with it. */
  def commit(conf: Configuration, location: String, schemaJson: String,
             defaultSpec: Option[JValue], snapshot: Option[SnapshotMeta],
             nowMs: Long = System.currentTimeMillis(),
             retain: SnapshotMeta => Boolean = _ => true,
             branch: String = "main",
             updateRefs: Map[String, Option[SnapshotRef]] = Map.empty,
             addStatistics: Seq[StatisticsFile] = Nil,
             dropStatistics: Set[Long] = Set.empty,
             setProperties: Map[String, String] = Map.empty,
             removeProperties: Set[String] = Set.empty): Int = {
    val prev = load(conf, location)
    val version = prev.map(_.version).getOrElse(0) + 1
    val uuid = prev.map(_.tableUuid).filter(_.nonEmpty)
      .getOrElse(UUID.randomUUID().toString)
    // ---- schema EVOLUTION: the schemas array accumulates every shape
    // the table has had; an incoming schema equal (modulo its
    // schema-id) to a recorded one reuses that id, a new shape gets
    // max+1 and becomes current. Snapshots are stamped with the schema
    // they were written under, per the spec. ----
    val strip: JValue => JValue = _.removeField {
      case ("schema-id", _) => true; case _ => false
    }
    val incomingSchema = parse(schemaJson)
    val prevSchemas = prev.map(_.schemasJson).getOrElse(Nil)
    val (schemasAll, curSchemaId) = prevSchemas
      .flatMap(s => (s \ "schema-id").toOption
        .collect { case JInt(n) => (s, n.toInt) })
      .find { case (s, _) => strip(s) == strip(incomingSchema) } match {
      case Some((_, id)) => (prevSchemas, id)
      case None =>
        val nid = prevSchemas.flatMap(s => (s \ "schema-id").toOption
          .collect { case JInt(n) => n.toInt }).foldLeft(-1)(math.max) + 1
        (prevSchemas :+ strip(incomingSchema)
          .merge(JObject("schema-id" -> JInt(nid))), nid)
    }
    val snapshots = {
      val old = prev.map(_.snapshots).getOrElse(Nil).filter(retain)
      snapshot.map(_.copy(schemaId = curSchemaId)) match {
        case Some(s) if !old.exists(_.snapshotId == s.snapshotId) => old :+ s
        case _ => old
      }
    }
    // refs: carry the previous version's (synthesizing main from
    // current-snapshot-id for pre-refs chains), move `branch` onto the
    // new snapshot, apply explicit edits, drop refs whose target fell
    // out of the retained history. current-snapshot-id IS refs("main").
    val baseRefs = {
      val carried = prev.map(_.refs).getOrElse(Map.empty)
      if (carried.contains("main")) carried
      else carried ++ prev.flatMap(_.currentSnapshotId)
        .map(c => "main" -> SnapshotRef(c, "branch"))
    }
    val movedRefs = snapshot match {
      case Some(s) =>
        baseRefs.get(branch).foreach(r => require(r.refType == "branch",
          s"cannot commit to ref '$branch': it is a ${r.refType}"))
        baseRefs + (branch -> SnapshotRef(s.snapshotId, "branch"))
      case None => baseRefs
    }
    val refsFinal = updateRefs.foldLeft(movedRefs) {
      case (acc, (k, Some(r))) => acc + (k -> r)
      case (acc, (k, None)) => acc - k
    }.filter { case (_, r) => snapshots.exists(_.snapshotId == r.snapshotId) }
    val current = refsFinal.get("main").map(_.snapshotId)
    // statistics: carry forward, drop entries whose snapshot expired
    // with the history (the sidecar itself is storage the expiry job
    // may then collect), replace same-snapshot entries with new ones
    // (a re-index supersedes), append the additions
    val statsFinal = (prev.map(_.statistics).getOrElse(Nil)
      .filterNot(s => addStatistics.exists(_.snapshotId == s.snapshotId))
      ++ addStatistics)
      .filterNot(s => dropStatistics.contains(s.snapshotId))
      .filter(s => snapshots.exists(_.snapshotId == s.snapshotId))
    val lastSeq = math.max(prev.map(_.lastSequenceNumber).getOrElse(0L),
      snapshot.map(_.sequenceNumber).getOrElse(0L))
    // `None` CARRIES the previous version's specs forward (a
    // maintenance commit must not silently unpartition the table);
    // only a table with no declared spec gets the empty spec-0.
    // `Some` ACCUMULATES (partition-spec EVOLUTION, the schema-array
    // discipline above): a spec whose fields match a recorded one
    // reuses that spec-id, a new shape is appended under max+1 and
    // becomes the default — prior specs stay so readers can interpret
    // the tuples of manifests written under them.
    val (specs: List[JValue], specId: Int) = resolveSpec(prev, defaultSpec)
    val lastPartitionId = specs.flatMap { sp =>
      (sp \ "fields").toOption.toSeq.flatMap {
        case JArray(fs0) => fs0.flatMap(f => (f \ "field-id").toOption
          .collect { case JInt(n) => n.toInt })
        case _ => Nil
      }
    }.foldLeft(999)(math.max)
    def snapJson(s: SnapshotMeta): JValue = JObject(
      "snapshot-id" -> JInt(BigInt(s.snapshotId)),
      "parent-snapshot-id" -> s.parentId
        .map(v => JInt(BigInt(v)): JValue).getOrElse(JNull),
      "sequence-number" -> JInt(BigInt(s.sequenceNumber)),
      "timestamp-ms" -> JInt(BigInt(s.timestampMs)),
      "manifest-list" -> JString(s.manifestList),
      "schema-id" -> JInt(s.schemaId),
      "summary" -> JObject(
        ("operation" -> (JString(s.summary.getOrElse("operation", "append")): JValue)) ::
          s.summary.toList.filter(_._1 != "operation")
            .map { case (k, v) => k -> (JString(v): JValue) }))
    val metadataLog = prev.toSeq.map { p =>
      JObject(
        "timestamp-ms" -> JInt(BigInt(p.lastUpdatedMs)),
        "metadata-file" -> JString(
          metadataPath(location, p.version).toString)): JValue
    }
    val j = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(uuid),
      "location" -> JString(location),
      "last-sequence-number" -> JInt(BigInt(lastSeq)),
      "last-updated-ms" -> JInt(BigInt(nowMs)),
      "last-column-id" -> JInt(schemasAll
        .map(s => maxFieldId(compact(render(s)))).foldLeft(0)(math.max)),
      "current-schema-id" -> JInt(curSchemaId),
      "schemas" -> JArray(schemasAll.toList),
      "default-spec-id" -> JInt(specId),
      "partition-specs" -> JArray(specs),
      "last-partition-id" -> JInt(lastPartitionId),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(
        "order-id" -> JInt(0), "fields" -> JArray(Nil)))),
      // table properties carry forward across commits (retention
      // knobs etc. ride here, per spec); set/remove apply on top
      "properties" -> JObject(
        ((prev.map(_.properties)
          .getOrElse(Map("write.format.default" -> "parquet"))
          ++ setProperties) -- removeProperties)
          .toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
      "current-snapshot-id" -> current
        .map(v => JInt(BigInt(v)): JValue).getOrElse(JInt(-1)),
      "refs" -> JObject(refsFinal.toList.sortBy(_._1).map { case (n, r) =>
        n -> (JObject(
          "snapshot-id" -> JInt(BigInt(r.snapshotId)),
          "type" -> JString(r.refType)): JValue)
      }),
      "statistics" -> JArray(statsFinal.map(statisticsJson).toList),
      "snapshots" -> JArray(snapshots.map(snapJson).toList),
      "snapshot-log" -> JArray(snapshots.map(s => JObject(
        "timestamp-ms" -> JInt(BigInt(s.timestampMs)),
        "snapshot-id" -> JInt(BigInt(s.snapshotId))): JValue).toList),
      "metadata-log" -> JArray(metadataLog.toList))
    writeAtomic(conf, metadataPath(location, version),
      compact(render(j)).getBytes(StandardCharsets.UTF_8))
    writeAtomic(conf, hintPath(location),
      version.toString.getBytes(StandardCharsets.UTF_8))
    version
  }

  /** Drop the statistics entry for `snapshotId` (the stand-alone-chain
    * side of the REST `remove-statistics` update). Removing an absent
    * entry — or from a chain-less location — is a no-op, per spec. */
  def removeStatistics(conf: Configuration, location: String,
                       snapshotId: Long): Unit =
    load(conf, location).foreach { m =>
      if (m.statistics.exists(_.snapshotId == snapshotId))
        commit(conf, location, m.schemaJson, None, None,
          dropStatistics = Set(snapshotId))
    }
}
