package graft.catalog

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.streaming.Delivery
import graft.streaming.Delivery.{PermanentException, RetryPolicy}

/** Iceberg REST catalog CLIENT — the reference's catalog integration
  * surface re-expressed over the PUBLIC Iceberg REST OpenAPI
  * (`/root/reference/internal/iceberg/catalog_rest.go:39-470` gets the
  * same operations from iceberg-go):
  *
  *  - `GET /v1/config` (warehouse-scoped `prefix` discovery),
  *  - OAuth2: static bearer token (the reference's `--catalog-token`
  *    path, auth.go) OR client-credentials grant against
  *    `POST /v1/oauth/tokens` with one refresh-and-replay on 401,
  *  - [[ensureNamespace]] / [[ensureTable]] with the reference's
  *    create-race tolerance (409 → re-check) and process-local table
  *    cache,
  *  - [[appendDataFiles]] as an optimistic REST commit:
  *    `assert-ref-snapshot-id` requirement + `add-snapshot` /
  *    `set-snapshot-ref` updates; a 409 conflict reloads and replays
  *    (bounded by the retry policy) — Iceberg's optimistic-concurrency
  *    loop. Snapshot summary carries the reference's
  *    `otel.record_count` / `otel.file_size` / `otel.file_count` keys,
  *  - [[listDataFiles]] over ALL snapshots (time-travel-aware, like
  *    reconciler.go), deduplicated.
  *
  * HTTP error taxonomy feeds [[Delivery]]: 401 (after refresh) / 403 /
  * 400 / 422 fail permanent; 409 on commit, 429, and 5xx are transient
  * and retried with the bounded backoff policy.
  *
  * Manifest encoding (r6): commits write REAL Iceberg v2 metadata — an
  * Avro OCF manifest (one ADDED `manifest_entry` per data file) plus an
  * Avro OCF manifest list (`manifest_file` records), both via the
  * hand-rolled [[AvroOcf]] writer with the spec's field-ids — so a
  * second engine (Trino, Spark-Iceberg) can read the committed table.
  * [[listDataFiles]] decodes the same format schema-driven (and still
  * reads this client's pre-r6 JSON-lines lists, sniffed by magic).
  * Metadata ops stay driver-side (file lists here are catalog-metadata
  * scale; the distributed listing/reconcile path is
  * [[graft.recovery.Recovery]]).
  */
object RestCatalogClient {

  /** Static bearer token (reference's path) or client-credentials. */
  case class CatalogAuth(token: String = "", clientId: String = "",
                         clientSecret: String = "", scope: String = "catalog")

  /** One observed catalog round-trip (http.go's loggingTransport
    * fields): auth is recorded as presence + header length only —
    * the token value never reaches the log. `status = -1` means the
    * transport itself failed; `errorBody` is set for status ≥ 400,
    * truncated to 1 KB. */
  final case class HttpLogEntry(method: String, path: String, status: Int,
                                durationMs: Long, hasAuthorization: Boolean,
                                authorizationLength: Int,
                                errorBody: Option[String])

  case class Settings(uri: String, warehouse: String = "",
                      auth: CatalogAuth = CatalogAuth(),
                      retry: RetryPolicy = RetryPolicy())

  /** `bounds` are optional per-column (field-id, lower, upper) min/max
    * stats in the Iceberg single-value binary serialization
    * ([[IcebergSingleValue]]) — written into the manifest entry's
    * `lower_bounds`/`upper_bounds` so planners prune files from
    * manifests alone ([[IcebergTableReader.readSlice]]). */
  /** `partition`: the file's partition TUPLE values aligned with the
    * table's default spec fields ([[IcebergPartitioning.valuesForFile]]
    * derives them from the same stats that feed `bounds`); empty on an
    * unpartitioned table. */
  case class DataFile(path: String, sizeBytes: Long, recordCount: Long,
                      bounds: Seq[(Int, Array[Byte], Array[Byte])] = Nil,
                      partition: Seq[Option[Long]] = Nil)

  /** Loaded table state needed by commits and listings. `schemaJson` is
    * the CURRENT table schema (compact JSON) — embedded into manifest
    * file metadata so manifest readers can resolve columns without a
    * catalog round-trip, as the Iceberg spec requires. `snapshots` is
    * the (snapshot-id, manifest-list) log — the carry-forward source
    * for append commits. */
  case class TableInfo(location: String, currentSnapshotId: Option[Long],
                       lastSequenceNumber: Long, manifestLists: Seq[String],
                       schemaJson: String = "{}",
                       defaultSpec: Option[JValue] = None,
                       lastPartitionId: Option[Int] = None,
                       snapshots: Seq[(Long, String)] = Nil,
                       statistics: Seq[IcebergTableMetadata.StatisticsFile] = Nil,
                       properties: Map[String, String] = Map.empty,
                       snapshotSummaries: Map[Long, Map[String, String]] =
                         Map.empty)

  /** Top-level field id of `column` in an Iceberg schema JSON — the
    * key manifest bounds maps use. */
  def fieldIdOf(schemaJson: String, column: String): Option[Int] =
    (org.json4s.jackson.JsonMethods.parse(schemaJson) \ "fields").toOption
      .collect { case JArray(fs) =>
        fs.collectFirst {
          case f if (f \ "name").toOption.contains(JString(column)) =>
            (f \ "id") match { case JInt(n) => n.toInt; case _ => -1 }
        }
      }.flatten.filter(_ >= 0)

  /** Granularity → Iceberg TIME-TRANSFORM partition field, matching the
    * reference's OTELPartitionSpec
    * (`/root/reference/internal/iceberg/partition.go:74-98`, unknown
    * values default to hourly). Returns (partition name, transform). */
  def granularityTransform(granularity: String): (String, String) =
    granularity match {
      case "monthly" => ("month", "month")
      case "daily"   => ("day", "day")
      case _         => ("hour", "hour")
    }

  /** Spark StructType → Iceberg schema JSON whose field ids AGREE with
    * the parquet footer ids
    * [[graft.sink.PartitionedParquetSink.withIcebergFieldIds]] stamps —
    * Iceberg resolves columns by id, so any divergence makes a
    * conforming reader misresolve columns of a committed table.
    *
    * Two-phase numbering (r6 — previously container element/key/value
    * ids were interleaved into the sequence, so every field after the
    * first array/map column disagreed with its footer id):
    *
    *  1. struct fields reachable WITHOUT crossing an array/map get
    *     sequential pre-order ids — exactly the sink's walk, which can
    *     only stamp `parquet.field.id` metadata on StructFields;
    *  2. everything the sink cannot stamp — list element-ids, map
    *     key/value-ids, and struct fields nested under a container —
    *     continues the counter afterwards, in pre-order.
    *
    * Every id the footers carry matches phase 1; phase-2 ids exist only
    * in the catalog schema (Iceberg requires them but parquet files
    * resolve those nodes structurally). Returns (schema JSON, top-level
    * name → id). */
  def icebergSchemaJson(schema: StructType): (JValue, Map[String, Int]) = {
    var nextId = 0
    def fresh(): Int = { nextId += 1; nextId }

    // phase 1: ids for the sink-stampable struct fields, pre-order
    val structIds = scala.collection.mutable.HashMap.empty[Seq[String], Int]
    def number(st: StructType, path: Seq[String]): Unit =
      st.fields.foreach { f =>
        val p = path :+ f.name
        structIds(p) = fresh()
        f.dataType match {
          case nested: StructType => number(nested, p)
          case _ => () // containers and their children wait for phase 2
        }
      }
    number(schema, Nil)

    // phase 2: container ids + container-nested fields, pre-order
    def typeJson(dt: DataType, path: Seq[String], underContainer: Boolean): JValue =
      dt match {
        case st: StructType =>
          JObject("type" -> JString("struct"),
            "fields" -> JArray(st.fields.map(f =>
              fieldJson(f, path, underContainer)).toList))
        case ArrayType(et, containsNull) =>
          val id = fresh()
          JObject("type" -> JString("list"), "element-id" -> JInt(id),
            "element" -> typeJson(et, path :+ "element", underContainer = true),
            "element-required" -> JBool(!containsNull))
        case MapType(kt, vt, valueContainsNull) =>
          val kid = fresh()
          val kj = typeJson(kt, path :+ "key", underContainer = true)
          val vid = fresh()
          JObject("type" -> JString("map"), "key-id" -> JInt(kid),
            "key" -> kj, "value-id" -> JInt(vid),
            "value" -> typeJson(vt, path :+ "value", underContainer = true),
            "value-required" -> JBool(!valueContainsNull))
        case LongType => JString("long")
        case IntegerType | ShortType | ByteType => JString("int")
        case StringType => JString("string")
        case DoubleType => JString("double")
        case FloatType => JString("float")
        case BooleanType => JString("boolean")
        case BinaryType => JString("binary")
        case DateType => JString("date")
        case TimestampType => JString("timestamptz")
        case TimestampNTZType => JString("timestamp")
        case d: DecimalType => JString(s"decimal(${d.precision}, ${d.scale})")
        case other =>
          throw new IllegalArgumentException(s"unsupported Iceberg type: $other")
      }
    def fieldJson(f: StructField, path: Seq[String],
                  underContainer: Boolean): JValue = {
      val p = path :+ f.name
      val id = if (underContainer) fresh() else structIds(p)
      JObject("id" -> JInt(id), "name" -> JString(f.name),
        "required" -> JBool(!f.nullable),
        "type" -> typeJson(f.dataType, p, underContainer))
    }
    val topIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val fields = schema.fields.map { f =>
      val j = fieldJson(f, Nil, underContainer = false)
      topIds(f.name) = (j \ "id").asInstanceOf[JInt].num.toInt
      j
    }
    (JObject("type" -> JString("struct"), "schema-id" -> JInt(0),
       "fields" -> JArray(fields.toList)),
     topIds.toMap)
  }
}

class RestCatalogClient(settings: RestCatalogClient.Settings,
                        hadoopConf: Configuration = new Configuration(),
                        verbosity: String = "normal",
                        httpLog: RestCatalogClient.HttpLogEntry => Unit =
                          _ => ()) {
  import RestCatalogClient._
  private implicit val formats: Formats = DefaultFormats

  private val http = HttpClient.newHttpClient()

  /** Verbosity-gated request observability — the reference's
    * loggingTransport (`internal/iceberg/http.go`): `detailed` records
    * every catalog round-trip, `normal` only error responses (status ≥
    * 400 or transport failure, body truncated to 1 KB), `basic`
    * nothing. The Authorization header is NEVER captured — only its
    * presence and length, exactly like the reference. */
  private def logged[T](method: String, path: String)
                       (send: => HttpResponse[String]): HttpResponse[String] = {
    val hasAuth = bearer.isDefined
    val authLen = bearer.map(t => s"Bearer $t".length).getOrElse(0)
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1000000L
    val resp =
      try send
      catch {
        case e: Throwable =>
          if (verbosity != "basic")
            httpLog(HttpLogEntry(method, path, -1, ms, hasAuth, authLen,
              Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
          throw e
      }
    val err =
      if (resp.statusCode() >= 400) Option(resp.body()).map { b =>
        if (b.length > 1000) b.take(1000) + "...(truncated)" else b
      } else None
    if (verbosity == "detailed" || (verbosity == "normal" && err.nonEmpty))
      httpLog(HttpLogEntry(method, path, resp.statusCode(), ms,
        hasAuth, authLen, err))
    resp
  }
  @volatile private var bearer: Option[String] =
    Option(settings.auth.token).filter(_.nonEmpty)
  private val tableCache = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def canRefresh: Boolean = settings.auth.clientId.nonEmpty

  /** client-credentials grant (auth.go's bearer acquisition, but against
    * the catalog's own token endpoint). */
  private def fetchToken(): String = {
    val form = Seq(
      "grant_type" -> "client_credentials",
      "client_id" -> settings.auth.clientId,
      "client_secret" -> settings.auth.clientSecret,
      "scope" -> settings.auth.scope)
      .map { case (k, v) => k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }
      .mkString("&")
    val req = HttpRequest.newBuilder(URI.create(s"${settings.uri}/v1/oauth/tokens"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build()
    val resp = logged("POST", "/v1/oauth/tokens")(
      http.send(req, HttpResponse.BodyHandlers.ofString()))
    if (resp.statusCode() != 200)
      throw new PermanentException(
        s"authentication failed: token endpoint returned ${resp.statusCode()}", null)
    val tok = (parse(resp.body()) \ "access_token").extract[String]
    bearer = Some(tok)
    tok
  }

  /** One HTTP call with auth + the error taxonomy. 404 returns None;
    * 401 refreshes the token once (when client credentials exist) and
    * replays; 409 raises a TRANSIENT conflict (commit retry loop);
    * 4xx validation raises permanent; 5xx/429 raise transient. */
  private def call(method: String, pathAndQuery: String,
                   body: Option[String], retried401: Boolean = false): Option[JValue] = {
    val b = HttpRequest.newBuilder(URI.create(settings.uri + pathAndQuery))
      .header("Content-Type", "application/json")
    bearer.foreach(t => b.header("Authorization", s"Bearer $t"))
    val req = (body match {
      case Some(s) => b.method(method, HttpRequest.BodyPublishers.ofString(s, StandardCharsets.UTF_8))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }).build()
    val resp = logged(method, pathAndQuery)(
      http.send(req, HttpResponse.BodyHandlers.ofString()))
    resp.statusCode() match {
      case ok if ok >= 200 && ok < 300 =>
        Some(if (resp.body() == null || resp.body().isEmpty) JNothing
             else parse(resp.body()))
      case 404 => None
      case 401 if canRefresh && !retried401 =>
        fetchToken(); call(method, pathAndQuery, body, retried401 = true)
      case 401 =>
        throw new PermanentException(s"unauthorized: $method $pathAndQuery", null)
      case 403 =>
        throw new PermanentException(s"forbidden: $method $pathAndQuery", null)
      case 400 | 422 =>
        throw new PermanentException(
          s"bad request: $method $pathAndQuery → ${resp.body()}", null)
      case 409 =>
        throw new RuntimeException(s"conflict (409): $method $pathAndQuery")
      case other =>
        throw new RuntimeException(s"catalog returned $other: $method $pathAndQuery")
    }
  }

  /** `GET /v1/config` prefix discovery (overrides win over defaults). */
  lazy val prefix: String = {
    val q = if (settings.warehouse.nonEmpty)
      "?warehouse=" + java.net.URLEncoder.encode(settings.warehouse, "UTF-8")
    else ""
    val cfg = Delivery.retry(settings.retry)(call("GET", s"/v1/config$q", None))
      .getOrElse(throw new PermanentException("catalog /v1/config not found", null))
    val p = (cfg \ "overrides" \ "prefix").toOption
      .orElse((cfg \ "defaults" \ "prefix").toOption)
      .collect { case JString(s) if s.nonEmpty => s }
    p.map(s => s"/v1/$s").getOrElse("/v1")
  }

  /** Connection test, reference-style: list namespaces. */
  def listNamespaces(): Seq[String] =
    Delivery.retry(settings.retry)(call("GET", s"$prefix/namespaces", None))
      .toSeq.flatMap { j =>
        (j \ "namespaces").extract[Seq[Seq[String]]].map(_.mkString("."))
      }

  /** Create-if-absent with the reference's race tolerance: a lost
    * create race (409/"already exists") re-checks and succeeds. The
    * `location` property is set only when the warehouse is a full URI
    * (catalog_rest.go:139-143's scheme check). */
  def ensureNamespace(namespace: String): Unit = Delivery.retry(settings.retry) {
    if (call("GET", s"$prefix/namespaces/$namespace", None).isEmpty) {
      val props =
        if (settings.warehouse.contains("://"))
          JObject("location" -> JString(s"${settings.warehouse}/$namespace"))
        else JObject()
      val body = compact(render(JObject(
        "namespace" -> JArray(List(JString(namespace))), "properties" -> props)))
      try { call("POST", s"$prefix/namespaces", Some(body)); () }
      catch {
        case _: Throwable
            if call("GET", s"$prefix/namespaces/$namespace", None).isDefined => ()
      }
    }
  }

  private def parseTable(j: JValue): TableInfo = {
    val md = j \ "metadata"
    TableInfo(
      location = (md \ "location").extract[String],
      currentSnapshotId = (md \ "current-snapshot-id").toOption
        .collect { case JInt(n) if n >= 0 => n.toLong },
      lastSequenceNumber = (md \ "last-sequence-number").toOption
        .collect { case JInt(n) => n.toLong }.getOrElse(0L),
      manifestLists = (md \ "snapshots").toOption.toSeq.flatMap {
        case JArray(ss) => ss.map(s => (s \ "manifest-list").extract[String])
        case _ => Nil
      },
      snapshots = (md \ "snapshots").toOption.toSeq.flatMap {
        case JArray(ss) => ss.flatMap { s =>
          ((s \ "snapshot-id").toOption, (s \ "manifest-list").toOption) match {
            case (Some(JInt(id)), Some(JString(ml))) => Some(id.toLong -> ml)
            case _ => None
          }
        }
        case _ => Nil
      },
      schemaJson = {
        val currentId = (md \ "current-schema-id").toOption
          .collect { case JInt(n) => n.toInt }
        val fromList = (md \ "schemas").toOption.collect { case JArray(ss) =>
          currentId.flatMap(id => ss.find(s =>
              (s \ "schema-id").toOption.contains(JInt(id))))
            .orElse(ss.headOption)
        }.flatten
        fromList.orElse((md \ "schema").toOption)
          .map(s => compact(render(s))).getOrElse("{}")
      },
      defaultSpec = {
        val specId = (md \ "default-spec-id").toOption
          .collect { case JInt(n) => n.toInt }
        (md \ "partition-specs").toOption.collect { case JArray(ss) =>
          specId.flatMap(id => ss.find(s =>
              (s \ "spec-id").toOption.contains(JInt(id))))
            .orElse(ss.lastOption)
        }.flatten
      },
      lastPartitionId = {
        // the metadata's own counter when present, else the max
        // partition field id across ALL specs — either way, new specs
        // continue from here (Iceberg v2: partition field ids are
        // unique across specs)
        (md \ "last-partition-id").toOption.collect { case JInt(n) => n.toInt }
          .orElse {
            val ids = (md \ "partition-specs").toOption.toSeq.flatMap {
              case JArray(ss) => ss.flatMap(s =>
                IcebergPartitioning.fieldsOf(s).map(_.fieldId))
              case _ => Nil
            }
            if (ids.isEmpty) None else Some(ids.max)
          }
      },
      statistics = IcebergTableMetadata.parseStatistics(md \ "statistics"),
      properties = (md \ "properties").toOption.collect {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      }.getOrElse(Map.empty),
      snapshotSummaries = (md \ "snapshots").toOption.toSeq.flatMap {
        case JArray(ss) => ss.flatMap { s =>
          ((s \ "snapshot-id").toOption, (s \ "summary").toOption) match {
            case (Some(JInt(id)), Some(JObject(sm))) =>
              Some(id.toLong ->
                sm.collect { case (k, JString(v)) => k -> v }.toMap)
            case _ => None
          }
        }
        case _ => Nil
      }.toMap)
  }

  def loadTable(namespace: String, table: String): Option[TableInfo] =
    Delivery.retry(settings.retry)(
      call("GET", s"$prefix/namespaces/$namespace/tables/$table", None))
      .map(parseTable)

  /** Create-if-absent with fresh-id schema conversion, identity
    * partition spec over `partitionCols` (field-ids from 1000, Iceberg
    * convention), create-race tolerance, and a process-local cache
    * (catalog_rest.go:168-240). */
  def ensureTable(namespace: String, table: String, schema: StructType,
                  partitionCols: Seq[String] = Nil): Unit = {
    val key = s"$namespace.$table"
    if (tableCache.contains(key)) return
    Delivery.retry(settings.retry) {
      if (loadTableOnce(namespace, table).isEmpty) {
        val (schemaJson, topIds) = icebergSchemaJson(schema)
        val specFields = partitionCols.zipWithIndex.map { case (c, i) =>
          val src = topIds.getOrElse(c, throw new PermanentException(
            s"validation failed: partition column $c not in schema", null))
          JObject("name" -> JString(c), "transform" -> JString("identity"),
            "source-id" -> JInt(src), "field-id" -> JInt(1000 + i))
        }
        val body = compact(render(JObject(
          "name" -> JString(table),
          "schema" -> schemaJson,
          "partition-spec" -> JObject("spec-id" -> JInt(0),
            "fields" -> JArray(specFields.toList)),
          "properties" -> JObject("write.format.default" -> JString("parquet")))))
        try { call("POST", s"$prefix/namespaces/$namespace/tables", Some(body)); () }
        catch {
          case _: Throwable
              if loadTableOnce(namespace, table).isDefined => ()
        }
        // bootstrap the stand-alone chain (v1, snapshot-less) so even a
        // never-appended table is cold-openable; skipped if a race
        // winner already wrote one
        loadTableOnce(namespace, table).foreach { ti =>
          if (IcebergTableMetadata.currentVersion(hadoopConf, ti.location) == 0)
            IcebergTableMetadata.commit(hadoopConf, ti.location,
              ti.schemaJson, ti.defaultSpec, None)
        }
      }
    }
    tableCache.add(key)
  }

  private def loadTableOnce(namespace: String, table: String): Option[TableInfo] =
    call("GET", s"$prefix/namespaces/$namespace/tables/$table", None).map(parseTable)

  /** Optimistic append commit. Each attempt: load fresh state → write
    * the manifest list (unique name per attempt) → commit with an
    * `assert-ref-snapshot-id` requirement. A concurrent commit turns
    * into a 409 → transient → the retry loop replays against the new
    * head — Iceberg's standard conflict resolution for appends (no
    * rebase needed: appends commute). The snapshot id is picked once,
    * before the loop: an attempt that finds it already in the table
    * (the catalog took an earlier POST whose response was lost, or the
    * stand-alone metadata write failed after it) skips the POST and
    * only finishes the stand-alone step, so a retry never appends the
    * same files twice. Returns the committed snapshot's id; None when
    * `files` is empty (nothing is committed). */
  def appendDataFiles(namespace: String, table: String,
                      files: Seq[DataFile]): Option[Long] = {
    if (files.isEmpty) return None
    val snapId = System.nanoTime() // unique, monotone enough per-process
    var posted: Option[IcebergTableMetadata.SnapshotMeta] = None
    Delivery.retry(settings.retry) {
      val info = loadTableOnce(namespace, table).getOrElse(
        throw new PermanentException(s"validation failed: table $namespace.$table does not exist", null))
      val meta =
        if (info.snapshots.exists(_._1 == snapId)) posted.get
        else {
          val (m, body) = appendSnapshot(namespace, table, info, snapId, files)
          posted = Some(m) // before the POST: its response may be lost
          call("POST", s"$prefix/namespaces/$namespace/tables/$table", Some(body))
          m
        }
      // STAND-ALONE metadata chain: after the catalog accepts the
      // snapshot, append it to the table's vN.metadata.json chain so
      // the directory is cold-readable without the catalog
      // ([[IcebergTableMetadata]] — best-effort vs a concurrent writer
      // on another host; the catalog stays the source of truth and the
      // next commit repairs any lag).
      IcebergTableMetadata.commit(hadoopConf, info.location,
        info.schemaJson, info.defaultSpec, Some(meta))
      Some(snapId)
    }
  }

  /** One append attempt against the loaded head `info`: write the
    * manifests and return the snapshot as the stand-alone chain records
    * it, with the catalog commit body that adds it. */
  private def appendSnapshot(namespace: String, table: String, info: TableInfo,
                             snapId: Long, files: Seq[DataFile])
      : (IcebergTableMetadata.SnapshotMeta, String) = {
    val seqNum = info.lastSequenceNumber + 1
    // Real Iceberg v2 metadata: an Avro manifest with one ADDED entry
    // per data file, then an Avro manifest list that CARRIES FORWARD
    // every prior manifest (per the spec a snapshot's list is the
    // complete table state — sequence numbers preserved, so any
    // single-snapshot reader sees the whole table) — the layout
    // iceberg-go's transaction append produces
    // (catalog_rest.go:292,345-358). Shared mechanics: [[IcebergCommit]];
    // hand-rolled OCF: [[AvroOcf]]. Pre-r6 JSON-lines parent lists
    // can't carry (no manifest records); [[listDataFiles]]'s
    // all-snapshot union still covers those.
    val parentList = info.currentSnapshotId
      .flatMap(cur => info.snapshots.find(_._1 == cur).map(_._2))
    val (_, listPath) = IcebergCommit.writeManifests(
      hadoopConf, info.location, info.schemaJson, snapId, seqNum,
      info.currentSnapshotId, parentList, files,
      info.defaultSpec.map(IcebergPartitioning.fieldsOf).getOrElse(Nil),
      specId = info.defaultSpec.flatMap(sp => (sp \ "spec-id").toOption
        .collect { case JInt(n) => n.toInt }).getOrElse(0))
    val summary = JObject(
      "operation" -> JString("append"),
      "otel.exporter" -> JString("iceberg"),
      "otel.record_count" -> JString(files.map(_.recordCount).sum.toString),
      "otel.file_size" -> JString(files.map(_.sizeBytes).sum.toString),
      "otel.file_count" -> JString(files.size.toString))
    val commitTsMs = System.currentTimeMillis()
    val snapshot = JObject(
      "snapshot-id" -> JInt(BigInt(snapId)),
      "parent-snapshot-id" -> info.currentSnapshotId
        .map(v => JInt(BigInt(v)): JValue).getOrElse(JNull),
      "sequence-number" -> JInt(BigInt(seqNum)),
      "timestamp-ms" -> JInt(BigInt(commitTsMs)),
      "manifest-list" -> JString(listPath),
      "summary" -> summary)
    val body = compact(render(JObject(
      "identifier" -> JObject(
        "namespace" -> JArray(List(JString(namespace))),
        "name" -> JString(table)),
      "requirements" -> JArray(List(JObject(
        "type" -> JString("assert-ref-snapshot-id"),
        "ref" -> JString("main"),
        "snapshot-id" -> info.currentSnapshotId
          .map(v => JInt(BigInt(v)): JValue).getOrElse(JNull)))),
      "updates" -> JArray(List(
        JObject("action" -> JString("add-snapshot"), "snapshot" -> snapshot),
        JObject("action" -> JString("set-snapshot-ref"),
          "ref-name" -> JString("main"), "type" -> JString("branch"),
          "snapshot-id" -> JInt(BigInt(snapId))))))))
    (IcebergTableMetadata.SnapshotMeta(
      snapId, info.currentSnapshotId, seqNum, commitTsMs, listPath,
      Map("operation" -> "append",
          "otel.record_count" -> files.map(_.recordCount).sum.toString,
          "otel.file_size" -> files.map(_.sizeBytes).sum.toString,
          "otel.file_count" -> files.size.toString)), body)
  }

  /** MERGE-ON-READ DML through the REST catalog (r18) — the commit
    * shape a CDC/upsert feed needs on a CATALOGED table, which
    * [[appendDataFiles]] (append-only, the reference exporter's verb)
    * cannot express: one snapshot carrying new data files AND an
    * equality-delete manifest (`content=2` files retiring every prior
    * row whose key tuple matches — strictly below the new sequence
    * number, so the snapshot's own rows survive). Same optimistic
    * protocol as append: `assert-ref-snapshot-id` requirement, retry
    * reloads the table on conflict (409-replay safe), and the
    * standalone vN.metadata.json chain is advanced best-effort so the
    * directory stays cold-readable without the catalog. Manifest
    * layout is byte-identical to the catalog-free upsert
    * ([[IcebergCommit.writeUpsertManifests]] is shared). */
  def upsertFiles(namespace: String, table: String,
                  files: Seq[DataFile],
                  deletes: Seq[IcebergCommit.DeleteFileSpec],
                  extraSummary: Map[String, String] = Map.empty): Unit = {
    if (files.isEmpty && deletes.isEmpty) return
    require(deletes.forall(_.content == 2),
      "REST upsert retires prior rows via EQUALITY deletes (content=2)")
    Delivery.retry(settings.retry) {
      val info = loadTableOnce(namespace, table).getOrElse(
        throw new PermanentException(
          s"validation failed: table $namespace.$table does not exist", null))
      val snapId = System.nanoTime()
      val seqNum = info.lastSequenceNumber + 1
      val parentList = info.currentSnapshotId
        .flatMap(cur => info.snapshots.find(_._1 == cur).map(_._2))
      val listPath = IcebergCommit.writeUpsertManifests(
        hadoopConf, info.location, info.schemaJson, snapId, seqNum,
        info.currentSnapshotId, parentList, files, deletes,
        info.defaultSpec.map(IcebergPartitioning.fieldsOf).getOrElse(Nil),
        specId = info.defaultSpec.flatMap(sp => (sp \ "spec-id").toOption
          .collect { case JInt(n) => n.toInt }).getOrElse(0))
      val summary = JObject(
        "operation" -> JString("overwrite"),
        "otel.exporter" -> JString("iceberg"),
        "otel.record_count" -> JString(files.map(_.recordCount).sum.toString),
        "otel.file_count" -> JString(files.size.toString),
        "otel.delete_record_count" ->
          JString(deletes.map(_.file.recordCount).sum.toString),
        "otel.delete_file_count" -> JString(deletes.size.toString))
        .merge(JObject(extraSummary.toList.sortBy(_._1)
          .map { case (k, v) => k -> (JString(v): JValue) }))
      val commitTsMs = System.currentTimeMillis()
      val snapshot = JObject(
        "snapshot-id" -> JInt(BigInt(snapId)),
        "parent-snapshot-id" -> info.currentSnapshotId
          .map(v => JInt(BigInt(v)): JValue).getOrElse(JNull),
        "sequence-number" -> JInt(BigInt(seqNum)),
        "timestamp-ms" -> JInt(BigInt(commitTsMs)),
        "manifest-list" -> JString(listPath),
        "summary" -> summary)
      val body = compact(render(JObject(
        "identifier" -> JObject(
          "namespace" -> JArray(List(JString(namespace))),
          "name" -> JString(table)),
        "requirements" -> JArray(List(JObject(
          "type" -> JString("assert-ref-snapshot-id"),
          "ref" -> JString("main"),
          "snapshot-id" -> info.currentSnapshotId
            .map(v => JInt(BigInt(v)): JValue).getOrElse(JNull)))),
        "updates" -> JArray(List(
          JObject("action" -> JString("add-snapshot"), "snapshot" -> snapshot),
          JObject("action" -> JString("set-snapshot-ref"),
            "ref-name" -> JString("main"), "type" -> JString("branch"),
            "snapshot-id" -> JInt(BigInt(snapId))))))))
      call("POST", s"$prefix/namespaces/$namespace/tables/$table", Some(body))
      IcebergTableMetadata.commit(hadoopConf, info.location,
        info.schemaJson, info.defaultSpec,
        Some(IcebergTableMetadata.SnapshotMeta(
          snapId, info.currentSnapshotId, seqNum, commitTsMs, listPath,
          Map("operation" -> "overwrite",
              "otel.record_count" -> files.map(_.recordCount).sum.toString,
              "otel.file_count" -> files.size.toString,
              "otel.delete_record_count" ->
                deletes.map(_.file.recordCount).sum.toString)
            ++ extraSummary)))
      ()
    }
  }

  /** PARTITION-SPEC EVOLUTION commit: register a new default spec with
    * the granularity's time transform on `tsColumn` — the catalog side
    * of a granularity rewrite, matching the reference repartitioner's
    * re-registration (`/root/reference/internal/recovery/repartitioner.go`
    * always writes hourly; `internal/iceberg/partition.go:74` maps
    * granularity → transform). Iceberg semantics: old manifests keep
    * their original spec-id — only FUTURE writes use the new spec, so
    * this is metadata-only and instant at any table size. The commit is
    * `add-spec` + `set-default-spec` (spec-id -1 = "the spec just
    * added", per the REST API's last-added convention) under the same
    * optimistic retry loop as appends. */
  def updatePartitionSpec(namespace: String, table: String,
                          tsColumn: String, granularity: String): Unit = {
    val (name, transform) = granularityTransform(granularity)
    updateSpecFields(namespace, table, Seq((name, tsColumn, transform)))
  }

  /** GENERAL spec evolution (r14): register a new default partition
    * spec with arbitrary fields — `(partition name, source column,
    * transform)` — including the Iceberg-spec `bucket[N]` / `truncate[W]`
    * transforms both the reference's parseTransform
    * (catalog_rest.go:527: identity + four time transforms) and the
    * pre-r14 engine stopped short of. The composite point-lookup spec
    * (`hour(ts), bucket[16](service)`) is the canonical use. Field ids
    * continue from the table's last partition id (1000 floor for the
    * first spec) — Iceberg v2 requires them unique across specs. */
  def updateSpecFields(namespace: String, table: String,
                       fields: Seq[(String, String, String)]): Unit =
    Delivery.retry(settings.retry) {
      require(fields.nonEmpty, "spec evolution needs at least one field")
      val info = loadTableOnce(namespace, table).getOrElse(
        throw new PermanentException(
          s"validation failed: table $namespace.$table does not exist", null))
      val schemaFields = (parse(info.schemaJson) \ "fields").toOption
        .collect { case JArray(fs) => fs }.getOrElse(Nil)
      def srcIdOf(column: String): Int = schemaFields.collectFirst {
        case f if (f \ "name").toOption.contains(JString(column)) =>
          (f \ "id") match { case JInt(n) => n.toInt; case _ => -1 }
      }.filter(_ >= 0).getOrElse(
        throw new PermanentException(
          s"validation failed: column $column not in $namespace.$table schema", null))
      // Iceberg v2 requires partition field ids UNIQUE ACROSS SPECS:
      // continue from the table's last partition id (or the 1000 floor
      // for the first spec) instead of restarting at 1000 — a foreign
      // reader keying tuples by field id must never see id 1000 mean
      // two different (source, transform) pairs across eras
      val base = math.max(999, info.lastPartitionId.getOrElse(999))
      val specFields = fields.zipWithIndex.map {
        case ((name, column, transform), i) =>
          // validate the transform by evaluating it once — an unknown
          // transform must fail HERE, not in a reader years later
          IcebergPartitioning.transformValue(transform, 0L)
          JObject(
            "name" -> JString(name),
            "transform" -> JString(transform),
            "source-id" -> JInt(srcIdOf(column)),
            "field-id" -> JInt(base + 1 + i))
      }
      val body = compact(render(JObject(
        "identifier" -> JObject(
          "namespace" -> JArray(List(JString(namespace))),
          "name" -> JString(table)),
        "requirements" -> JArray(Nil),
        "updates" -> JArray(List(
          JObject("action" -> JString("add-spec"),
            "spec" -> JObject("fields" -> JArray(specFields.toList))),
          JObject("action" -> JString("set-default-spec"),
            "spec-id" -> JInt(-1)))))))
      call("POST", s"$prefix/namespaces/$namespace/tables/$table", Some(body))
      // keep the stand-alone chain's default spec current too (a
      // snapshot-less version bump — spec evolution is metadata-only)
      loadTableOnce(namespace, table).foreach { ti =>
        IcebergTableMetadata.commit(hadoopConf, ti.location,
          ti.schemaJson, ti.defaultSpec, None)
      }
      ()
    }

  /** STATISTICS registration (Iceberg REST `set-statistics` table
    * update): publish a Puffin sidecar's entry — built by
    * [[IcebergMaintenance.writeBloomIndex]]/`writeNdvIndex` on the
    * table location — to the CATALOG, so catalog-first readers (the
    * reference's actual deployment shape, `internal/iceberg/
    * catalog_rest.go:39-470`) resolve the point-lookup and NDV indexes
    * without touching the stand-alone metadata chain. Set-statistics
    * REPLACES any prior entry for the same snapshot (spec semantics —
    * matching [[IcebergTableMetadata.commit]]'s `addStatistics`).
    *
    * The commit rides the same optimistic loop as appends: an
    * `assert-ref-snapshot-id` requirement pins the branch head, a
    * concurrent commit 409s → retry reloads and replays. Replay is
    * idempotent (same entry, replace-by-snapshot-id). After the
    * catalog accepts, the entry is mirrored into the stand-alone
    * chain (best-effort, like [[appendDataFiles]]) so cold readers
    * stay equivalent. */
  def setStatistics(namespace: String, table: String,
                    stats: IcebergTableMetadata.StatisticsFile): Unit =
    Delivery.retry(settings.retry) {
      val info = loadTableOnce(namespace, table).getOrElse(
        throw new PermanentException(
          s"validation failed: table $namespace.$table does not exist", null))
      val body = compact(render(JObject(
        "identifier" -> JObject(
          "namespace" -> JArray(List(JString(namespace))),
          "name" -> JString(table)),
        "requirements" -> JArray(List(JObject(
          "type" -> JString("assert-ref-snapshot-id"),
          "ref" -> JString("main"),
          "snapshot-id" -> info.currentSnapshotId
            .map(v => JInt(BigInt(v)): JValue).getOrElse(JNull)))),
        "updates" -> JArray(List(
          JObject("action" -> JString("set-statistics"),
            "snapshot-id" -> JInt(BigInt(stats.snapshotId)),
            "statistics" -> IcebergTableMetadata.statisticsJson(stats)))))))
      call("POST", s"$prefix/namespaces/$namespace/tables/$table", Some(body))
      IcebergTableMetadata.commit(hadoopConf, info.location,
        info.schemaJson, info.defaultSpec, None,
        addStatistics = Seq(stats))
      ()
    }

  /** TABLE PROPERTIES update (Iceberg REST `set-properties` /
    * `remove-properties` actions in one commit) — the knob surface a
    * real operator reaches eventually: retention
    * (`history.expire.max-snapshot-age-ms`), compaction targets, write
    * options all ride properties. Requirements are EMPTY like other
    * metadata-only updates (properties don't race snapshots), so a
    * concurrent append can't 409 a knob change; replay is idempotent
    * (set/remove converge). The result is mirrored into the
    * stand-alone metadata chain (properties carry forward across its
    * commits), so cold readers see the same knobs as catalog readers. */
  def updateProperties(namespace: String, table: String,
                       set: Map[String, String] = Map.empty,
                       remove: Set[String] = Set.empty): Unit =
    Delivery.retry(settings.retry) {
      require(set.nonEmpty || remove.nonEmpty,
        "updateProperties needs at least one set or remove")
      val info = loadTableOnce(namespace, table).getOrElse(
        throw new PermanentException(
          s"validation failed: table $namespace.$table does not exist", null))
      val actions =
        (if (set.nonEmpty)
          List(JObject("action" -> JString("set-properties"),
            "updates" -> JObject(set.toList.sortBy(_._1)
              .map { case (k, v) => k -> (JString(v): JValue) })))
         else Nil) :::
        (if (remove.nonEmpty)
          List(JObject("action" -> JString("remove-properties"),
            "removals" -> JArray(remove.toList.sorted.map(JString(_)))))
         else Nil)
      val body = compact(render(JObject(
        "identifier" -> JObject(
          "namespace" -> JArray(List(JString(namespace))),
          "name" -> JString(table)),
        "requirements" -> JArray(Nil),
        "updates" -> JArray(actions))))
      call("POST", s"$prefix/namespaces/$namespace/tables/$table", Some(body))
      IcebergTableMetadata.commit(hadoopConf, info.location,
        info.schemaJson, info.defaultSpec, None,
        setProperties = set, removeProperties = remove)
      ()
    }

  /** Startup CONNECTION PROBE — parity with the reference's
    * best-effort `testConnection` (catalog_rest.go:112-127: list
    * namespaces as a lightweight reachability check, log the outcome,
    * never fail initialization). Returns Right(namespace count) on
    * success, Left(diagnostic) on any failure — including the
    * reference's no-token hint — and NEVER throws. */
  def testConnection(): Either[String, Int] =
    try Right(listNamespaces().size)
    catch {
      case scala.util.control.NonFatal(t) =>
        val hint =
          if (settings.auth.token.isEmpty && settings.auth.clientId.isEmpty)
            " (no authentication configured - try providing a catalog token)"
          else ""
        Left(s"REST catalog connection test failed: ${t.getMessage}$hint")
    }

  /** Iceberg REST `remove-statistics`: drop the statistics entry for
    * `snapshotId` from the catalog (and mirror the removal into the
    * stand-alone chain). Removing an absent entry is a no-op, per
    * spec. */
  def removeStatistics(namespace: String, table: String,
                       snapshotId: Long): Unit =
    Delivery.retry(settings.retry) {
      val info = loadTableOnce(namespace, table).getOrElse(
        throw new PermanentException(
          s"validation failed: table $namespace.$table does not exist", null))
      val body = compact(render(JObject(
        "identifier" -> JObject(
          "namespace" -> JArray(List(JString(namespace))),
          "name" -> JString(table)),
        "requirements" -> JArray(Nil),
        "updates" -> JArray(List(
          JObject("action" -> JString("remove-statistics"),
            "snapshot-id" -> JInt(BigInt(snapshotId))))))))
      call("POST", s"$prefix/namespaces/$namespace/tables/$table", Some(body))
      IcebergTableMetadata.removeStatistics(hadoopConf, info.location,
        snapshotId)
      ()
    }

  /** All data files across ALL snapshots (time-travel-aware: files
    * superseded by rewrites but still referenced by old snapshots count
    * as registered — catalog_rest.go:369-470), deduplicated. A missing
    * table is an empty list, not an error.
    *
    * Reads REAL Iceberg metadata: each snapshot's manifest list is an
    * Avro OCF of `manifest_file` records; each manifest is an OCF of
    * `manifest_entry` records — decoded schema-driven by [[AvroOcf]],
    * so manifests written by OTHER engines (different field order,
    * deflate codec, extra stats columns) parse too. Entries with
    * status=2 (DELETED) are skipped, matching iceberg-go's
    * `FetchEntries(fileIO, true)` (catalog_rest.go:436). Pre-r6
    * JSON-lines manifest lists written by this client remain readable
    * (format sniffed by magic). */
  def listDataFiles(namespace: String, table: String): Seq[String] =
    loadTable(namespace, table) match {
      case None => Seq.empty
      case Some(info) =>
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        def readAll(path: String): Option[Array[Byte]] = {
          val p = new Path(path)
          val fs = p.getFileSystem(hadoopConf)
          if (!fs.exists(p)) None
          else {
            val in = fs.open(p)
            try Some(in.readAllBytes()) finally in.close()
          }
        }
        def isAvro(b: Array[Byte]): Boolean =
          b.length > 4 && b(0) == 'O' && b(1) == 'b' && b(2) == 'j' && b(3) == 1
        info.manifestLists.foreach { ml =>
          readAll(ml).foreach { bytes =>
            if (isAvro(bytes)) {
              val (_, manifests) = AvroOcf.read(bytes)
              manifests.foreach { case m: Map[String, Any] @unchecked =>
                val mpath = m("manifest_path").asInstanceOf[String]
                readAll(mpath).foreach { mb =>
                  val (_, entries) = AvroOcf.read(mb)
                  entries.foreach { case e: Map[String, Any] @unchecked =>
                    val deleted = e.get("status").contains(2)
                    if (!deleted) e.get("data_file").foreach {
                      case df: Map[String, Any] @unchecked =>
                        seen += df("file_path").asInstanceOf[String]
                    }
                  }
                }
              }
            } else {
              // pre-r6 JSON-lines manifest list (documented legacy format)
              new String(bytes, "UTF-8").split("\n").filter(_.nonEmpty)
                .foreach(line => seen += (parse(line) \ "file_path").extract[String])
            }
          }
        }
        seen.toSeq
    }
}
