package graft.catalog

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.catalog.RestCatalogClient.DataFile

/** `sink_iceberg_sql` — the WHOLE catalog-free Iceberg path under the
  * driver's DuckDB oracle gate: a chain is committed over the
  * testdata's own events parquet files (manifests reference the
  * read-only files by absolute path — zero copies, the
  * register-existing-files onboarding shape), one row is
  * MERGE-ON-READ deleted, and the query reads it back through the
  * `graft_iceberg` SQL table function. The oracle computes the same
  * aggregate over raw events minus the deleted row — so a hash match
  * proves commit → manifest → cold read → MOR delete application →
  * TVF resolution end to end against an independent engine, not just
  * against this engine's own reader.
  *
  * The chain builds once per sf dir (metadata presence check) under
  * /tmp; the delete target is the deterministic min event_id. */
object IcebergSqlDemo {

  private def chainLoc(sfDir: String): String = {
    val base = java.nio.file.Paths.get(sfDir).toAbsolutePath.toString
    val md = MessageDigest.getInstance("MD5").digest(base.getBytes("UTF-8"))
    s"/tmp/graft_iceberg_sql/${md.map(b => f"$b%02x").mkString}/t"
  }

  private def ensureChain(spark: SparkSession, sfDir: String): String = {
    val loc = chainLoc(sfDir)
    val conf = spark.sparkContext.hadoopConfiguration
    if (IcebergTableMetadata.load(conf, loc).isEmpty) {
      val ev = Tables.events(spark, sfDir)
      val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(ev.schema)
      val sj = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson))
      val paths = graft.recovery.Recovery
        .listDataFiles(spark, s"$sfDir/events.parquet")
        .collect().map(_.getString(0)).toSeq.sorted
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, None,
        paths.map(p => DataFile(p, 0L, counts.getOrElse(p, 0L))))
      val minId = ev.agg(min(col("event_id"))).head.getLong(0)
      IcebergMaintenance.deleteWhere(spark, loc, col("event_id") === minId)
    }
    loc
  }

  /** Per-type aggregate over the merge-on-read chain, via plain SQL
    * through the [[IcebergTvf]] table function. */
  def query(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark) // arms the graft_iceberg TVF for the SQL text
    val loc = ensureChain(spark, sfDir)
    spark.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(user_id) AS BIGINT) AS sum_uid,
         | min(value) AS min_value, max(value) AS max_value
         |FROM graft_iceberg('$loc')
         |GROUP BY event_type""".stripMargin)
  }

  /** `sink_iceberg_point`: the round-16 needle path under the oracle
    * gate — the chain gains a per-file BLOOM SIDECAR
    * ([[IcebergMaintenance.writeBloomIndex]], idempotent per snapshot)
    * and the query is [[IcebergTableReader.readPoint]] for the
    * deterministic max event_id. The oracle filters raw events for the
    * same key — a hash match proves Puffin write → statistics
    * registration → footer read → distributed bloom membership →
    * pruned scan → MOR delete application end to end against the
    * independent engine (and the needle coexisting with the chain's
    * deleted min-id row proves bloom pruning composes with deletes). */
  /** Blob types already present in the CURRENT snapshot's statistics
    * sidecar — the idempotence guard for the ensure-index verbs (an
    * "any statistics entry exists" check would let whichever index ran
    * first silently suppress the other). */
  private def sidecarBlobTypes(spark: SparkSession, loc: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = IcebergTableReader.metadata(spark, loc)
    meta.currentSnapshotId.toSeq
      .flatMap(id => meta.statistics.filter(_.snapshotId == id))
      .flatMap(sf => Puffin.readFooter(conf, sf.path)._1.map(_.blobType))
      .toSet
  }

  def pointQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val loc = ensureChain(spark, sfDir)
    if (!sidecarBlobTypes(spark, loc)("graft-bloom-v1"))
      IcebergMaintenance.writeBloomIndex(spark, loc, "event_id")
    val needle = Tables.events(spark, sfDir)
      .agg(max(col("event_id"))).head.getLong(0)
    IcebergTableReader.readPoint(spark, loc, "event_id", needle)
      .select($"event_id", $"event_type",
        $"user_id".cast("long").as("user_id"), $"value")
  }

  /** `sink_iceberg_ndv`: the statistics-sidecar NDV path under the
    * oracle gate. `event_type`'s cardinality sits far below the KMV's
    * k, so the sketch is in its EXACT mode (the blob is the distinct
    * set) and DuckDB's `count(DISTINCT event_type)` must hash-match —
    * proving sketch build → sidecar append → metadata-only read
    * end-to-end against the independent engine. (The over-k estimate
    * mode is deliberately NOT oracle-gated: xxhash64 is Spark's; its
    * tolerance bound lives in IcebergPointBloomSpec.) */
  def ndvQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val loc = ensureChain(spark, sfDir)
    if (!sidecarBlobTypes(spark, loc)("graft-kmv-ndv-v1"))
      IcebergMaintenance.writeNdvIndex(spark, loc, Seq("event_type"))
    IcebergTableReader.ndvFromStats(spark, loc)
      .filter($"column" === "event_type")
      .select($"column", $"ndv", $"exact")
  }

  private def traceChainLoc(sfDir: String): String = {
    val base = java.nio.file.Paths.get(sfDir).toAbsolutePath.toString
    val md = MessageDigest.getInstance("MD5").digest(base.getBytes("UTF-8"))
    s"/tmp/graft_iceberg_trace/${md.map(b => f"$b%02x").mkString}"
  }

  /** Chain for `tel_trace_lookup`: a TRACE-SHAPED table — events keyed
    * by a 32-hex-char string `trace_id` (md5 of the event id, the id
    * rendering shape the reference uses: internal/arrow/traces.go:130
    * hex-encodes trace ids) — written as a MULTI-FILE layout (64
    * hash-partitioned files, so pruning is observable), committed as
    * an Iceberg chain and indexed with a per-file bloom sidecar ON THE
    * STRING COLUMN. Builds once per sf dir (metadata presence check). */
  private[graft] def ensureTraceChain(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val base = traceChainLoc(sfDir)
    val loc = s"$base/t"
    val conf = spark.sparkContext.hadoopConfiguration
    if (IcebergTableMetadata.load(conf, loc).isEmpty) {
      val dataDir = s"$base/data"
      val traces = Tables.events(spark, sfDir)
        .select(md5(col("event_id").cast("string")).as("trace_id"),
          col("event_id"), col("event_type"), col("user_id"), col("value"))
        .repartition(64, col("event_id"))
      traces.write.mode("overwrite").parquet(dataDir)
      val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(traces.schema)
      val sj = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson))
      val paths = graft.recovery.Recovery
        .listDataFiles(spark, dataDir)
        .collect().map(_.getString(0)).toSeq.sorted
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, None,
        paths.map(p => DataFile(p, 0L, counts.getOrElse(p, 0L))))
      IcebergMaintenance.writeBloomIndex(spark, loc, "trace_id")
    }
    loc
  }

  /** `tel_trace_lookup`: the FLAGSHIP telemetry needle — "fetch this
    * trace" by its hex string id — through the string-keyed bloom
    * sidecar ([[graft.functions.BloomKeys]]: sketches key on xxhash64
    * of the value, so string needles prune like long ones). The needle
    * is the deterministic max event_id's trace. The oracle recomputes
    * the same md5-derived id over raw events, so a hash match proves
    * string keying build → Puffin registration → hashed probe → pruned
    * scan → string residual end to end against the independent engine;
    * TraceLookupSpec pins the pruning itself (≤¼ of files admitted). */
  /** The deterministic needle (max event_id's trace) — shared by the
    * query and the bench lever pair. */
  private[graft] def traceNeedle(spark: SparkSession, sfDir: String): String = {
    val maxId = Tables.events(spark, sfDir)
      .agg(max(col("event_id"))).head.getLong(0)
    MessageDigest.getInstance("MD5")
      .digest(maxId.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  def traceLookupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val loc = ensureTraceChain(spark, sfDir)
    val needle = traceNeedle(spark, sfDir)
    IcebergTableReader.readPoint(spark, loc, "trace_id", needle)
      .select($"trace_id", $"event_id", $"event_type",
        $"user_id".cast("long").as("user_id"), $"value")
  }

  private def eqChainLoc(sfDir: String): String = {
    val base = java.nio.file.Paths.get(sfDir).toAbsolutePath.toString
    val md = MessageDigest.getInstance("MD5").digest(base.getBytes("UTF-8"))
    s"/tmp/graft_iceberg_eqdel/${md.map(b => f"$b%02x").mkString}/t"
  }

  /** Chain for `sink_iceberg_eqdel`: register the events files, retire
    * every `error` event via an EQUALITY delete (the O(|keys|)
    * GDPR-style verb — the table is never scanned), then UPSERT the
    * five smallest event_ids with `value := -1.0` (one snapshot: new
    * data files + an equality delete on event_id). The sequencing is
    * the point: the upsert's re-inserted rows sit ABOVE both deletes,
    * so a re-inserted `error`-typed row LIVES — equality deletes apply
    * strictly below their sequence number. */
  private def ensureEqChain(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val loc = eqChainLoc(sfDir)
    val conf = spark.sparkContext.hadoopConfiguration
    if (IcebergTableMetadata.load(conf, loc).isEmpty) {
      val ev = Tables.events(spark, sfDir)
      val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(ev.schema)
      val sj = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(schemaJson))
      val paths = graft.recovery.Recovery
        .listDataFiles(spark, s"$sfDir/events.parquet")
        .collect().map(_.getString(0)).toSeq.sorted
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, loc, sj, None,
        paths.map(p => DataFile(p, 0L, counts.getOrElse(p, 0L))))
      IcebergMaintenance.deleteMatching(spark, loc,
        Seq("error").toDF("event_type"))
      val keyIds = ev.select($"event_id").orderBy($"event_id")
        .limit(5).as[Long].collect().toSeq // 5 longs: metadata-scale
      val updates = ev.filter($"event_id".isin(keyIds: _*))
        .withColumn("value", lit(-1.0))
      IcebergMaintenance.upsert(spark, loc, updates, Seq("event_id"))
    }
    loc
  }

  /** `sink_iceberg_eqdel`: merge-on-read EQUALITY deletes + upsert
    * under the DuckDB oracle gate. The oracle rebuilds the final state
    * relationally (non-error rows minus the upserted keys, union the
    * updated key rows), so a hash match proves equality-delete file
    * write → manifest sequencing → reader-side null-safe key
    * anti-join → strictly-below semantics (the re-inserted `error`
    * row surviving) against the independent engine. */
  def eqdelQuery(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark) // arms the graft_iceberg TVF for the SQL text
    val loc = ensureEqChain(spark, sfDir)
    spark.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(user_id) AS BIGINT) AS sum_uid,
         | round(sum(value), 4) AS sum_value
         |FROM graft_iceberg('$loc')
         |GROUP BY event_type""".stripMargin)
  }

  /** `sink_iceberg_timetravel`: the SAME aggregate at the PRE-delete
    * snapshot (two-arg TVF form) — the oracle computes over the full
    * raw table, so the hash match proves snapshot isolation through
    * the whole chain: the delete that [[query]] sees must NOT leak
    * into the older snapshot's read. */
  def timeTravelQuery(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark) // arms the graft_iceberg TVF for the SQL text
    val loc = ensureChain(spark, sfDir)
    val first = IcebergTableReader.metadata(spark, loc)
      .snapshots.minBy(_.sequenceNumber).snapshotId
    spark.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(user_id) AS BIGINT) AS sum_uid,
         | min(value) AS min_value, max(value) AS max_value
         |FROM graft_iceberg('$loc', ${first}L)
         |GROUP BY event_type""".stripMargin)
  }
}
