package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sink.PartitionedParquetSink
import graft.sink.PartitionedParquetSink.SinkConfig

/** Delivery semantics for the ingest path — the reference exporter's
  * retry queue made explicit
  * (`/root/reference/internal/iceberg/errors.go:8-34` permanent-error
  * taxonomy; `factory.go:48-99` exporterhelper queue + backoff wiring):
  *
  *  - [[isPermanent]] classifies a failure as permanent (auth,
  *    permission, malformed-request/validation, duplicate-resource —
  *    retrying can never succeed) vs retryable (everything else:
  *    network blips, throttling, eventual consistency), the same
  *    default-transient stance as `IsPermanentCatalogError`.
  *  - [[retry]] is the bounded exponential backoff the collector's
  *    `configretry.NewDefaultBackOffConfig` provides: transient errors
  *    retry up to `maxAttempts` with doubling, capped sleeps; permanent
  *    errors fail FAST (first occurrence, wrapped as
  *    [[PermanentException]] so callers can `errors.As`-style match).
  *  - [[ingestWithManifestRetrying]] applies both to the
  *    write-then-register micro-batch loop: the batch write + manifest
  *    registration retry as a unit, and because registration dedups on
  *    path ([[graft.recovery.Recovery.reconcile]]) a replay after a
  *    mid-flight crash re-registers harmlessly — at-least-once delivery
  *    with idempotent commit, no duplicate manifest entries.
  */
object Delivery {

  /** Non-retryable failure — the reference's PermanentError wrapper
    * (errors.go:10-31): signals the caller's retry loop to stop. */
  final class PermanentException(msg: String, cause: Throwable)
      extends RuntimeException(msg, cause)

  /** Bounded-backoff policy (exporterhelper BackOffConfig +
    * TimeoutConfig shape — the reference squashes both into its config,
    * config.go:25,27). `sleep` is injectable so specs run without
    * wall-clock waits.
    *
    *  - `attemptTimeoutMs`: per-ATTEMPT export timeout (the reference's
    *    `timeout`, README default 5s; None/0-equivalent = unbounded).
    *    An expired attempt raises a TRANSIENT TimeoutException — it
    *    re-enters the same backoff loop, exporterhelper's semantics.
    *    `onAttemptTimeout` fires first: the cancellation hook (pass
    *    `() => sc.cancelJobGroup(tag)` to actually stop a Spark job;
    *    without it the abandoned attempt's thread finishes in the
    *    background — best-effort cancel, like a Go ctx nobody checks).
    *    CONCURRENCY CAVEAT: because cancellation is best-effort, a
    *    non-interruptible attempt can still be RUNNING while the retry
    *    re-executes `op` — the two may even complete in either order.
    *    Only wrap operations that are idempotent or optimistically
    *    concurrency-checked under `attemptTimeoutMs` (this library's
    *    commit paths qualify: file writes are rename-idempotent and
    *    Iceberg commits ride a version/requirement CAS, so a duplicate
    *    completion becomes a no-op or a clean 409-retry). A
    *    non-idempotent export — e.g. an unconditional append to an
    *    external system — can APPLY TWICE; leave the timeout off
    *    there, or gate the retry on the prior attempt's terminal
    *    state yourself.
    *  - `maxElapsedMs`: exporterhelper's `max_elapsed_time` give-up
    *    bar, measured as SIMULATED elapsed (sum of backoff waits) so
    *    injected-sleep specs stay deterministic; None = attempts bound
    *    only. */
  case class RetryPolicy(maxAttempts: Int = 5,
                         initialBackoffMs: Long = 50,
                         maxBackoffMs: Long = 5000,
                         multiplier: Double = 2.0,
                         sleep: Long => Unit = Thread.sleep,
                         attemptTimeoutMs: Option[Long] = None,
                         onAttemptTimeout: () => Unit = () => (),
                         maxElapsedMs: Option[Long] = None)

  /** Daemon pool for timeout-supervised attempts (bounded by in-flight
    * deliveries, which are micro-batch-cadence — never data volume). */
  private lazy val attemptPool = java.util.concurrent.Executors
    .newCachedThreadPool(r => {
      val t = new Thread(r, "graft-delivery-attempt")
      t.setDaemon(true)
      t
    })

  /** Run one attempt under the policy's per-attempt timeout. */
  private def attemptWithTimeout[T](ms: Long,
                                    onTimeout: () => Unit)(op: => T): T = {
    val task = new java.util.concurrent.FutureTask(() => op)
    attemptPool.execute(task)
    try task.get(ms, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        onTimeout()
        task.cancel(true)
        throw new java.util.concurrent.TimeoutException(
          s"export attempt exceeded ${ms}ms")
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }
  }

  // errors.go:41-117 pattern groups, lowercased substring match like
  // IsPermanentCatalogError — credentials, permissions, malformed
  // requests, and duplicates won't heal between retries
  private val permanentPatterns: Seq[String] = Seq(
    // authentication
    "unauthorized", "unauthenticated", "invalid token", "token expired",
    "invalid credentials", "authentication failed",
    // authorization
    "forbidden", "access denied", "permission denied", "not authorized",
    "insufficient permissions",
    // malformed request / validation
    "bad request", "malformed", "invalid argument", "invalid parameter",
    "validation failed", "schema mismatch", "incompatible schema",
    "type mismatch", "invalid schema",
    // duplicate resource
    "already exists", "duplicate")

  /** Permanent vs retryable, walking the cause chain (a permanent root
    * cause wrapped in a SparkException must still fail fast). Spark's
    * AnalysisException is permanent by TYPE — an invalid plan or
    * unresolvable schema never succeeds on retry. Unknowns default to
    * transient, the reference's stance. */
  def isPermanent(t: Throwable): Boolean = {
    def chain(x: Throwable): List[Throwable] =
      if (x == null) Nil else x :: chain(x.getCause)
    chain(t).exists {
      case _: PermanentException => true
      case _: org.apache.spark.sql.AnalysisException => true
      case e =>
        val msg = Option(e.getMessage).getOrElse("").toLowerCase
        permanentPatterns.exists(msg.contains)
    }
  }

  /** Run `op`, retrying transients with capped exponential backoff.
    * Permanent failures rethrow immediately wrapped in
    * [[PermanentException]]; exhausting `maxAttempts` rethrows the last
    * transient error as-is (the queue's give-up path). `onRetry` sees
    * (attempt, error) before each backoff — a metrics hook. */
  def retry[T](policy: RetryPolicy = RetryPolicy(),
               onRetry: (Int, Throwable) => Unit = (_, _) => ())(op: => T): T = {
    require(policy.maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempt = 1
    var backoff = policy.initialBackoffMs
    var elapsed = 0L // simulated: sum of backoff waits (see RetryPolicy)
    def once(): T = policy.attemptTimeoutMs match {
      case Some(ms) if ms > 0 =>
        attemptWithTimeout(ms, policy.onAttemptTimeout)(op)
      case _ => op
    }
    while (true) {
      try return once()
      catch {
        case e: Throwable if isPermanent(e) =>
          throw new PermanentException(
            s"permanent failure (attempt $attempt, not retrying): ${e.getMessage}", e)
        case e: Throwable =>
          if (attempt >= policy.maxAttempts) throw e
          if (policy.maxElapsedMs.exists(m => elapsed + backoff > m))
            throw e // exporterhelper max_elapsed_time: give up, surface the last error
          onRetry(attempt, e)
          policy.sleep(backoff)
          elapsed += backoff
          backoff = math.min(
            (backoff * policy.multiplier).toLong, policy.maxBackoffMs)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[StreamingIngest.ingestWithManifest]] with the explicit
    * retry/error taxonomy: each micro-batch's write + register runs
    * under [[retry]]. A transient mid-batch failure retries in place
    * (partial files from the failed attempt are swept up by the SAME
    * idempotent registration — dedup on path); a permanent failure
    * fails the query fast so the checkpoint pins the batch for a fixed
    * deploy, not a hot retry loop. `beforeRegister` is a test/metrics
    * seam between the two stages (where the reference's process could
    * die between write and catalog registration). Like
    * `ingestWithManifest`, the query holds the listing threshold at
    * [[StreamingIngest.SpoolStatThreshold]] while it runs, so `getBatch`
    * stats the batch's spool files on the driver. */
  def ingestWithManifestRetrying(events: DataFrame, cfg: SinkConfig,
                                 checkpoint: String, manifestPath: String,
                                 policy: RetryPolicy = RetryPolicy(),
                                 onRetry: (Int, Throwable) => Unit = (_, _) => (),
                                 beforeRegister: DataFrame => Unit = _ => (),
                                 telemetry: Option[ExportTelemetry.Collector] = None)
      : StreamingQuery =
    PartitionedParquetSink.startWithConfs(events.sparkSession, Seq(
        "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
          StreamingIngest.SpoolStatThreshold.toString)) {
      events.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // stabilize the batch so retries re-write identical rows instead
          // of re-reading a source that may have advanced
          val pinned = batch.localCheckpoint()
          val spark = pinned.sparkSession
          val t0 = System.nanoTime()
          var retries = 0L
          val errs = scala.collection.mutable.ArrayBuffer.empty[String]
          val hook: (Int, Throwable) => Unit = { (a, e) =>
            retries += 1; errs += s"attempt $a: ${e.getMessage}"; onRetry(a, e)
          }
          // files/bytes written = the manifest's before/after delta (one
          // tiny metadata read each side; retried attempts' orphan files
          // count too — they ARE bytes the export path produced)
          val before = telemetry.map(_ =>
            ExportTelemetry.manifestTotals(spark, manifestPath))
          def emit(outcome: String, err: Option[Throwable]): Unit =
            telemetry.foreach { t =>
              val (fb, bb) = before.getOrElse((0L, 0L))
              val (fa, ba) =
                ExportTelemetry.manifestTotals(spark, manifestPath)
              t.record(ExportTelemetry.BatchMetric(
                batchId, cfg.table, outcome, pinned.count(),
                fa - fb, ba - bb, retries,
                (System.nanoTime() - t0) / 1000000L,
                (errs ++ err.map(e => s"final: ${e.getMessage}")).toSeq))
            }
          try {
            retry(policy, hook) {
              PartitionedParquetSink.writeBatch(pinned, cfg)
              beforeRegister(pinned)
              graft.recovery.Recovery.reconcile(
                spark, PartitionedParquetSink.tablePath(cfg), manifestPath)
            }
            emit("success", None)
          } catch { case e: Throwable => emit("failed", Some(e)); throw e }
          ()
        }
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }

  /** The reference exporter's full loop: micro-batch → partitioned
    * parquet → REST CATALOG append commit (writer.go write path +
    * catalog_rest.go AppendDataFiles), under the same retry taxonomy.
    * Idempotence comes from registering the DIFF — files on storage but
    * not yet in any catalog snapshot — so a replay after a mid-flight
    * crash (files written, commit lost; or commit landed, checkpoint
    * lost) re-registers nothing twice: at-least-once delivery,
    * exactly-once catalog registration. The table is created on first
    * batch with the sink's partition-value columns as an identity spec
    * (buildIcebergPartitionSpec's shape). File listings here are
    * catalog-metadata scale (the distributed path is Recovery). */
  def ingestWithCatalogRetrying(events: DataFrame, cfg: SinkConfig,
                                checkpoint: String,
                                client: graft.catalog.RestCatalogClient,
                                namespace: String, table: String,
                                policy: RetryPolicy = RetryPolicy(),
                                onRetry: (Int, Throwable) => Unit = (_, _) => ())
      : StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pinned = batch.localCheckpoint()
        val spark = pinned.sparkSession
        retry(policy, onRetry) {
          PartitionedParquetSink.writeBatch(pinned, cfg)
          client.ensureNamespace(namespace)
          val partCols = PartitionedParquetSink.partitionColumns(cfg.granularity)
          val tableSchema = org.apache.spark.sql.types.StructType(
            pinned.schema.fields ++ partCols.map(c =>
              org.apache.spark.sql.types.StructField(
                c, org.apache.spark.sql.types.StringType, nullable = false)))
          client.ensureTable(namespace, table, tableSchema, partCols)
          val live = graft.recovery.Recovery.listDataFiles(
            spark, PartitionedParquetSink.tablePath(cfg))
            .collect().map(r => (r.getString(0), r.getLong(1)))
          val registered = client.listDataFiles(namespace, table).toSet
          val fresh = live.filterNot { case (p, _) => registered(p) }
          // real record counts from the fresh files' footers, so the
          // snapshot summary matches the reference exporter's
          // otel.record_count (r6 — was hardcoded 0)
          val counts = graft.recovery.Recovery.fileRowCounts(
            spark, fresh.map(_._1).toSeq)
          // ts-column min/max from the same footers → manifest-entry
          // bounds, so cold readers prune time slices from metadata
          // alone (IcebergTableReader.readSlice)
          val stats = graft.recovery.Recovery.fileColumnStats(
            spark, fresh.map(_._1).toSeq, cfg.tsColumn)
          val tsFieldId = client.loadTable(namespace, table)
            .flatMap(ti => graft.catalog.RestCatalogClient.fieldIdOf(
              ti.schemaJson, cfg.tsColumn))
          client.appendDataFiles(namespace, table,
            fresh.map { case (p, sz) =>
              val bounds = (tsFieldId, stats.get(p)) match {
                case (Some(id), Some((mn, mx))) => Seq((id,
                  graft.catalog.IcebergSingleValue.longBytes(mn),
                  graft.catalog.IcebergSingleValue.longBytes(mx)))
                case _ => Nil
              }
              graft.catalog.RestCatalogClient.DataFile(
                p, sz, counts.getOrElse(p, 0L), bounds)
            }.toSeq)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
