package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

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
  *  - [[ingestWithManifestRetrying]] and [[ingestWithCatalogRetrying]]
  *    run the write-then-register micro-batch loop ([[IngestLoop]])
  *    under both: a batch's write + registration retry as a unit, and
  *    because registration dedups on path a replay after a mid-flight
  *    crash re-registers harmlessly — at-least-once delivery with
  *    idempotent commit, no path registered twice.
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
    * die between write and catalog registration). */
  def ingestWithManifestRetrying(events: DataFrame, cfg: SinkConfig,
                                 checkpoint: String, manifestPath: String,
                                 policy: RetryPolicy = RetryPolicy(),
                                 onRetry: (Int, Throwable) => Unit = (_, _) => (),
                                 beforeRegister: DataFrame => Unit = _ => (),
                                 telemetry: Option[ExportTelemetry.Collector] = None)
      : StreamingQuery =
    IngestLoop.start(events, checkpoint,
      StreamingIngest.manifestCommit(cfg, manifestPath), policy = policy,
      onRetry = onRetry, beforeRegister = beforeRegister,
      telemetry = telemetry, table = cfg.table)

  /** The reference exporter's full loop: micro-batch → partitioned
    * parquet → REST CATALOG append commit (writer.go write path +
    * catalog_rest.go AppendDataFiles), under the same retry taxonomy.
    * Idempotence comes from registering the DIFF — files on storage but
    * not yet in any catalog snapshot — so a replay after a mid-flight
    * crash (files written, commit lost; or commit landed, checkpoint
    * lost) re-registers nothing twice: at-least-once delivery,
    * exactly-once catalog registration. The table is created on first
    * batch with the sink's partition-value columns as an identity spec
    * (buildIcebergPartitionSpec's shape). */
  def ingestWithCatalogRetrying(events: DataFrame, cfg: SinkConfig,
                                checkpoint: String,
                                client: graft.catalog.RestCatalogClient,
                                namespace: String, table: String,
                                policy: RetryPolicy = RetryPolicy(),
                                onRetry: (Int, Throwable) => Unit = (_, _) => ())
      : StreamingQuery =
    IngestLoop.start(events, checkpoint,
      catalogCommit(cfg, client, namespace, table), policy = policy,
      onRetry = onRetry)

  /** Write a batch into the partitioned layout, then append the table's
    * files the catalog does not hold yet, with record counts and
    * ts-column bounds from their footers (so the snapshot summary
    * carries the reference's `otel.record_count` and cold readers
    * prune time slices from metadata alone). The catalog's file list
    * costs a read of every manifest of the snapshot, so the registered
    * paths are kept on the driver and re-read from the catalog only
    * when they may be stale: on the first registration, after one
    * failed, and when the table's current snapshot is not the one the
    * last registration committed. */
  private[streaming] def catalogCommit(cfg: SinkConfig,
                                       client: graft.catalog.RestCatalogClient,
                                       namespace: String, table: String)
      : IngestLoop.Commit = {
    val partCols = PartitionedParquetSink.partitionColumns(cfg.granularity)
    val tablePath = PartitionedParquetSink.tablePath(cfg)
    // (registered paths, the snapshot that registered them last)
    var known: Option[(Set[String], Option[Long])] = None
    (batch, _) => {
      PartitionedParquetSink.writeBatch(batch, cfg)
      () => {
        val spark = batch.sparkSession
        client.ensureNamespace(namespace)
        client.ensureTable(namespace, table, StructType(batch.schema.fields ++
          partCols.map(StructField(_, StringType, nullable = false))), partCols)
        val info = client.loadTable(namespace, table).getOrElse(
          throw new IllegalStateException(s"table $namespace.$table missing after ensureTable"))
        val registered = known.collect {
          case (paths, snap) if snap == info.currentSnapshotId => paths
        }.getOrElse(client.listDataFiles(namespace, table).toSet)
        known = None
        val fresh = graft.recovery.Recovery.dataFiles(spark, tablePath)
          .filterNot { case (p, _) => registered(p) }
        val tsId = graft.catalog.RestCatalogClient.fieldIdOf(info.schemaJson, cfg.tsColumn)
        val snap = client.appendDataFiles(namespace, table, graft.catalog.DataFiles
          .describe(spark, fresh.map(_._1), tsId.map(_ -> cfg.tsColumn).toSeq))
        known = Some((registered ++ fresh.map(_._1), snap.orElse(info.currentSnapshotId)))
        fresh
      }
    }
  }
}
