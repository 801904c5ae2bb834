package graft

import java.io.IOException
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQueryException

import graft.recovery.Recovery
import graft.sink.PartitionedParquetSink
import graft.sink.PartitionedParquetSink.SinkConfig
import graft.streaming.{Delivery, StreamingIngest}
import graft.streaming.Delivery.{PermanentException, RetryPolicy}

/** Delivery semantics: permanent-vs-retryable classification, bounded
  * backoff, and the retrying ingest path's at-least-once +
  * no-duplicate-manifest-entries contract (mirrors the reference's
  * errors.go taxonomy + exporterhelper retry queue). */
class DeliverySpec extends SparkSpec {

  // ---- classification --------------------------------------------------

  test("isPermanent matches the reference's four permanent groups") {
    val permanent = Seq(
      "401 Unauthorized: token rejected",
      "authentication failed for principal",
      "403 Forbidden",
      "Access Denied (Service: S3)",
      "Bad Request: malformed partition spec",
      "validation failed: field id collision",
      "namespace already exists")
    permanent.foreach { m =>
      assert(Delivery.isPermanent(new RuntimeException(m)), m)
    }
    val transient = Seq(
      "connection reset by peer",
      "503 Service Unavailable",
      "timeout waiting for lock",
      "throttled: slow down")
    transient.foreach { m =>
      assert(!Delivery.isPermanent(new IOException(m)), m)
    }
  }

  test("isPermanent walks the cause chain and treats AnalysisException as permanent by type") {
    val wrapped = new RuntimeException("stage failed",
      new IOException("task died", new RuntimeException("permission denied on bucket")))
    assert(Delivery.isPermanent(wrapped))
    val analysisFail =
      intercept[Throwable](spark.sql("SELECT definitely_not_a_column FROM range(1)"))
    assert(Delivery.isPermanent(new RuntimeException("wrapped", analysisFail)))
    assert(!Delivery.isPermanent(new RuntimeException("outer", new IOException("reset"))))
  }

  // ---- retry loop ------------------------------------------------------

  test("retry backs off exponentially with a cap and returns the first success") {
    val sleeps = ArrayBuffer.empty[Long]
    val retries = ArrayBuffer.empty[Int]
    val attempts = new AtomicInteger(0)
    val policy = RetryPolicy(maxAttempts = 10, initialBackoffMs = 50,
      maxBackoffMs = 120, multiplier = 2.0, sleep = sleeps += _)
    val out = Delivery.retry(policy, (n, _) => retries += n) {
      if (attempts.incrementAndGet() < 5) throw new IOException("connection reset")
      "ok"
    }
    assert(out === "ok")
    assert(attempts.get() === 5)
    assert(retries.toSeq === Seq(1, 2, 3, 4))
    // 50 → 100 → capped at 120 thereafter
    assert(sleeps.toSeq === Seq(50L, 100L, 120L, 120L))
  }

  test("retry rethrows the last transient error after maxAttempts") {
    val attempts = new AtomicInteger(0)
    val e = intercept[IOException] {
      Delivery.retry(RetryPolicy(maxAttempts = 3, sleep = _ => ())) {
        attempts.incrementAndGet()
        throw new IOException(s"reset ${attempts.get()}")
      }
    }
    assert(attempts.get() === 3)
    assert(e.getMessage === "reset 3")
  }

  test("retry fails fast on a permanent error: one attempt, wrapped") {
    val sleeps = ArrayBuffer.empty[Long]
    val attempts = new AtomicInteger(0)
    val e = intercept[PermanentException] {
      Delivery.retry(RetryPolicy(sleep = sleeps += _)) {
        attempts.incrementAndGet()
        throw new RuntimeException("invalid credentials")
      }
    }
    assert(attempts.get() === 1)
    assert(sleeps.isEmpty)
    assert(e.getCause.getMessage === "invalid credentials")
  }

  // ---- retrying ingest -------------------------------------------------

  test("transient failure between write and register: retried batch lands once in the manifest") {
    val base = tempDir("graft-delivery")
    val batch = Tables.events(spark, sf).limit(400)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)

    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "daily")
    val manifest = s"$base/manifest"
    val failures = new AtomicInteger(1) // first registration attempt dies
    val retried = new AtomicInteger(0)
    val q = Delivery.ingestWithManifestRetrying(
      StreamingIngest.readEvents(spark, srcDir, batch.schema), cfg,
      s"$base/chk", manifest,
      policy = RetryPolicy(maxAttempts = 4, initialBackoffMs = 1, sleep = _ => ()),
      onRetry = (_, _) => retried.incrementAndGet(),
      beforeRegister = _ =>
        if (failures.getAndDecrement() > 0) throw new IOException("connection reset"))
    q.awaitTermination()
    assert(retried.get() === 1)

    // at-least-once: every source row present (duplicates allowed — the
    // failed attempt's files persist), no row lost
    val out = spark.read.parquet(PartitionedParquetSink.tablePath(cfg))
    assert(out.count() >= batch.count())
    assert(out.select(batch.columns.map(org.apache.spark.sql.functions.col): _*)
      .distinct().count() === batch.distinct().count())

    // idempotent commit: manifest paths are unique and cover storage
    // exactly (no orphans left behind, nothing double-registered)
    val m = spark.read.parquet(manifest)
    assert(m.count() === m.select("file_path").distinct().count())
    assert(Recovery.scanOrphans(spark, PartitionedParquetSink.tablePath(cfg), m)
      .count() === 0)
  }

  test("permanent failure fails the query fast: no retries, cause surfaced") {
    val base = tempDir("graft-delivery-perm")
    val batch = Tables.events(spark, sf).limit(100)
    val srcDir = s"$base/src"
    batch.write.parquet(srcDir)

    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "daily")
    val attempts = new AtomicInteger(0)
    val q = Delivery.ingestWithManifestRetrying(
      StreamingIngest.readEvents(spark, srcDir, batch.schema), cfg,
      s"$base/chk", s"$base/manifest",
      policy = RetryPolicy(maxAttempts = 5, initialBackoffMs = 1, sleep = _ => ()),
      beforeRegister = _ => {
        attempts.incrementAndGet()
        throw new RuntimeException("403 Forbidden: catalog write denied")
      })
    val e = intercept[StreamingQueryException](q.awaitTermination())
    assert(attempts.get() === 1) // fail-fast, not a hot retry loop
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[PermanentException]))
  }

  test("per-attempt timeout: slow attempt expires as TRANSIENT, hook fires, fast retry succeeds") {
    // exporterhelper TimeoutConfig semantics: an expired attempt is an
    // error that re-enters the SAME backoff loop — not a give-up
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val timedOut = new java.util.concurrent.atomic.AtomicInteger(0)
    val policy = Delivery.RetryPolicy(
      maxAttempts = 3, initialBackoffMs = 1, sleep = _ => (),
      attemptTimeoutMs = Some(150),
      onAttemptTimeout = () => { timedOut.incrementAndGet(); () })
    val out = Delivery.retry(policy) {
      if (attempts.incrementAndGet() == 1) { Thread.sleep(5000); "slow" }
      else "fast"
    }
    assert(out === "fast")
    assert(attempts.get() === 2)
    assert(timedOut.get() === 1)
    // every attempt slow → the loop exhausts with the timeout error
    val e = intercept[java.util.concurrent.TimeoutException] {
      Delivery.retry(policy.copy(maxAttempts = 2)) {
        Thread.sleep(5000); "never"
      }
    }
    assert(e.getMessage.contains("150ms"))
    // a permanent failure inside a supervised attempt still fails fast
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[PermanentException] {
      Delivery.retry(policy) {
        n.incrementAndGet()
        throw new RuntimeException("access denied: nope")
      }
    }
    assert(n.get() === 1)
  }

  test("max_elapsed_time gives up deterministically (simulated elapsed = backoff sum)") {
    // backoffs 10, 20, 40, ...; cap elapsed at 25 → attempt 1 waits 10,
    // attempt 2 would add 20 (total 30 > 25) → give up after 2 attempts
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[RuntimeException] {
      Delivery.retry(Delivery.RetryPolicy(
        maxAttempts = 10, initialBackoffMs = 10, multiplier = 2.0,
        sleep = _ => (), maxElapsedMs = Some(25))) {
        attempts.incrementAndGet()
        throw new RuntimeException("flaky")
      }
    }
    assert(e.getMessage === "flaky")
    assert(attempts.get() === 2)
  }

  test("config knobs resolve to the delivery policy (timeout + retry_on_failure)") {
    import graft.config.ExporterConfig._
    val cfg = Config(Filesystem("/tmp/x"), Catalog("none"),
      timeoutMs = 1234,
      retry = Retry(initialIntervalMs = 7, maxIntervalMs = 70,
        maxElapsedTimeMs = 700))
    assert(cfg.validate.isEmpty)
    val p = cfg.deliveryPolicy
    assert(p.attemptTimeoutMs === Some(1234L))
    assert(p.initialBackoffMs === 7L && p.maxBackoffMs === 70L)
    assert(p.maxElapsedMs === Some(700L))
    // timeout 0 disables; retry disabled = single attempt
    val off = cfg.copy(timeoutMs = 0, retry = Retry(enabled = false))
    assert(off.validate.isEmpty)
    assert(off.deliveryPolicy.attemptTimeoutMs === None)
    assert(off.deliveryPolicy.maxAttempts === 1)
    // validation catches bad knobs with reference-style messages
    assert(cfg.copy(timeoutMs = -1).validate
      .exists(_.contains("timeout must be >= 0")))
    assert(cfg.copy(retry = Retry(initialIntervalMs = 0)).validate
      .exists(_.contains("initial_interval")))
    assert(cfg.copy(retry = Retry(initialIntervalMs = 10, maxIntervalMs = 5))
      .validate.exists(_.contains("max_interval")))
  }
}
