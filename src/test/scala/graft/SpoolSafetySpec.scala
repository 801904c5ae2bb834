package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import graft.sources.{SpoolGauge, SpoolGc, SpoolLimits}

/** Safety edges of the spool lifecycle that the e2e receiver specs
  * can't reach deterministically:
  *
  *  1. COMMIT gating in [[SpoolGc]] — Spark's file source writes the
  *     `sources/<id>/<batch>` log entry at batch-PLANNING time
  *     (`latestOffset`), before the batch executes; `commits/<batch>`
  *     appears only after. A sweep in that window must not delete the
  *     in-flight batch's files, or a crash-restart replay fails.
  *  2. The [[SpoolGauge]] in-flight window — an admission reserved by
  *     `tryAcquire` whose file has not yet been renamed into the spool
  *     must survive a concurrent `refresh()` rescan, or the cap can be
  *     exceeded by the in-flight set.
  */
class SpoolSafetySpec extends SparkSpec {

  private def writeSourceLog(ckpt: String, batch: String,
                             paths: Seq[Path]): Unit = {
    val dir = Paths.get(ckpt, "sources", "0")
    Files.createDirectories(dir)
    val body = ("v1" +: paths.map(p =>
      s"""{"path":"${p.toUri}","timestamp":1,"batchId":0}""")).mkString("\n")
    Files.write(dir.resolve(batch), body.getBytes("UTF-8"))
    ()
  }

  private def commit(ckpt: String, batch: Long): Unit = {
    val dir = Paths.get(ckpt, "commits")
    Files.createDirectories(dir)
    Files.write(dir.resolve(batch.toString), "v1\n{}".getBytes("UTF-8"))
    ()
  }

  test("sweep is commit-gated: offset-logged but uncommitted batches are untouchable") {
    val base = Paths.get(tempDir("graft-spool-gate"))
    val spool = base.resolve("spool/traces")
    Files.createDirectories(spool)
    val f0 = Files.write(spool.resolve("0-a.pb"), Array[Byte](1, 2, 3))
    val f1 = Files.write(spool.resolve("1-b.pb"), Array[Byte](4, 5, 6, 7))
    val ckpt = base.resolve("chk").toString

    // batch 0 PLANNED (source log written) but not yet committed: the
    // crash-restart replay still needs f0, so nothing may be deleted
    writeSourceLog(ckpt, "0", Seq(f0))
    assert(SpoolGc.lastCommittedBatch(ckpt) === None)
    assert(SpoolGc.processedFiles(ckpt) === Set.empty[String])
    assert(SpoolGc.sweep(ckpt, Seq(spool.toString)) === ((0L, 0L)))
    assert(Files.exists(f0))

    // batch 0 commits; batch 1 is planned (f1) but in flight — exactly
    // the committed file drains
    commit(ckpt, 0L)
    writeSourceLog(ckpt, "1", Seq(f1))
    assert(SpoolGc.lastCommittedBatch(ckpt) === Some(0L))
    val (n, bytes) = SpoolGc.sweep(ckpt, Seq(spool.toString))
    assert(n === 1L && bytes === 3L)
    assert(!Files.exists(f0) && Files.exists(f1))

    // batch 1 commits → its file drains on the next sweep
    commit(ckpt, 1L)
    assert(SpoolGc.sweep(ckpt, Seq(spool.toString)) === ((1L, 4L)))
    assert(!Files.exists(f1))
  }

  test("a compact source-log file counts only when its own batch has committed") {
    val base = Paths.get(tempDir("graft-spool-compact"))
    val spool = base.resolve("spool/logs")
    Files.createDirectories(spool)
    val f9 = Files.write(spool.resolve("9-x.pb"), Array[Byte](9))
    val ckpt = base.resolve("chk").toString

    // 9.compact folds history of every batch <= 9 with no per-line
    // batch ids; with only batch 8 committed it must be skipped
    // (under-delete, never over-delete)
    writeSourceLog(ckpt, "9.compact", Seq(f9))
    commit(ckpt, 8L)
    assert(SpoolGc.processedFiles(ckpt) === Set.empty[String])
    assert(SpoolGc.sweep(ckpt, Seq(spool.toString)) === ((0L, 0L)))

    commit(ckpt, 9L)
    assert(SpoolGc.sweep(ckpt, Seq(spool.toString)) === ((1L, 1L)))
    assert(!Files.exists(f9))
  }

  test("gauge cap survives concurrent refresh() during slow spool writes") {
    val base = Paths.get(tempDir("graft-gauge-race"))
    val dir = base.resolve("traces")
    Files.createDirectories(dir)
    val limits = SpoolLimits(maxBytes = 1000L)
    val gauge = new SpoolGauge(base.toString, Seq("traces"), limits)

    val admitted = new AtomicLong(0L)
    val overshoot = new AtomicBoolean(false)
    val stop = new AtomicBoolean(false)

    // a hostile rescanner: refresh() as fast as possible — before the
    // pending-ledger fix this reset the counters to disk truth and let
    // in-flight admissions be double-admitted past the cap
    val scanner = new Thread(() => {
      while (!stop.get()) gauge.refresh()
    })
    scanner.start()

    val pool = Executors.newFixedThreadPool(16)
    val start = new CountDownLatch(1)
    val seq = new AtomicLong(0L)
    (1 to 200).foreach { _ =>
      pool.execute(() => {
        start.await()
        if (gauge.tryAcquire(100L)) {
          val total = admitted.addAndGet(100L)
          if (total > limits.maxBytes) overshoot.set(true)
          Thread.sleep(2) // the in-flight window: admitted, not yet on disk
          Files.write(dir.resolve(s"f-${seq.getAndIncrement()}.pb"),
            new Array[Byte](100))
          gauge.confirm(100L)
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    stop.set(true)
    scanner.join()

    assert(!overshoot.get(),
      s"cap exceeded: admitted ${admitted.get()} > ${limits.maxBytes}")
    // exactly the admitted set landed, and the gauge agrees with disk
    assert(admitted.get() === Files.list(dir).count() * 100L)
    gauge.refresh()
    assert(gauge.currentBytes === admitted.get())
  }

  test("a failed spool write releases its reservation") {
    val base = Paths.get(tempDir("graft-gauge-release"))
    Files.createDirectories(base.resolve("traces"))
    val gauge = new SpoolGauge(base.toString, Seq("traces"),
      SpoolLimits(maxBytes = 100L))
    assert(gauge.tryAcquire(80L))
    assert(!gauge.tryAcquire(80L)) // reserved space is real
    gauge.release(80L)
    assert(gauge.tryAcquire(80L)) // and a failed write gives it back
    gauge.release(80L)
  }
}
