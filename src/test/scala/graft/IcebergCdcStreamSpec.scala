package graft

import graft.catalog.IcebergTableReader
import graft.streaming.IcebergCdcSink

/** Exactly-once streaming CDC into the Iceberg merge-on-read chain:
  * snapshot-per-batch upserts, checkpointed resume, and
  * replay-detection on the chain itself (the at-least-once foreachBatch
  * contract turned exactly-once by destination-side epoch dedup). */
class IcebergCdcStreamSpec extends SparkSpec {

  private def state(loc: String): Map[Long, String] =
    IcebergTableReader.read(spark, loc)
      .select("id", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("streaming upserts: one snapshot per batch, merge semantics, batch ids on the chain") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val loc = tempDir("graft-cdc-stream") + "/t"
    val ckpt = tempDir("graft-cdc-ckpt")

    val input = MemoryStream[(Long, Long, String)]
    val changes = input.toDF().toDF("id", "ts", "payload")

    // batch 0 bootstraps the table; batch 1 updates 3..5, inserts 6..7
    input.addData((1L, 10L, "a1"), (2L, 20L, "a2"), (3L, 30L, "a3"),
      (4L, 40L, "a4"), (5L, 50L, "a5"))
    val q1 = IcebergCdcSink.cdcApply(changes, loc, ckpt, Seq("id"))
    q1.awaitTermination()
    assert(state(loc) === Map(1L -> "a1", 2L -> "a2", 3L -> "a3",
      4L -> "a4", 5L -> "a5"))

    input.addData((3L, 31L, "b3"), (4L, 41L, "b4"), (5L, 51L, "b5"),
      (6L, 60L, "b6"), (7L, 70L, "b7"))
    val q2 = IcebergCdcSink.cdcApply(changes, loc, ckpt, Seq("id"))
    q2.awaitTermination()
    assert(state(loc) === Map(1L -> "a1", 2L -> "a2", 3L -> "b3",
      4L -> "b4", 5L -> "b5", 6L -> "b6", 7L -> "b7"))

    // one snapshot per batch, each carrying its epoch in the summary
    val meta = IcebergTableReader.metadata(spark, loc)
    val epochs = meta.snapshots.flatMap(_.summary.get("graft.batch_id"))
    assert(epochs === Seq("0", "1"))

    // the changelog between the two batch snapshots is exactly batch 1
    val snaps = meta.snapshots.sortBy(_.sequenceNumber).map(_.snapshotId)
    val delta = IcebergTableReader.readChangelog(
        spark, loc, Some(snaps.head), Some(snaps.last))
      .select($"id", $"_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(delta === Set((3L, "insert"), (4L, "insert"), (5L, "insert"),
      (6L, "insert"), (7L, "insert"),
      (3L, "delete"), (4L, "delete"), (5L, "delete")))
  }

  test("replayed batch ids are detected on the chain and skipped (exactly-once)") {
    import spark.implicits._
    val loc = tempDir("graft-cdc-replay") + "/t"

    val b0 = Seq((1L, 10L, "a1"), (2L, 20L, "a2")).toDF("id", "ts", "payload")
    assert(IcebergCdcSink.applyBatch(spark, loc, b0, 0L, Seq("id")))
    val b1 = Seq((2L, 21L, "b2"), (3L, 30L, "b3")).toDF("id", "ts", "payload")
    assert(IcebergCdcSink.applyBatch(spark, loc, b1, 1L, Seq("id")))
    val settled = state(loc)
    assert(settled === Map(1L -> "a1", 2L -> "b2", 3L -> "b3"))
    val nSnaps = IcebergTableReader.metadata(spark, loc).snapshots.size

    // the crash-between-commit-and-checkpoint case: same epoch replays
    assert(!IcebergCdcSink.applyBatch(spark, loc, b1, 1L, Seq("id")))
    assert(state(loc) === settled)
    assert(IcebergTableReader.metadata(spark, loc).snapshots.size === nSnaps)

    // a NEW epoch with the same rows is a real (idempotent) re-upsert
    assert(IcebergCdcSink.applyBatch(spark, loc, b1, 2L, Seq("id")))
    assert(state(loc) === settled)
  }

  test("fresh-checkpoint restart is not mistaken for a replay (epoch carries stream identity)") {
    import spark.implicits._
    val loc = tempDir("graft-cdc-fresh") + "/t"
    val sidA = IcebergCdcSink.streamIdOf("/ckpt/a")
    val sidB = IcebergCdcSink.streamIdOf("/ckpt/b")
    assert(sidA !== sidB)
    // deterministic across restarts, trailing slash canonicalized
    assert(IcebergCdcSink.streamIdOf("/ckpt/a/") === sidA)

    val b0 = Seq((1L, 10L, "a1")).toDF("id", "ts", "payload")
    assert(IcebergCdcSink.applyBatch(spark, loc, b0, 0L, Seq("id"),
      streamId = Some(sidA)))
    // same lineage, same epoch: the real crash-replay — skipped
    assert(!IcebergCdcSink.applyBatch(spark, loc, b0, 0L, Seq("id"),
      streamId = Some(sidA)))
    // a FRESH checkpoint restarts batch ids at 0 — its epoch 0 is a
    // different stream's, and MUST apply (the pre-fix code skipped it)
    val b0b = Seq((2L, 20L, "a2")).toDF("id", "ts", "payload")
    assert(IcebergCdcSink.applyBatch(spark, loc, b0b, 0L, Seq("id"),
      streamId = Some(sidB)))
    assert(state(loc) === Map(1L -> "a1", 2L -> "a2"))
    // legacy identity-less caller keeps the old batch-id-only skip
    assert(!IcebergCdcSink.applyBatch(spark, loc, b0b, 0L, Seq("id")))
  }

  test("cataloged CDC: snapshot-per-batch through REST, replay skipped on the catalog chain") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.catalog.RestCatalogClient
    import graft.catalog.RestCatalogClient.{CatalogAuth, Settings}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fake = new FakeRestCatalog
    fake.warehouseDir =
      "file://" + tempDir("graft-cdc-cat")
    try {
      val client = new RestCatalogClient(Settings(fake.uri,
        warehouse = fake.warehouseDir,
        auth = CatalogAuth(clientId = "svc", clientSecret = "hunter2"),
        retry = graft.streaming.Delivery.RetryPolicy(
          maxAttempts = 4, initialBackoffMs = 1, sleep = _ => ())))
      val ckpt = tempDir("graft-cdc-cat-ckpt")
      val input = MemoryStream[(Long, Long, String)]
      val changes = input.toDF().toDF("id", "ts", "payload")

      // two micro-batches: bootstrap, then update 2 + insert 3
      input.addData((1L, 10L, "a1"), (2L, 20L, "a2"))
      IcebergCdcSink.cdcApplyCatalog(changes, client, "otel", "cdc", ckpt,
        Seq("id")).awaitTermination()
      input.addData((2L, 21L, "b2"), (3L, 30L, "b3"))
      IcebergCdcSink.cdcApplyCatalog(changes, client, "otel", "cdc", ckpt,
        Seq("id")).awaitTermination()

      // catalog head advanced once per batch, each snapshot carrying
      // its epoch in the CATALOG-visible summary
      val tbl = fake.tables(("otel", "cdc"))
      assert(tbl.snapshots.size === 2)
      val info = client.loadTable("otel", "cdc").get
      assert(info.snapshotSummaries.values
        .flatMap(_.get("graft.batch_id")).toSeq.sorted === Seq("0", "1"))

      // the table cold-reads (MOR applied) without the catalog
      assert(state(info.location) ===
        Map(1L -> "a1", 2L -> "b2", 3L -> "b3"))

      // the changelog between the two batch snapshots is exactly batch 1
      val meta = IcebergTableReader.metadata(spark, info.location).snapshots
        .sortBy(_.sequenceNumber).map(_.snapshotId)
      val delta = IcebergTableReader.readChangelog(
          spark, info.location, Some(meta.head), Some(meta.last))
        .select($"id", $"_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(delta === Set((2L, "insert"), (3L, "insert"), (2L, "delete")))

      // the crash-between-commit-and-checkpoint case: epoch 1 replays
      // against the CATALOG chain and is skipped — no third snapshot
      val b1 = Seq((2L, 21L, "b2"), (3L, 30L, "b3"))
        .toDF("id", "ts", "payload")
      assert(!IcebergCdcSink.applyBatchCatalog(spark, client, "otel", "cdc",
        b1, 1L, Seq("id")))
      assert(tbl.snapshots.size === 2)
      assert(state(info.location) ===
        Map(1L -> "a1", 2L -> "b2", 3L -> "b3"))
    } finally fake.stop()
  }
}
