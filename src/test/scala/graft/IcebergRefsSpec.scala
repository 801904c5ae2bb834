package graft

import java.nio.file.{Files, Paths}

import org.json4s.jackson.JsonMethods.{compact => jcompact, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergSingleValue,
  IcebergTableReader, RestCatalogClient}
import graft.catalog.RestCatalogClient.DataFile

/** Snapshot REFS over the catalog-free chain (Iceberg spec "Snapshot
  * References"): branches that stage commits without publishing them,
  * fast-forward publication (the write-audit-publish pattern a curated
  * corpus gates releases with), and tags that pin snapshots through
  * expiry. The reference stack appends straight to main
  * (`/root/reference/internal/iceberg/catalog_rest.go`); refs are the
  * engine-side release discipline on top. */
class IcebergRefsSpec extends SparkSpec {

  private def listParquet(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).toSeq.sorted

  private def writeBatch(dir: String, ids: Range): Seq[String] = {
    import spark.implicits._
    ids.map(i => (i.toLong, i * 1000L, s"v$i")).toDF("id", "ts", "payload")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    listParquet(dir)
  }

  private def freshTable(prefix: String): (String, String, Map[String, Int]) = {
    import spark.implicits._
    val loc = tempDir(prefix) + "/t"
    val schema = Seq((0L, 0L, "")).toDF("id", "ts", "payload").schema
    val (schemaJson, topIds) = RestCatalogClient.icebergSchemaJson(schema)
    (loc, jcompact(render(schemaJson)), topIds)
  }

  private def commitBatch(loc: String, sj: String, topIds: Map[String, Int],
                          paths: Seq[String], branch: String = "main"): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = graft.recovery.Recovery.fileColumnStats(spark, paths, "ts")
    val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
    IcebergCommit.commitStandalone(conf, loc, sj, None, paths.map { p =>
      val bounds = stats.get(p).toSeq.map { case (mn, mx) =>
        (topIds("ts"), IcebergSingleValue.longBytes(mn),
          IcebergSingleValue.longBytes(mx))
      }
      DataFile(p, Files.size(Paths.get(p)), counts(p), bounds)
    }, branch)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("write-audit-publish: branch commits stay invisible until fast-forward") {
    val (loc, sj, topIds) = freshTable("graft-wap")
    val s1 = commitBatch(loc, sj, topIds, writeBatch(s"$loc/data/b1", 0 until 10))

    // stage on a branch: main readers keep seeing s1
    assert(IcebergMaintenance.createBranch(spark, loc, "audit") === s1)
    val s2 = commitBatch(loc, sj, topIds,
      writeBatch(s"$loc/data/b2", 10 until 20), branch = "audit")
    assert(ids(IcebergTableReader.read(spark, loc)) === (0L until 10L).toSet)
    assert(ids(IcebergTableReader.readRef(spark, loc, "audit")) ===
      (0L until 20L).toSet)
    val meta = IcebergTableReader.metadata(spark, loc)
    assert(meta.currentSnapshotId === Some(s1))
    assert(meta.refs("audit").snapshotId === s2)
    assert(meta.refs("main").snapshotId === s1)

    // the audit: a gate computed ON the staged state (row count here;
    // in production the DQ suite) — then PUBLISH via fast-forward
    assert(IcebergTableReader.readRef(spark, loc, "audit").count() === 20L)
    assert(IcebergMaintenance.fastForward(spark, loc, from = "audit") === s2)
    assert(ids(IcebergTableReader.read(spark, loc)) === (0L until 20L).toSet)
    assert(IcebergTableReader.metadata(spark, loc).currentSnapshotId === Some(s2))

    // a DIVERGED branch cannot publish: stale forked at s1, main moved on
    IcebergMaintenance.createBranch(spark, loc, "stale", at = Some(s1))
    commitBatch(loc, sj, topIds,
      writeBatch(s"$loc/data/b3", 20 until 25), branch = "stale")
    commitBatch(loc, sj, topIds, writeBatch(s"$loc/data/b4", 25 until 30))
    intercept[IllegalArgumentException] {
      IcebergMaintenance.fastForward(spark, loc, from = "stale")
    }
    // main unharmed by the rejected publish
    assert(ids(IcebergTableReader.read(spark, loc)) ===
      ((0L until 20L) ++ (25L until 30L)).toSet)

    // first commit to a fresh branch forks implicitly from main's head
    val s5 = commitBatch(loc, sj, topIds,
      writeBatch(s"$loc/data/b5", 30 until 32), branch = "nightly")
    assert(ids(IcebergTableReader.readRef(spark, loc, "nightly")) ===
      ((0L until 20L) ++ (25L until 32L)).toSet)
    assert(IcebergTableReader.metadata(spark, loc)
      .refs("nightly").snapshotId === s5)
  }

  test("tags pin snapshots through expiry; tags are immutable") {
    val (loc, sj, topIds) = freshTable("graft-tags")
    val s1 = commitBatch(loc, sj, topIds, writeBatch(s"$loc/data/b1", 0 until 10))
    val s2 = commitBatch(loc, sj, topIds, writeBatch(s"$loc/data/b2", 10 until 20))
    assert(IcebergMaintenance.createTag(spark, loc, "v1", at = Some(s1)) === s1)

    // commits cannot move a tag, and a tag cannot be a publish target
    intercept[IllegalArgumentException] {
      commitBatch(loc, sj, topIds,
        writeBatch(s"$loc/data/bX", 90 until 91), branch = "v1")
    }
    IcebergMaintenance.createBranch(spark, loc, "b")
    intercept[IllegalArgumentException] {
      IcebergMaintenance.fastForward(spark, loc, from = "b", to = "v1")
    }
    IcebergMaintenance.dropRef(spark, loc, "b")

    // expiry keeps the tagged snapshot alive and readable
    val r1 = IcebergMaintenance.expireSnapshots(spark, loc, keepLast = 1)
    assert(r1.retainedSnapshots.toSet === Set(s1, s2))
    assert(ids(IcebergTableReader.readRef(spark, loc, "v1")) ===
      (0L until 10L).toSet)

    // dropping the tag releases it: next expiry prunes s1 (b1's files
    // survive — s2's carried list still references them)
    IcebergMaintenance.dropRef(spark, loc, "v1")
    val r2 = IcebergMaintenance.expireSnapshots(spark, loc, keepLast = 1)
    assert(r2.expiredSnapshots === Seq(s1))
    intercept[IllegalArgumentException] {
      IcebergTableReader.read(spark, loc, Some(s1)).count()
    }
    assert(ids(IcebergTableReader.read(spark, loc)) === (0L until 20L).toSet)
    intercept[IllegalArgumentException] {
      IcebergTableReader.refSnapshot(spark, loc, "v1")
    }
    // main can never be dropped
    intercept[IllegalArgumentException] {
      IcebergMaintenance.dropRef(spark, loc, "main")
    }
    ()
  }
}
