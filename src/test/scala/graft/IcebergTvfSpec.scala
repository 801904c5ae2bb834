package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.catalog.{IcebergCommit, IcebergMaintenance, IcebergTableReader,
  RestCatalogClient}
import graft.catalog.RestCatalogClient.DataFile

/** SQL table functions over the catalog-free chain (IcebergTvf):
  * graft_iceberg / graft_iceberg_files / graft_iceberg_snapshots must
  * equal the reader API, time-travel, self-join, and reject non-literal
  * arguments. */
class IcebergTvfSpec extends SparkSpec {

  private lazy val loc: String = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val l = tempDir("graft-tvf") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = Seq((0L, "")).toDF("id", "payload").schema
    val (schemaJson, _) = RestCatalogClient.icebergSchemaJson(schema)
    val sj = compact(render(schemaJson))
    def commit(ids: Range): Long = {
      val dir = s"$l/data/b${ids.start}"
      ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val paths = Files.list(Paths.get(dir)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet")).toSeq.sorted
      val counts = graft.recovery.Recovery.fileRowCounts(spark, paths)
      IcebergCommit.commitStandalone(conf, l, sj, None,
        paths.map(p => DataFile(p, Files.size(Paths.get(p)), counts(p))))
    }
    commit(0 until 10)
    commit(10 until 20)
    assert(IcebergMaintenance.deleteWhere(spark, l, col("id") === 5L)._2 === 1L)
    l
  }

  test("graft_iceberg == reader API, merge-on-read applied") {
    val viaSql = spark.sql(s"SELECT * FROM graft_iceberg('$loc') ORDER BY id")
      .collect().toSeq
    val viaApi = IcebergTableReader.read(spark, loc)
      .orderBy("id").collect().toSeq
    assert(viaSql === viaApi)
    assert(viaSql.size === 19) // id=5 deleted
  }

  test("two-arg form time-travels; snapshots TVF lists the history") {
    val snaps = spark.sql(s"SELECT snapshot_id FROM graft_iceberg_snapshots('$loc')")
      .collect().map(_.getLong(0)).toSeq
    assert(snaps.size === 3)
    val first = IcebergTableReader.metadata(spark, loc)
      .snapshots.minBy(_.sequenceNumber).snapshotId
    assert(spark.sql(
      s"SELECT count(*) FROM graft_iceberg('$loc', ${first}L)")
      .head.getLong(0) === 10L)
  }

  test("TVFs compose with plain SQL: aggregate, self-join, files table") {
    // aggregation over the TVF
    assert(spark.sql(
      s"SELECT sum(id) FROM graft_iceberg('$loc')").head.getLong(0) ===
      (0L until 20L).sum - 5L)
    // self-join: each invocation gets fresh expression ids
    val n = spark.sql(
      s"""SELECT count(*) FROM graft_iceberg('$loc') a
         |JOIN graft_iceberg('$loc') b ON a.id = b.id""".stripMargin)
      .head.getLong(0)
    assert(n === 19L)
    // files metadata TVF: 2 data files + 1 position-delete file
    val byContent = spark.sql(
      s"""SELECT content, count(*) AS n
         |FROM graft_iceberg_files('$loc') GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byContent === Map("data" -> 2L, "position-deletes" -> 1L))
  }

  test("non-literal path is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_iceberg(repeat('x', 2))").collect()
    }
    assert(e.getMessage.contains("string literal"))
  }
}
