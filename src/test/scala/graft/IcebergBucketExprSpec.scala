package graft

import org.apache.spark.sql.functions._

import graft.catalog.{IcebergMaintenance, IcebergPartitioning, IcebergTableReader}
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.icebergBucket

/** The native `iceberg_bucket(n, col)` expression and the
  * single-shuffle `rewriteBucketed` it enables (r15): spec-hash
  * parity with the JVM kernel (itself pinned to the Iceberg spec's
  * Appendix-B vectors by `PropertySpec`), SQL callability, the
  * exactly-one-Exchange plan shape, and the NULL-key / empty-source
  * edges the r14 join-based rewrite mishandled. */
class IcebergBucketExprSpec extends SparkSpec {

  private def registered() = { GraftFunctions.register(spark); spark }

  test("iceberg_bucket matches the spec kernel for long, int and string") {
    import spark.implicits._
    registered()
    // Appendix-B vector through the expression: bucket[16] of 34
    val appB = spark.sql("SELECT iceberg_bucket(16, 34L) AS b")
      .collect().head.getLong(0)
    assert(appB === IcebergPartitioning.bucketValue(16, 34L))

    val longs = Seq(-5L, 0L, 1L, 34L, 137L, Long.MaxValue, Long.MinValue)
      .toDF("v")
    val gotL = longs.select($"v",
        icebergBucket(8, $"v").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    longs.collect().map(_.getLong(0)).foreach { v =>
      assert(gotL(v) === IcebergPartitioning.bucketValue(8, v), s"long $v")
    }

    // int sources promote to long (spec: identical buckets)
    val gotI = Seq(34, -5, 0).toDF("v")
      .select(icebergBucket(8, $"v").as("b"))
      .collect().map(_.getLong(0))
    assert(gotI.toSeq === Seq(34L, -5L, 0L)
      .map(IcebergPartitioning.bucketValue(8, _)))

    val strs = Seq("iceberg", "", "id-7", "über", "日本語").toDF("s")
    val gotS = strs.select($"s",
        icebergBucket(4, $"s").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    gotS.keys.foreach { s =>
      assert(gotS(s) === IcebergPartitioning.bucketValueString(4, s), s)
    }

    // NULL source → NULL bucket (routes to the null partition tuple)
    assert(spark.sql("SELECT iceberg_bucket(8, CAST(NULL AS BIGINT)) AS b")
      .collect().head.isNullAt(0))
    // type errors fail analysis, not execution
    intercept[Exception] {
      spark.sql("SELECT iceberg_bucket(8, CAST(1.5 AS DOUBLE))").collect()
    }
    ()
  }

  test("bucketClustered plans exactly ONE exchange, no join or aggregate") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, s"tag-${i % 40}")).toDF("id", "tag")
    Seq("id", "tag").foreach { c =>
      val plan = IcebergMaintenance.bucketClustered(df, c, 16)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges === 1, s"column $c:\n$plan")
      assert(!plan.contains("Join"), plan)
      assert(!plan.contains("HashAggregate"), plan)
      // and the one exchange hashes the computed bucket value
      assert(plan.contains("Exchange hashpartitioning(__bucket"), plan)
    }
  }

  test("rewriteBucketed keeps NULL keys under a null partition tuple") {
    import spark.implicits._
    val src = tempDir("graft-rwb-null") + "/t"
    val rows = (1L to 100L).map(i =>
      (i, if (i % 10 == 0) null else s"tag-${i % 7}"))
    rows.toDF("id", "tag").repartition(3).write.parquet(src)

    val loc = tempDir("graft-rwb-null-t") + "/t"
    IcebergMaintenance.rewriteBucketed(spark, src, loc, "tag", 4)
    // every source row survives, including the 10 NULL-key rows
    val back = IcebergTableReader.read(spark, loc)
    assert(back.count() === 100L)
    assert(back.filter($"tag".isNull).count() === 10L)
    // the NULL rows' files commit with a null tuple (the reader's
    // partition map simply has no value for the field); keyed files
    // carry the spec hash
    val entries = IcebergTableReader.dataFiles(spark, loc)
    val (nullFiles, keyed) =
      entries.partition(!_.partition.contains("tag_bucket"))
    assert(nullFiles.nonEmpty)
    nullFiles.foreach { f =>
      assert(spark.read.parquet(f.path).filter($"tag".isNotNull).count() === 0L)
    }
    keyed.foreach { f =>
      val b = f.partition("tag_bucket")
      val tags = spark.read.parquet(f.path).select($"tag")
        .as[String].collect()
      assert(tags.forall(t =>
        t != null && IcebergPartitioning.bucketValueString(4, t) == b), f.path)
    }
    // point lookups still prune to the needle's bucket and never
    // surface null-key rows
    val hits = IcebergTableReader.readPoint(spark, loc, "tag", "tag-3")
    assert(hits.count() === rows.count(_._2 == "tag-3").toLong)
    ()
  }

  test("rewriteBucketed on an empty source commits an empty snapshot") {
    import spark.implicits._
    val src = tempDir("graft-rwb-empty") + "/t"
    Seq.empty[(Long, String)].toDF("id", "tag").write.parquet(src)
    val loc = tempDir("graft-rwb-empty-t") + "/t"
    IcebergMaintenance.rewriteBucketed(spark, src, loc, "id", 8)
    assert(IcebergTableReader.read(spark, loc).count() === 0L)
    assert(IcebergTableReader.dataFiles(spark, loc).isEmpty)
  }
}
