package graft.telemetry

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.RollupRewrite

/** The MATERIALIZED-ROLLUP side of [[graft.plans.RollupRewrite]]: a
  * pre-aggregated hourly table over `events` that the optimizer rule
  * can answer coarser aggregates from. One row per
  * (hour-truncated ts, event_type) carrying the re-aggregable
  * measures:
  *
  *   - `cnt`             count(*)                       (count → sum)
  *   - `sum_value`       sum(value)                     (sum → sum)
  *   - `sum_value_trunc` sum(cast(value as long))       (exact integer)
  *   - `min_value` / `max_value`                        (idempotent)
  *   - `sum_user_id`     sum(user_id)                   (exact integer)
  *
  * At 100 TB the rollup is the thing a streaming ingest maintains
  * incrementally (one upsert per closed hour — the
  * [[graft.streaming.StreamingIngest]] hourly shape) and every
  * dashboard query reads; this builder is its batch materialization.
  * The rollup is ~|hours| × |event types| rows — six orders of
  * magnitude under the raw table — so the rewritten query's scan cost
  * collapses while staying EXACT (counts/sums re-aggregate losslessly,
  * min/max are idempotent; nothing sketchy here — approximate rollups
  * are the tel_sketch_rollup family). */
object Rollups {

  /** Static registration JSON for the driver tables: matches any
    * `events.parquet` scan and derives each rollup location under /tmp
    * from the base path ([[RollupRewrite.rollupPathFor]]) — one conf
    * value serves every scale factor. An MV HIERARCHY: the day rollup
    * (24× smaller) is declared FIRST, so a day-or-coarser query lands
    * on it and only sub-daily shapes (hour(), date_trunc('hour'),
    * hour-aligned-but-not-day-aligned bounds) fall through to the
    * hourly one. */
  val EventsSpecJson: String =
    """[{"basePathSuffix": "events.parquet",
      |  "rollupRoot": "/tmp/graft_rollups_day",
      |  "timeCol": "ts", "grainCol": "day_ts", "grain": "day", "tz": "UTC",
      |  "dims": ["event_type"], "count": "cnt",
      |  "measures": {
      |    "value": {"sum": "sum_value", "sumLong": "sum_value_trunc",
      |              "min": "min_value", "max": "max_value"},
      |    "user_id": {"sum": "sum_user_id"}}},
      | {"basePathSuffix": "events.parquet",
      |  "rollupRoot": "/tmp/graft_rollups",
      |  "timeCol": "ts", "grainCol": "hour_ts", "grain": "hour", "tz": "UTC",
      |  "dims": ["event_type"], "count": "cnt",
      |  "measures": {
      |    "value": {"sum": "sum_value", "sumLong": "sum_value_trunc",
      |              "min": "min_value", "max": "max_value"},
      |    "user_id": {"sum": "sum_user_id"}}}]""".stripMargin

  /** The hourly rollup frame (the thing to materialize) — ONE
    * definition shared with the streaming maintainer
    * ([[graft.streaming.StreamingRollup.rollupFrame]]), so the batch
    * materialization and the incrementally-maintained snapshot are the
    * same view by construction. */
  def hourlyEvents(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StreamingRollup.rollupFrame(Tables.events(spark, sfDir))

  /** `tel_rollup_hourly`: the materialized-view frame itself, minus
    * the raw double sum (kept out of the oracle — cross-engine fp
    * summation order; every oracle-checked measure here is integer or
    * idempotent). */
  def hourlyProof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    hourlyEvents(spark, sfDir).select($"hour_ts", $"event_type", $"cnt",
      $"sum_value_trunc", $"min_value", $"max_value", $"sum_user_id")
  }

  /** `tel_rollup_rewrite`: the drop-in PROOF query for the optimizer
    * rule — written against the RAW events table (aligned time filter,
    * day+dim grouping, count/sum/min/max) and sharing the raw table's
    * DuckDB oracle. With [[RollupRewrite.SPEC_KEY]] set
    * (SparkEntry.queryConfs), the optimizer answers it from the hourly
    * rollup — the strongest correctness statement available for a
    * rewrite: bit-exact drop-in or it hash-fails. Without the conf the
    * same plan scans raw events, so the entry is green either way; the
    * plan flip itself is pinned by RollupRewriteSpec. */
  def rewriteProof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the rule rides extraOptimizations — register explicitly (other
    // builders' register calls must not be what arms THIS query's plan)
    graft.functions.GraftFunctions.register(spark) // arms the RollupRewrite rule
    ensureHourlyEvents(spark, sfDir)
    Tables.events(spark, sfDir)
      .filter($"ts" >= lit(java.time.Instant.parse("2024-01-02T00:00:00Z")))
      .groupBy($"ts".cast("date").as("day"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("long")).as("sum_trunc"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
  }

  /** The DAY rollup, cascaded from the hourly one (the MV-hierarchy
    * refresh: a day re-aggregation reads 24 hourly rows per group, not
    * the raw table — exactness preserved because every measure is
    * re-aggregable: Σcnt, Σsums, min of mins, max of maxes). */
  def dailyFromHourly(hourly: DataFrame): DataFrame = {
    import hourly.sparkSession.implicits._
    hourly
      .groupBy(date_trunc("day", $"hour_ts").as("day_ts"), $"event_type")
      .agg(sum($"cnt").as("cnt"),
        sum($"sum_value").as("sum_value"),
        sum($"sum_value_trunc").as("sum_value_trunc"),
        min($"min_value").as("min_value"),
        max($"max_value").as("max_value"),
        sum($"sum_user_id").as("sum_user_id"))
  }

  /** Cheap CONTENT fingerprint of the base table: sorted
    * (name, size, mtime) of its parquet files, md5'd. The rollup cache
    * key is md5-of-path ([[RollupRewrite.rollupPathFor]]); path alone
    * would silently serve a stale pre-aggregation if the data at that
    * path ever changed in place — the fingerprint is validated before
    * every reuse, so an in-place change triggers a rebuild. Listing is
    * metadata-only (no footer/data reads). */
  private def fingerprint(basePath: String): String = {
    val p = Paths.get(basePath)
    val entries =
      if (Files.isRegularFile(p))
        Seq(s"${p.getFileName}:${Files.size(p)}:" +
          s"${Files.getLastModifiedTime(p).toMillis}")
      else {
        // Files.list holds a directory handle until closed — leak one
        // per call otherwise
        val s = Files.list(p)
        try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.toString.endsWith(".parquet"))
          .map(f => s"${f.getFileName}:${Files.size(f)}:" +
            s"${Files.getLastModifiedTime(f).toMillis}")
          .toSeq.sorted
        finally s.close()
      }
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private def isFresh(path: String, fp: String): Boolean =
    Files.exists(Paths.get(s"$path/_SUCCESS")) &&
      Files.exists(Paths.get(s"$path/_FINGERPRINT")) &&
      new String(Files.readAllBytes(Paths.get(s"$path/_FINGERPRINT")),
        "UTF-8") == fp

  /** Materialize the hourly events rollup — and the day rollup
    * cascaded FROM it — at the paths [[RollupRewrite]] will derive for
    * this sf dir; idempotent, and the reuse check validates a CONTENT
    * fingerprint of the base (not just _SUCCESS), so data changed in
    * place rebuilds instead of serving stale aggregates (a production
    * MV refreshes per closed hour/day instead). Returns the hourly
    * path. */
  def ensureHourlyEvents(spark: SparkSession, sfDir: String): String = {
    val base = Paths.get(s"$sfDir/events.parquet").toAbsolutePath.toString
    val fp = fingerprint(base)
    val path = RollupRewrite.rollupPathFor("/tmp/graft_rollups", base)
    if (!isFresh(path, fp)) {
      hourlyEvents(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(path)
      Files.write(Paths.get(s"$path/_FINGERPRINT"), fp.getBytes("UTF-8"))
    }
    val dayPath = RollupRewrite.rollupPathFor("/tmp/graft_rollups_day", base)
    if (!isFresh(dayPath, fp)) {
      dailyFromHourly(spark.read.parquet(path)).coalesce(1)
        .write.mode("overwrite").parquet(dayPath)
      Files.write(Paths.get(s"$dayPath/_FINGERPRINT"), fp.getBytes("UTF-8"))
    }
    path
  }
}
