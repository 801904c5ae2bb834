package graft.telemetry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.{bottomKByHash, ddsketchAgg, frequentItems, topKStructs}

/** Telemetry-pipeline operators — the reference exporter's own data
  * semantics re-expressed over the `events` table (SURVEY.md §2.2).
  *
  * The reference flattens OTLP batches and partitions them by event time
  * (internal/iceberg/partition.go:73-98); downstream consumers then run
  * exactly these shapes: partition rollups, JSON-attribute extraction
  * (internal/arrow/attributes.go), at-least-once dedup, sessionization,
  * tumbling windows, error-rate and gauge/histogram rollups
  * (internal/arrow/metrics.go).
  *
  * Scale notes: every query is a single shuffle (groupBy on its natural
  * key, or a window partitioned by a high-cardinality key). Dedup-latest
  * deliberately uses max(struct(...)) — a partial-aggregating hash agg —
  * instead of window+filter, which would sort every partition.
  */
object Telemetry {

  /** year/month/day/hour partition-value derivation at hourly
    * granularity, as the reference's PathGenerator does (partition.go). */
  def partitionCols(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // group on ONE truncated timestamp (8-byte key), derive the four
    // string partition values AFTER aggregation — per-row work is a
    // single date_trunc instead of four formatter calls, and the shuffle
    // key is a long, not four strings (at 100 TB the formatting and the
    // wide keys both bill per input row; post-agg there are only
    // #hours rows to format)
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("n_events"),
           round(sum($"value"), 4).as("sum_value"))
      .select(
        date_format($"h", "yyyy").as("year"),
        date_format($"h", "MM").as("month"),
        date_format($"h", "dd").as("day"),
        date_format($"h", "HH").as("hour"),
        $"n_events", $"sum_value")
  }

  /** JSON attribute extraction — the reference JSON-encodes all attr maps
    * (attributes.go); consumers pull keys back out. */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           sum($"k").as("sum_k"),
           min($"k").as("min_k"),
           max($"k").as("max_k"))
      .withColumn("avg_k", round($"sum_k" / $"n", 4))
  }

  /** At-least-once dedup: keep the latest row per (user_id, event_type),
    * argmax by (ts, event_id) with the payload riding along. Uses the
    * bounded [[graft.functions.TopKStructs]] sketch with k=1 →
    * ObjectHashAggregate with map-side combine (a max(struct) argmax
    * would fall to sort-based aggregation, sorting every partition). */
  def dedupLatest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", $"event_type")
      .agg(element_at(topKStructs(struct($"ts", $"event_id", $"value"), 1), 1).as("m"))
      .select($"user_id", $"event_type",
              $"m.event_id".as("event_id"), $"m.value".as("value"))
  }

  /** Gap-based sessionization (30 min): per-user ordered scan via window
    * functions — shuffles once on user_id (keys ≪ rows). */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
             unix_micros($"ts") - unix_micros($"prev_ts") > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum($"new_session").over(byUser))
      .groupBy($"user_id", $"session_idx")
      .agg(count(lit(1)).as("n_events"),
           min($"event_id").as("first_event_id"),
           round(sum($"value"), 4).as("sum_value"))
  }

  /** Tumbling 1-hour window aggregate — the batch equivalent of the
    * streaming windowed ingest (streaming variant in graft.streaming). */
  def tumblingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
           round(sum($"value"), 4).as("sum_value"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
              $"event_type", $"n_events", $"sum_value")
  }

  /** Per-hour error-rate — conditional aggregation over severity-like
    * event classes. */
  def errorRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_errors"),
           count(lit(1)).as("n_total"))
      .withColumn("error_rate", round($"n_errors" / $"n_total", 4))
  }

  /** Gauge-style rollup: min/max/sum/count per metric stream per day —
    * the shape consumers run on otel_metrics_gauge (metrics.go). */
  def valueStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
           min($"value").as("min_value"),
           max($"value").as("max_value"),
           round(sum($"value"), 4).as("sum_value"))
      .withColumn("avg_value", round($"sum_value" / $"n", 4))
  }

  /** Exact percentiles of the gauge value per metric stream — the
    * summary-metric shape (metrics.go summary quantile_values) computed
    * from raw points. Exact sort-based percentile; at 100 TB swap in
    * approx_percentile for a one-pass sketch. */
  def valuePercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("p50_raw"),
           expr("percentile(value, 0.95)").as("p95_raw"),
           expr("percentile(value, 0.99)").as("p99_raw"),
           count(lit(1)).as("n"))
      .select($"event_type", $"n",
              round($"p50_raw", 6).as("p50"),
              round($"p95_raw", 6).as("p95"),
              round($"p99_raw", 6).as("p99"))
  }

  /** One-pass approximate percentiles (KLL-style sketch behind Spark's
    * approx_percentile) — the 100 TB path where the exact sort-based
    * percentile ([[valuePercentiles]]) would need a full shuffle+sort
    * per group. Mergeable sketch → map-side partials; spec bounds the
    * error against the exact quantiles. */
  def approxPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           expr("approx_percentile(value, array(0.5, 0.95, 0.99), 1000)").as("ap"))
      .select($"event_type", $"n",
              $"ap".getItem(0).as("p50"), $"ap".getItem(1).as("p95"),
              $"ap".getItem(2).as("p99"))
  }

  /** Deterministic mergeable percentile sketch: integer-grid histogram.
    * Values quantize to a fixed 0.01 grid; the per-group sketch is the
    * grid-cell count map — one pass, map-side combined, memory bounded
    * by grid cardinality — and quantiles read off the cumulative counts
    * at nearest rank. Error is bounded by the grid step and, unlike
    * GK/KLL ([[approxPercentiles]]), the result is INDEPENDENT of merge
    * order — the property that makes it reproducible across engines and
    * across reruns of a 1000-executor job. */
  def gridPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val grid = Tables.events(spark, sfDir)
      .withColumn("v100", round($"value" * 100, 0).cast("long"))
      .groupBy($"event_type", $"v100")
      .agg(count(lit(1)).as("c"))
    val whole = Window.partitionBy($"event_type")
    val cumW = Window.partitionBy($"event_type").orderBy($"v100")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q(p: Double) =
      min(when($"cum" >= ceil(lit(p) * $"n"), $"v100")) / lit(100.0)
    grid
      .withColumn("n", sum($"c").over(whole))
      .withColumn("cum", sum($"c").over(cumW))
      .groupBy($"event_type")
      .agg(max($"n").as("n"),
           q(0.5).as("p50"), q(0.95).as("p95"), q(0.99).as("p99"))
  }

  /** Hourly percentile SERIES — [[gridPercentiles]] windowed by hour:
    * the materialized p50/p95 time series a latency dashboard reads
    * (the reference's summary-metric shape, metrics.go, continuously
    * rolled up). Same deterministic integer-grid nearest-rank design,
    * keyed by (series, hour); the grid agg, both windows, and the
    * final agg all share one (event_type, hour) exchange. Output is
    * #series × #hours rows however large the input. */
  def hourlyPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val grid = Tables.events(spark, sfDir)
      .withColumn("v100", round($"value" * 100, 0).cast("long"))
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"), $"v100")
      .agg(count(lit(1)).as("c"))
    val whole = Window.partitionBy($"event_type", $"h")
    val cumW = Window.partitionBy($"event_type", $"h").orderBy($"v100")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q(p: Double) =
      min(when($"cum" >= ceil(lit(p) * $"n"), $"v100")) / lit(100.0)
    grid
      .withColumn("n", sum($"c").over(whole))
      .withColumn("cum", sum($"c").over(cumW))
      .groupBy($"event_type", $"h")
      .agg(max($"n").as("n"), q(0.5).as("p50"), q(0.95).as("p95"))
      .select($"event_type", date_format($"h", "yyyy-MM-dd HH:00").as("hour"),
              $"n", $"p50", $"p95")
  }

  /** Error-budget accounting — the third leg of the SLO triple
    * ([[burnRate]] = how fast, [[downtime]] = when, this = how much is
    * LEFT): per month, bad hours consumed against the budget a
    * 99%-target allows. All-integer arithmetic: the budget comparison
    * is hours·denominator vs numerator — the only doubles are final
    * exact divisions of small ints. */
  def errorBudget(spark: SparkSession, sfDir: String,
                  numBad: Int = 1, denBad: Int = 4,
                  sloNum: Int = 99, sloDen: Int = 100): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy(date_trunc("month", $"ts").as("month"),
               date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("n"),
           sum(when($"event_type" === "error", 1L).otherwise(0L)).as("errs"))
    hourly
      .groupBy($"month")
      .agg(count(lit(1)).as("total_hours"),
           sum(when($"errs" * denBad > $"n" * numBad, 1L).otherwise(0L))
             .as("bad_hours"))
      // budget hours = total · (1 − slo) — kept integer-scaled
      .withColumn("budget_hours",
        ($"total_hours" * (sloDen - sloNum)).cast("double") / sloDen.toDouble)
      .withColumn("budget_used_frac",
        ($"bad_hours" * sloDen).cast("double") /
          ($"total_hours" * (sloDen - sloNum)).cast("double"))
      .select(date_format($"month", "yyyy-MM").as("month"),
              $"total_hours", $"bad_hours", $"budget_hours",
              $"budget_used_frac")
  }

  /** Data-freshness monitor: per-series last-seen timestamp and its lag
    * behind the freshest series — the first page of any ingestion
    * dashboard (a stuck exporter shows up as one series' lag growing
    * while the others advance). One max-aggregate pass; the global max
    * is a window over #series rows; integer-micros lag. */
  def freshness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(max(unix_micros($"ts")).as("last_us"), count(lit(1)).as("n_events"))
      .withColumn("global_last_us", max($"last_us").over(Window.partitionBy()))
      .select($"event_type",
              date_format(timestamp_micros($"last_us"), "yyyy-MM-dd HH:mm:ss")
                .as("last_seen"),
              ($"global_last_us" - $"last_us").as("lag_us"), $"n_events")
  }

  /** Cardinality-explosion guard: distinct attribute-value count per
    * series per day, with day-over-day growth — the watchdog every
    * metrics pipeline points at its label space (a runaway label takes
    * down TSDB index and storage alike; the reference's JSON attr maps
    * are exactly where it happens, attributes.go).
    *
    * One distinct pass (the only full-data shuffle), then counts and a
    * lag window over #series × #days rows. At 100 TB the distinct
    * swaps to approx_count_distinct via the same
    * [[graft.plans.ApproxDistinctRewrite]] knob as profiling. */
  def cardinalityGuard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .select($"event_type", to_date($"ts").as("day"), $"props")
      .distinct()
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n_distinct"))
    val series = Window.partitionBy($"event_type").orderBy($"day")
    daily
      .withColumn("prev", lag($"n_distinct", 1).over(series))
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
              $"n_distinct", $"prev",
              when($"prev".isNotNull,
                   $"n_distinct".cast("double") / $"prev".cast("double"))
                .as("growth"))
  }

  /** Approximate distinct users per event type (HyperLogLog++ sketch) —
    * the one-pass cardinality path for 100 TB where exact
    * count(distinct) would shuffle every key. rsd 2%; spec asserts the
    * estimate lands within 5% of exact. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", rsd = 0.02).as("n_users_approx"),
           count(lit(1)).as("n_events"))
  }

  /** Cumulative→delta temporality conversion (metrics.go
    * aggregation_temporality): per series (user_id here), the
    * difference from the previous point in event-time order. One
    * shuffle on the series key. */
  def cumulativeDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bySeries = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .withColumn("prev", lag($"value", 1).over(bySeries))
      .filter($"prev".isNotNull)
      .select($"event_id", $"user_id", round($"value" - $"prev", 4).as("delta"))
  }

  /** Deterministic 3-user consistent sample per event type via the
    * custom bottom-k-by-hash sketch aggregate (bounded memory,
    * mergeable, partition-order-independent — the sampling primitive a
    * training pipeline uses to draw stable subsets at 100 TB). */
  def sampleUsers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_type", $"user_id").distinct()
      .groupBy($"event_type")
      .agg(bottomKByHash($"user_id", 3).as("sample_arr"))
      // comma-joined string (sorted ascending by the aggregate's eval):
      // scalar output keeps the driver's hash compare applicable
      .select($"event_type",
              concat_ws(",", $"sample_arr".cast("array<string>")).as("sampled"))
  }

  /** Rolling 5-point moving average per series (window frame ROWS 4
    * PRECEDING) — the smoothing pass dashboards run over gauge streams.
    * One shuffle on the series key; the frame is evaluated in a single
    * per-partition ordered scan. */
  def movingAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val frame = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-4, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("mov_sum", round(sum($"value").over(frame), 4))
      .withColumn("n_win", count(lit(1)).over(frame))
      .select($"event_id", $"user_id", $"mov_sum", $"n_win",
              round($"mov_sum" / $"n_win", 4).as("mov_avg"))
  }

  /** Reset-aware counter rate (PromQL increase() semantics): per series,
    * delta from the previous sample, treating a decrease as a counter
    * reset (the increase is the raw value). The exporter's CUMULATIVE
    * sums need exactly this before rates are meaningful (metrics.go
    * aggregation_temporality). */
  def counterRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bySeries = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .withColumn("prev", lag($"value", 1).over(bySeries))
      .filter($"prev".isNotNull)
      .withColumn("inc",
        when($"value" >= $"prev", $"value" - $"prev").otherwise($"value"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_samples"),
           sum(when($"value" < $"prev", 1L).otherwise(0L)).as("n_resets"),
           round(sum($"inc"), 4).as("total_increase"))
  }

  /** Hourly gap-fill + forward-fill per series: materialize every hour
    * between a series' first and last sample (sequence + explode — no
    * driver-side loop), left-join the actual hourly rollup, and carry
    * the last observed sum forward across gaps. The resample shape
    * behind every dashboard that draws continuous lines from sparse
    * telemetry. Grid generation is narrow; the join and the fill window
    * each shuffle once on the series key. */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy($"user_id", date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sv"))
    val grid = hourly
      .groupBy($"user_id")
      .agg(min($"hour").as("h0"), max($"hour").as("h1"))
      .select($"user_id",
              explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("hour"))
    val fill = Window.partitionBy($"user_id").orderBy($"hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select($"user_id",
              date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
              coalesce($"n", lit(0L)).as("n_events"),
              last($"sv", ignoreNulls = true).over(fill).as("filled_sum"))
  }

  /** Explicit-bounds histogram (bounds 50/100/200/500) — the reference's
    * histogram metric shape (metrics.go explicit_bounds/bucket_counts)
    * computed from raw values. */
  /** PromQL `histogram_quantile` on classic le-buckets (r8): cumulative
    * bucket counts per (event_type, day) from ONE conditional-agg pass
    * (the le-buckets are cumulative by construction — no window), then
    * linear interpolation inside the first bucket whose cumulative
    * count reaches rank = q·total; the +Inf bucket returns its lower
    * bound, exactly Prometheus' convention. Every branch divides by a
    * strictly positive width (a zero-width branch is unreachable: rank
    * ≤ c_i with c_i = c_{i-1} already matched the previous branch).
    * Arithmetic is the same single IEEE op sequence in the SQL oracle —
    * no rounding slack needed beyond the final display round. */
  def histQuantile(spark: SparkSession, sfDir: String,
                   q: Double = 0.9): DataFrame = {
    import spark.implicits._
    val g = Tables.events(spark, sfDir)
      .groupBy($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("total"),
           sum(when($"value" < 50, 1L).otherwise(0L)).as("c1"),
           sum(when($"value" < 100, 1L).otherwise(0L)).as("c2"),
           sum(when($"value" < 200, 1L).otherwise(0L)).as("c3"),
           sum(when($"value" < 500, 1L).otherwise(0L)).as("c4"))
    g.withColumn("rank", lit(q) * $"total")
      .withColumn("p90", round(
        when($"rank" <= $"c1",
          lit(50.0) * ($"rank" / $"c1"))
        .when($"rank" <= $"c2",
          lit(50.0) + lit(50.0) * (($"rank" - $"c1") / ($"c2" - $"c1")))
        .when($"rank" <= $"c3",
          lit(100.0) + lit(100.0) * (($"rank" - $"c2") / ($"c3" - $"c2")))
        .when($"rank" <= $"c4",
          lit(200.0) + lit(300.0) * (($"rank" - $"c3") / ($"c4" - $"c3")))
        .otherwise(lit(500.0)), 6))
      .select($"event_type", $"day", $"total", $"p90")
  }

  def histogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bucket =
      when($"value" < 50, "0_lt50")
        .when($"value" < 100, "1_lt100")
        .when($"value" < 200, "2_lt200")
        .when($"value" < 500, "3_lt500")
        .otherwise("4_ge500")
    Tables.events(spark, sfDir)
      .groupBy($"event_type", bucket.as("bucket"))
      .agg(count(lit(1)).as("bucket_count"))
  }

  /** OTel exponential-histogram bucketing (metrics.go's
    * exponential_histogram table): base-2 buckets over the positive
    * range, per metric stream. The bucket index is
    * floor(log2(round(value*100))) computed EXACTLY as the binary-digit
    * count of the scaled integer (`length(bin(v))-1`) — libm log2 is
    * correctly rounded in one engine and log(x)/log(2) in another, which
    * flips floor() at exact powers of two; the string length of the
    * binary representation is engine-portable. Bounds are 2^idx/100 —
    * one exact pow, one division, bit-identical everywhere. */
  def expHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"value" > 0)
      // clamp: values in (0, 0.005) would scale to v100=0, landing in
      // bucket 0 whose declared bounds are [0.01, 0.02) — clamping to 1
      // keeps every row inside its bucket's [lo, hi) range.
      .withColumn("v100", greatest(round($"value" * 100, 0).cast("long"), lit(1L)))
      .withColumn("bucket_idx", (length(bin($"v100")) - 1).cast("long"))
      .groupBy($"event_type", $"bucket_idx")
      .agg(count(lit(1)).as("bucket_count"),
           round(min($"value"), 4).as("min_value"),
           round(max($"value"), 4).as("max_value"))
      .withColumn("bucket_lo", pow(lit(2.0), $"bucket_idx".cast("double")) / 100)
      .withColumn("bucket_hi", pow(lit(2.0), ($"bucket_idx" + 1).cast("double")) / 100)
  }

  /** Time-RANGE window frame: per-series rolling sum/count over the
    * PRECEDING HOUR of event time (not the preceding N rows — the frame
    * is defined by the timestamp distance, so it is sparse-data-correct
    * where a ROWS frame is not). One shuffle on the series key. */
  def rangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us")
      .rangeBetween(-3600L * 1000000, 0)
    Tables.events(spark, sfDir)
      .withColumn("ts_us", unix_micros($"ts"))
      .select($"event_id", $"user_id",
              count(lit(1)).over(w).as("n_1h"),
              round(sum($"value").over(w), 4).as("sum_1h"))
  }

  /** Percentile estimation FROM the exponential histogram — the query
    * OTel exponential histograms exist to answer: log-linear
    * interpolation inside the base-2 bucket containing the target rank.
    * Composes [[expHistogram]]'s exact bucketing; every arithmetic step
    * (pow of integer exponent, subtract, multiply, divide) is
    * IEEE-correctly-rounded, so the estimate reproduces bit-for-bit in
    * the oracle — no libm, no merge-order dependence. */
  def expHistPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = Tables.events(spark, sfDir).filter($"value" > 0)
      // same sub-grid clamp as [[expHistogram]] (see comment there)
      .withColumn("v100", greatest(round($"value" * 100, 0).cast("long"), lit(1L)))
      .withColumn("idx", (length(bin($"v100")) - 1).cast("long"))
      .groupBy($"event_type", $"idx").agg(count(lit(1)).as("c"))
    val whole = Window.partitionBy($"event_type")
    val cumW = Window.partitionBy($"event_type").orderBy($"idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def lo(i: org.apache.spark.sql.Column) = pow(lit(2.0), i.cast("double")) / lit(100.0)
    def est(rank: org.apache.spark.sql.Column) = {
      val l = lo($"idx")
      val h = lo($"idx" + 1)
      min(when($"cum" >= rank && $"cumb" < rank,
        l + (h - l) * ((rank - $"cumb").cast("double") / $"c")))
    }
    b.withColumn("n", sum($"c").over(whole))
      .withColumn("cum", sum($"c").over(cumW))
      .withColumn("cumb", $"cum" - $"c")
      .withColumn("r50", ceil(lit(0.5) * $"n"))
      .withColumn("r95", ceil(lit(0.95) * $"n"))
      .groupBy($"event_type")
      .agg(max($"n").as("n"), est($"r50").as("p50_est"), est($"r95").as("p95_est"))
  }

  /** EXACT heavy hitters via the two-pass sketch pattern: pass 1 is the
    * bounded-memory Misra-Gries summary ([[graft.functions.FrequentItems]],
    * k counters, mergeable — its superset guarantee means no true
    * hitter is missed); pass 2 exactly counts only the candidate set
    * (tiny, broadcast) and filters on the true threshold. At 100 TB the
    * sketch pass shuffles k counters per map task instead of every
    * distinct key; the result is exact, so it hash-checks against the
    * plain GROUP BY/HAVING oracle. */
  def heavyHitters(spark: SparkSession, sfDir: String,
                   k: Int = 100, thresholdFrac: Double = 0.01): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(floor($"value").cast("long").as("item"))
    // pass 1 computes the sketch AND the total in one scan; n rides the
    // broadcast candidate set into pass 2 (no third scan, no cross join)
    val pass1 = ev.agg(
      frequentItems($"item", k).as("c"),
      count(lit(1)).as("n"))
    val cand = pass1.select($"n", explode($"c.item").as("item"))
    ev.join(broadcast(cand), "item")
      .groupBy($"item", $"n")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > $"n" * thresholdFrac)
      .select($"item", $"cnt")
  }

  /** Native session-window aggregation (30-min gap) — Spark's
    * `session_window`, the same operator the streaming pipeline uses.
    * Unlike [[sessionize]] (lag + running sum over a per-user sort
    * window), the session merge happens inside the aggregate: partial
    * aggregation merges overlapping per-key sessions map-side, so the
    * shuffle carries merged session ranges, not every raw row. Session
    * end = last event + gap (streaming watermark-eviction semantics). */
  def sessionWindowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
           min($"event_id").as("first_event_id"),
           round(sum($"value"), 4).as("sum_value"))
      .select($"user_id",
              date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
              date_format($"w.end", "yyyy-MM-dd HH:mm:ss").as("session_end"),
              $"n_events", $"first_event_id", $"sum_value")
  }

  /** Hopping (sliding) window aggregate: 1-hour windows advancing every
    * 15 minutes — each event lands in 4 overlapping windows. Spark's
    * `window(ts, length, slide)` explodes the row into its windows
    * BEFORE partial aggregation, so the shuffle carries per-window
    * partial aggregates (4× the tumbling shuffle, not 4× the data) —
    * the batch shape of the streaming smoothed-dashboard query. */
  def hoppingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
           round(sum($"value"), 4).as("sum_value"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("win_start"),
              $"event_type", $"n_events", $"sum_value")
  }

  /** Count-min-sketch frequency estimates — the 4th classic sketch in
    * the engine (HLL cardinality, GK percentiles, Misra-Gries heavy
    * hitters, CMS frequencies): a depth-d × width-w counter matrix of
    * per-user event counts (w = ⌈e/ε⌉, d = ⌈ln 1/(1−δ)⌉), built as ONE
    * hash aggregate over the md5-row-hashed stream — map-side combine
    * collapses to ≤ d·w counter rows per executor instead of a
    * distinct-key shuffle at 100 TB, the same mergeability the sketch
    * gives a native engine. Estimates are min-over-rows reads against
    * the counter table (AQE broadcasts it — d·w is fixed bytes).
    * Paired with exact counts so the spec can assert the CMS
    * guarantee: est ≥ true, est ≤ true + ε·N with prob ≥ δ.
    *
    * Hash rows are the engine's standard 60-bit md5-prefix trick
    * (row-salted key), so the counters are DETERMINISTIC integers and
    * the whole sketch replays exactly in SQL — this query is
    * hash-oracle-checked, not rows-only (the r3 minhash/simhash play). */
  def cmsCounts(spark: SparkSession, sfDir: String,
                eps: Double = 0.0001, confidence: Double = 0.99): DataFrame = {
    import spark.implicits._
    val w = math.ceil(math.E / eps).toLong
    val d = math.ceil(math.log(1.0 / (1.0 - confidence))).toInt
    val rowsLit = array((0 until d).map(lit): _*)
    def bucket(key: org.apache.spark.sql.Column, row: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(row.cast("string"), lit(":"),
        key.cast("string"))), 1, 15), 16, 10).cast("long") % w
    val ev = Tables.events(spark, sfDir).select($"user_id")
    // r16 (guide §2.3 "aggregate before you shuffle"): counters derive
    // from the EXACT per-user counts — counter(i,b) = Σ exact_cnt over
    // users hashing to b, identical to counting raw rows — so the md5
    // hot loop runs d·|users| times instead of d·|events|, the stream
    // is scanned once instead of three times, and the counter read-out
    // is a whole-partition window SUM over the same (i, bucket)-keyed
    // frame instead of a separate counter aggregate joined back (one
    // exchange replaces an agg exchange + a join). n_total = Σ exact
    // rides the reused exact-aggregate exchange.
    val exact = ev.groupBy($"user_id").agg(count(lit(1)).as("exact_cnt"))
    val totals = exact.agg(sum($"exact_cnt").as("n_total"))
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy($"i", $"bucket")
    exact
      .select($"user_id", $"exact_cnt", explode(rowsLit).as("i"))
      .withColumn("bucket", bucket($"user_id", $"i"))
      .withColumn("c", sum($"exact_cnt").over(byBucket))
      .groupBy($"user_id", $"exact_cnt")
      .agg(min($"c").as("est_cnt"))
      .crossJoin(broadcast(totals))
      .select($"user_id", $"exact_cnt", $"est_cnt", $"n_total")
  }

  /** Z-score anomaly detection per metric stream: flag events more than
    * 3 standard deviations from their series mean — the alerting query
    * every telemetry store runs. Two passes, both cheap: a map-side-
    * combined (n, Σ, Σ²) aggregate (5 rows), broadcast back over the
    * scan. Statistics accumulate over SCALED-INTEGER values (v100 =
    * round(value·100)) so the sums are exact longs — mean/stddev/z are
    * then deterministic functions of exact integers, bit-identical in
    * any engine, where float Σ/Σ² would be merge-order noise and
    * Welford-vs-naive stddev would differ in the last bits. */
  def anomaly(spark: SparkSession, sfDir: String,
              zThreshold: Double = 3.0): DataFrame = {
    import spark.implicits._
    val v = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value",
              round($"value" * 100, 0).cast("long").as("v100"))
    val stats = v.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v100").as("s"),
           sum($"v100" * $"v100").as("ss"))
    val mean = $"s".cast("double") / $"n"
    val sd = sqrt(($"ss".cast("double") - $"s".cast("double") * $"s".cast("double") / $"n") /
                  ($"n" - 1))
    v.join(broadcast(stats), "event_type")
      .withColumn("z", ($"v100".cast("double") - mean) / sd)
      .filter(abs($"z") >= zThreshold)
      .select($"event_id", $"event_type", $"value", $"z")
  }

  /** EWMA smoothing per metric stream (alpha=0.25): s_0 = x_0,
    * s_t = 0.75*s_{t-1} + 0.25*x_t, folded over the series in
    * (ts, event_id) order. The recursion is inherently sequential, so it
    * runs as collect_list → sort_array → `aggregate` fold INSIDE each
    * group — one shuffle on the series key, each series folded by one
    * task (the per-key state pattern; keys ≪ rows at scale). Every fold
    * step is two IEEE multiplies and an add applied in a fixed total
    * order, so the result reproduces bit-for-bit in any engine with an
    * ordered fold (DuckDB list_reduce). */
  def ewma(spark: SparkSession, sfDir: String, alpha: Double = 0.25): DataFrame = {
    import spark.implicits._
    val a = lit(alpha)
    val one = lit(1.0 - alpha)
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"ts", $"event_id", $"value"))).as("rs"),
           count(lit(1)).as("n"))
      .select($"event_type", $"n",
        transform($"rs", r => r.getField("value")).as("vals"))
      .select($"event_type", $"n",
        aggregate(slice($"vals", lit(2), size($"vals") - 1),
                  element_at($"vals", 1),
                  (acc, x) => acc * one + x * a).as("ewma"))
  }

  /** Ordered conversion funnel view → click → purchase: a user converts
    * a stage only with an event STRICTLY after their entry into the
    * previous stage. Computed in ONE shuffle on user_id: running-min
    * window columns carry "first view so far" / "first qualifying click
    * so far" down each user's timeline (the three window selects reuse
    * the same exchange+sort), then a per-user conditional-min aggregate
    * collapses to stage timestamps — no self-joins, which at 100 TB
    * would each re-shuffle the full event stream. Comparisons use
    * integer epoch-micros so the oracle (join formulation — same
    * semantics, different plan) matches exactly. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("tus"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"tus")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val s1 = e.withColumn("t1_run",
      min(when($"event_type" === "view", $"tus")).over(w))
    val s2 = s1.withColumn("t2_run",
      min(when($"event_type" === "click" && $"tus" > $"t1_run", $"tus")).over(w))
    val per = s2.groupBy($"user_id").agg(
      min(when($"event_type" === "view", $"tus")).as("t1"),
      min(when($"event_type" === "click" && $"tus" > $"t1_run", $"tus")).as("t2"),
      min(when($"event_type" === "purchase" && $"tus" > $"t2_run", $"tus")).as("t3"))
    per.agg(count($"t1").as("nv"), count($"t2").as("nc"), count($"t3").as("np"))
      .selectExpr("stack(3, '1_view', nv, '2_click', nc, '3_purchase', np) AS (stage, users)",
                  "nv")
      .select($"stage", $"users",
              ($"users".cast("double") / $"nv").as("conv"))
  }

  /** Holt's linear-trend double exponential smoothing per series —
    * [[ewma]]'s big sibling: state is (level, trend), init l₀=x₁,
    * b₀=x₂−x₁, then l=αx+(1−α)(l+b), b=β(l−l_prev)+(1−β)b. Same
    * distribution shape as ewma (ordered collect + `aggregate` fold,
    * one shuffle on the series key); the accumulator is a STRUCT
    * folded through the higher-order function. Every step is a fixed
    * sequence of IEEE ops ((1−α) computed, not a decimal literal — the
    * oracle folds the identical expression), so level/trend/forecast
    * reproduce bit-for-bit in DuckDB's struct list_reduce. */
  /** Holt-Winters ADDITIVE triple exponential smoothing per series —
    * [[holt]] plus a period-`p` seasonal component, the classical
    * capacity-forecast model for daily-cyclic telemetry (p=24 on an
    * hourly grid). The series is the hourly EVENT COUNT per type,
    * gap-filled to the dense global hour grid: counts are integers, so
    * the series is engine-exact by construction (no float sum whose
    * merge order could drift cross-engine).
    *
    * State rides in a (2+p)-element double array `[l, b, s₁..s_p]`
    * with the CURRENT hour's seasonal index always at slot 3; each
    * step emits `[l', b', s₄..s_{p+2}, s₃']` (rotate + append), so the
    * fold is a fixed IEEE op sequence the DuckDB oracle replays
    * bit-for-bit with list_reduce (list construction evaluates every
    * element against the pre-step accumulator — the same caveat that
    * rules out struct state, see the tel_holt oracle note).
    * Init: l₀ = mean(x₁..x_p), b₀ = (mean(x_{p+1}..x_{2p}) − l₀)/p,
    * sᵢ = xᵢ − l₀; the fold starts at x_{p+1}.
    *
    * Scale shape: ONE hash agg over events builds the hourly counts;
    * the dense grid is a broadcast-range cross of #types × #hours
    * rows; the fold runs per series key. Series length is bounded by
    * the retention window (hours), not the event volume — the state
    * that matters at 100 TB is per-key and tiny. */
  def holtWinters(spark: SparkSession, sfDir: String, period: Int = 24,
                  alpha: Double = 0.3, beta: Double = 0.1,
                  gamma: Double = 0.2): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_type",
              expr("unix_micros(ts) div 3600000000").as("h"))
    val bounds = e.agg(min($"h").as("h0"), max($"h").as("h1"))
    val counts = e.groupBy($"event_type", $"h").agg(count(lit(1)).as("c"))
    val grid = e.select($"event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select($"event_type", explode(sequence($"h0", $"h1")).as("h"))
    val series = grid.join(counts, Seq("event_type", "h"), "left")
      .select($"event_type", $"h",
              coalesce($"c", lit(0L)).cast("double").as("x"))
      .groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"h", $"x"))).as("rs"),
           count(lit(1)).as("n"))
      .select($"event_type", $"n",
              transform($"rs", r => r.getField("x")).as("vs"))
    val p = period
    val a = lit(alpha); val ia = lit(1.0 - alpha)
    val b = lit(beta); val ib = lit(1.0 - beta)
    val g = lit(gamma); val ig = lit(1.0 - gamma)
    def meanSlice(vs: Column, from: Int): Column =
      aggregate(slice(vs, lit(from), lit(p)), lit(0.0), (acc, x) => acc + x) / p
    def lvl(acc: Column, x: Column): Column =
      (x - element_at(acc, 3)) * a +
        (element_at(acc, 1) + element_at(acc, 2)) * ia
    series
      .withColumn("l0", meanSlice($"vs", 1))
      .withColumn("b0", (meanSlice($"vs", p + 1) - $"l0") / p)
      .withColumn("init",
        concat(array($"l0", $"b0"),
               transform(slice($"vs", 1, p), x => x - $"l0")))
      .withColumn("st",
        aggregate(
          slice($"vs", lit(p + 1), greatest(size($"vs") - p, lit(0))),
          $"init",
          (acc, x) => concat(
            array(
              lvl(acc, x),
              (lvl(acc, x) - element_at(acc, 1)) * b + element_at(acc, 2) * ib),
            slice(acc, 4, p - 1),
            array((x - lvl(acc, x)) * g + element_at(acc, 3) * ig))))
      .select($"event_type", $"n",
              round(element_at($"st", 1), 6).as("level"),
              round(element_at($"st", 2), 6).as("trend"),
              round(element_at($"st", 3), 6).as("s_next"),
              round(element_at($"st", 1) + element_at($"st", 2) +
                    element_at($"st", 3), 6).as("forecast"))
  }

  def holt(spark: SparkSession, sfDir: String,
           alpha: Double = 0.3, beta: Double = 0.1): DataFrame = {
    import spark.implicits._
    val a = lit(alpha)
    val ia = lit(1.0 - alpha)
    val b = lit(beta)
    val ib = lit(1.0 - beta)
    def lvl(acc: Column, x: Column): Column =
      x * a + (acc.getField("l") + acc.getField("b")) * ia
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"ts", $"event_id", $"value"))).as("rs"),
           count(lit(1)).as("n"))
      .select($"event_type", $"n",
        transform($"rs", r => r.getField("value")).as("vs"))
      .select($"event_type", $"n",
        aggregate(
          slice($"vs", lit(3), greatest(size($"vs") - 2, lit(0))),
          struct(element_at($"vs", 1).as("l"),
                 (element_at($"vs", 2) - element_at($"vs", 1)).as("b")),
          (acc, x) => struct(
            lvl(acc, x).as("l"),
            ((lvl(acc, x) - acc.getField("l")) * b + acc.getField("b") * ib).as("b")))
          .as("st"))
      .select($"event_type", $"n", $"st.l".as("level"), $"st.b".as("trend"),
              ($"st.l" + $"st.b").as("forecast"))
  }

  /** Max concurrent sessions per day — the sweep-line interval query
    * (capacity planning's "how many users at once"). Sessions (30-min
    * gap, as [[sessionize]]) become ±1 boundary points; concurrency is
    * the global running sum over points ordered by (time, +1 first).
    * A naive global window = ONE partition for the whole 100 TB sweep,
    * so this runs as a DISTRIBUTED PREFIX SCAN instead: range-partition
    * the points by sort key, local prefix sums per partition, then add
    * each partition's broadcast exclusive offset — every stage parallel,
    * the driver only ever sees one long per partition. Day-level max is
    * tie-order-independent (the multiset of prefix values within equal
    * sort keys is permutation-invariant), so the single-window oracle
    * matches exactly. */
  def concurrency(spark: SparkSession, sfDir: String,
                  gapUs: Long = 1800000000L, nRanges: Int = 8): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val sess = Tables.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id")
      .withColumn("prev", lag($"tus", 1).over(byUser))
      .withColumn("ns",
        when($"prev".isNull || $"tus" - $"prev" > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum($"ns").over(byUser))
      .groupBy($"user_id", $"sid")
      .agg(min($"tus").as("st"), max($"tus").as("en"))
    val pts = sess.select(explode(array(
        struct($"st".as("tus"), lit(1).as("delta")),
        struct($"en".as("tus"), lit(-1).as("delta")))).as("p"))
      .select($"p.tus", $"p.delta")
    // distributed prefix scan: materialize the range partitioning once
    // (offsets pass + scan pass share it), exclusive offsets are a
    // partition-count-sized collect
    // no sortWithinPartitions here: the offsets pass is order-independent
    // (a per-partition SUM) and the scan pass's window re-sorts by the
    // same key anyway — the explicit sort was a third full sort of the
    // points for nothing (r16, guide §2.4)
    val ranged = pts.repartitionByRange(nRanges, $"tus".asc, $"delta".desc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val sums = ranged.groupBy($"pid").agg(sum($"delta").as("psum"))
      .collect().map(r => r.getAs[Int]("pid") -> r.getAs[Long]("psum")).toMap
    val offsets = (0 until nRanges).scanLeft(0L)((acc, p) =>
      acc + sums.getOrElse(p, 0L)).init
    val offDf = offsets.zipWithIndex
      .map { case (off, p) => (p, off) }.toDF("pid", "off")
    val wp = Window.partitionBy($"pid").orderBy($"tus".asc, $"delta".desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    ranged
      .withColumn("local", sum($"delta").over(wp))
      .join(broadcast(offDf), "pid")
      .withColumn("conc", $"local" + $"off")
      .groupBy(date_format(timestamp_micros($"tus"), "yyyy-MM-dd").as("day"))
      .agg(max($"conc").as("max_concurrent"), count(lit(1)).as("n_boundaries"))
  }

  /** Rolling active users — DAU / WAU(7d) / MAU(28d) per day, the
    * growth dashboard's spine. NO range join: each distinct (user, day)
    * activity row EXPLODES into the 28 anchor days it contributes to
    * (a narrow 28× generate — cheaper than any non-equi join shape),
    * then one hash aggregation computes three conditional COUNT
    * DISTINCTs; a broadcast equi-semi-join against the day spine drops
    * anchors past the data's horizon. At raw-event scale the
    * distinct-activity rollup is the only pass that touches the
    * stream; everything after runs on 28·|users|·|days| skinny rows.
    * Exact integer counts — trivially oracle-parity. */
  def activeUsers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val act = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
      .localCheckpoint()
    val spine = act.select($"d".as("day")).distinct()
    act
      .select($"user_id", $"d",
        explode(expr("sequence(d, date_add(d, 27))")).as("day"))
      .join(broadcast(spine), Seq("day"), "left_semi")
      .groupBy($"day")
      .agg(
        countDistinct(when($"d" === $"day", $"user_id")).as("dau"),
        countDistinct(when($"d" >= date_sub($"day", 6), $"user_id")).as("wau"),
        countDistinct($"user_id").as("mau"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
              $"dau", $"wau", $"mau")
  }

  /** Weekly seasonality heatmap: (day-of-week × hour-of-day) traffic
    * matrix — the dashboard view behind capacity planning and
    * "is this dip normal for a Sunday 3am". One hash aggregation onto
    * a 168-cell key space (map-side combine collapses everything
    * before the shuffle); avg from an exact integer count and a
    * round-4 sum, the oracle-parity form. */
  def heatmap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(dayofweek($"ts").cast("long").as("dow"),
               hour($"ts").cast("long").as("hod"))
      .agg(count(lit(1)).as("n_events"),
           round(sum($"value"), 4).as("sum_value"))
      .withColumn("avg_value", round($"sum_value" / $"n_events", 4))
  }

  /** Multi-window SLO burn rate (the SRE-workbook alert): per hour,
    * error-budget consumption speed over the hour itself AND a trailing
    * 6-hour RANGE window; an alert needs BOTH elevated — fast windows
    * catch onset, slow windows suppress blips. Runs on the hourly
    * rollup, so the global-ordered window sees #hours rows (~9k/year)
    * no matter how many raw events feed it — aggregate first, window
    * the aggregate. Integer counts and exact divisions: bit-identical
    * in the oracle. */
  /** MULTIWINDOW multi-burn-rate SLO alerting (r8) — the Google SRE
    * workbook policy [[burnRate]] is the single-pair building block of:
    * a FAST page fires only when BOTH a short and a long window burn
    * above a high factor (1h & 6h ≥ 14.4 — catches a severe burn
    * quickly, the long window suppresses blips), and a SLOW ticket
    * fires when 6h & 24h ≥ 6. Both window pairs ride ONE hourly
    * pre-aggregation and range frames over the integer hour key — the
    * aggregate-before-window discipline, one shuffle total; severity is
    * a plain CASE over the four burns. */
  def sloMultiwindow(spark: SparkSession, sfDir: String,
                     budget: Double = 0.01): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy(unix_micros(date_trunc("hour", $"ts")).as("hus"))
      .agg(sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_err"),
           count(lit(1)).as("n_tot"))
    def burnOver(hours: Long): Column = {
      val w = Window.orderBy($"hus")
        .rangeBetween(-(hours - 1) * 3600L * 1000000L, 0L)
      (sum($"n_err").over(w).cast("double") / sum($"n_tot").over(w)) / budget
    }
    hourly
      .withColumn("burn_1h", ($"n_err".cast("double") / $"n_tot") / budget)
      .withColumn("burn_6h", burnOver(6L))
      .withColumn("burn_24h", burnOver(24L))
      .withColumn("fast_page", $"burn_1h" >= 14.4 && $"burn_6h" >= 14.4)
      .withColumn("slow_ticket", $"burn_6h" >= 6.0 && $"burn_24h" >= 6.0)
      .withColumn("severity",
        when($"fast_page", "page").when($"slow_ticket", "ticket")
          .otherwise("ok"))
      .select(date_format(timestamp_micros($"hus"), "yyyy-MM-dd HH:mm:ss")
                .as("hour_start"),
              round($"burn_1h", 4).as("burn_1h"),
              round($"burn_6h", 4).as("burn_6h"),
              round($"burn_24h", 4).as("burn_24h"),
              $"fast_page", $"slow_ticket", $"severity")
  }

  def burnRate(spark: SparkSession, sfDir: String,
               budget: Double = 0.01): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy(unix_micros(date_trunc("hour", $"ts")).as("hus"))
      .agg(sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_err"),
           count(lit(1)).as("n_tot"))
    val w6 = Window.orderBy($"hus")
      .rangeBetween(-5L * 3600L * 1000000L, 0L)
    hourly
      .withColumn("burn_1h",
        ($"n_err".cast("double") / $"n_tot") / budget)
      .withColumn("burn_6h",
        (sum($"n_err").over(w6).cast("double") / sum($"n_tot").over(w6)) / budget)
      .select(date_format(timestamp_micros($"hus"), "yyyy-MM-dd HH:mm:ss")
                .as("hour_start"),
              $"n_err", $"n_tot", $"burn_1h", $"burn_6h",
              ($"burn_1h" > 1.0 && $"burn_6h" > 1.0).as("alert"))
  }

  /** Apdex score per (event type, day): satisfied ≤ T, tolerating ≤ 4T,
    * apdex = (satisfied + tolerating/2) / n — the SLO rollup every
    * telemetry backend ships. One conditional aggregation pass, integer
    * counts, exact final division. */
  def apdex(spark: SparkSession, sfDir: String, t: Double = 50.0): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type",
               date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(sum(when($"value" <= t, 1L).otherwise(0L)).as("n_satisfied"),
           sum(when($"value" > t && $"value" <= 4 * t, 1L).otherwise(0L))
             .as("n_tolerating"),
           count(lit(1)).as("n"))
      .withColumn("apdex",
        ($"n_satisfied".cast("double") + $"n_tolerating".cast("double") / 2) / $"n")
  }

  /** Daily cohort retention: users grouped by their first-active day;
    * for each (cohort, day-offset) the fraction of the cohort active
    * that day. The classic growth-analytics triangle. Shape: distinct
    * (user, day) then first-day agg and a user-keyed join — all three
    * hash-partition on user_id so the planner reuses one exchange; the
    * cohort-size join at the end is on ~date-cardinality rows
    * (broadcast). */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // act feeds three consumers (first-day agg, the activity join, and
    // cohort sizes via first) — materialize the distinct once instead
    // of three raw scans of the event stream (at cluster scale:
    // .persist, or the act table is itself a maintained daily rollup)
    val act = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
      .localCheckpoint()
    val first = act.groupBy($"user_id").agg(min($"d").as("cd"))
    val sizes = first.groupBy($"cd").agg(count(lit(1)).as("cohort_n"))
    act.join(first, "user_id")
      .groupBy($"cd", datediff($"d", $"cd").cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cd")
      .select(date_format($"cd", "yyyy-MM-dd").as("cohort_day"),
              $"day_offset", $"n_active", $"cohort_n",
              ($"n_active".cast("double") / $"cohort_n").as("retention"))
  }

  /** Gap filling by LINEAR INTERPOLATION (the PromQL/queryable-metrics
    * companion to [[gapFill]]'s forward fill): missing hourly points per
    * series get prev + (next−prev)·(t−t_prev)/(t_next−t_prev). The
    * bracketing points ride in four window columns (last/first
    * ignoreNulls over preceding/following frames) — one partitioned sort
    * per series, no self-joins. All timestamps are integer micros and
    * the hourly values are round-4 sums, so the interpolation arithmetic
    * is the same IEEE ops in any engine — bit-exact oracle. */
  def interpolate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy($"event_type",
               unix_micros(date_trunc("hour", $"ts")).as("hus"))
      .agg(round(sum($"value"), 4).as("v"))
    val grid = hourly
      .groupBy($"event_type")
      .agg(min($"hus").as("h0"), max($"hus").as("h1"))
      .select($"event_type",
              explode(sequence($"h0", $"h1", lit(3600L * 1000000L))).as("hus"))
    val prec = Window.partitionBy($"event_type").orderBy($"hus")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val foll = Window.partitionBy($"event_type").orderBy($"hus")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(hourly, Seq("event_type", "hus"), "left")
      .withColumn("pv", last($"v", ignoreNulls = true).over(prec))
      .withColumn("pt", last(when($"v".isNotNull, $"hus"), ignoreNulls = true).over(prec))
      .withColumn("nv", first($"v", ignoreNulls = true).over(foll))
      .withColumn("nt", first(when($"v".isNotNull, $"hus"), ignoreNulls = true).over(foll))
      .select($"event_type",
        date_format(timestamp_micros($"hus"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"v".isNull.as("was_missing"),
        when($"v".isNotNull, $"v")
          .when($"pv".isNull, $"nv")
          .when($"nv".isNull, $"pv")
          .otherwise($"pv" + ($"nv" - $"pv") *
            (($"hus" - $"pt").cast("double") / ($"nt" - $"pt").cast("double")))
          .as("filled"))
  }

  /** Robust outliers via MEDIAN ABSOLUTE DEVIATION — the resistant
    * alternative to [[anomaly]]'s z-score (one wild point can't drag the
    * threshold, unlike a mean/stddev). Exactness recipe: values scale to
    * integer centi-units, so both medians interpolate midpoints of
    * integers (exact halves/quarters in binary) and the 1.4826·MAD
    * consistency scaling is one exact double product — the oracle
    * matches without any rounding slack. Two aggregation passes over
    * the same series partitioning (median, then MAD) + a broadcast join
    * back to flag rows. */
  def madOutliers(spark: SparkSession, sfDir: String,
                  k: Double = 3.0): DataFrame = {
    import spark.implicits._
    val scaled = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type",
              round($"value" * 100, 0).cast("long").as("v100"))
    val med = scaled.groupBy($"event_type")
      .agg(expr("percentile(v100, 0.5)").as("med"))
    val mad = scaled.join(broadcast(med), "event_type")
      .groupBy($"event_type")
      .agg(first($"med").as("med"),
           expr("percentile(abs(v100 - med), 0.5)").as("mad"))
    scaled.join(broadcast(mad), "event_type")
      .withColumn("score", ($"v100" - $"med") / (lit(1.4826) * $"mad"))
      .filter(abs($"score") > k)
      .select($"event_type", $"event_id",
              ($"v100".cast("double") / 100).as("value"),
              $"med", $"mad", $"score")
  }

  /** Pre-aggregated HLL sketch rollup — the pattern that makes distinct
    * counts tractable at 100 TB: hourly jobs persist a SKETCH column
    * (a few KB) instead of raw ids; any coarser rollup (day, week,
    * all-time) is a cheap union of sketches, never a re-scan of raw
    * data. Spark's DataSketches HLL functions (`hll_sketch_agg` /
    * `hll_union_agg`) are register-wise lossless under union at a fixed
    * lgK, so the two-level estimate EQUALS the direct one (the spec
    * asserts it). Estimates are sketch-algorithm-specific → rows-only
    * driver check; the 5%-of-exact bound lives in the spec. */
  def sketchRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourlySketch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(hll_sketch_agg($"user_id", lit(12)).as("sk"))
    hourlySketch
      .groupBy(date_format($"hour", "yyyy-MM-dd").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk"))
             .as("approx_users"),
           count(lit(1)).as("n_hours"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next event type | current event type) — the building block behind
    * next-action prediction and journey analysis. One shuffle on user_id
    * orders each user's stream (lead window), then the (from, to) pair
    * counts collapse onto a #types² key space via hash aggregation with
    * map-side combine. The probability normalization windows the
    * AGGREGATE (≤ #types² rows), never the raw stream. Integer counts,
    * one exact double division — bit-identical in the oracle. */
  /** Sequence-pattern detection (MATCH_RECOGNIZE's common core) (r11):
    * each user's event history becomes an ordered initial-letter string
    * (v/c/p/e/s — first letters are distinct across the five types) and
    * regex counts detect behavioral patterns: the ADJACENT conversion
    * `vcp`, the gap-tolerant conversion `v[^p]*p` (view eventually
    * purchased; `[^p]*` cannot cross a purchase, so leftmost-greedy
    * matching is engine-independent — no backtracking-vs-RE2 divergence
    * possible), and the repeated-failure `ee`. Non-overlapping counts,
    * identical in Spark's regexp_count and DuckDB's
    * regexp_extract_all.
    *
    * Scale shape: ONE groupBy(user) with an ordered collect — the same
    * per-key-sequence shape as [[ewma]]/[[holt]]; sequence length is
    * bounded by per-user history, never the corpus. No window, no
    * self-join, no cross-row regex state outside the key. */
  def patternMatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val seq = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id",
              substring($"event_type", 1, 1).as("init"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
           sort_array(collect_list(struct($"ts", $"event_id", $"init")))
             .as("rs"))
      .select($"user_id", $"n_events",
        array_join(transform($"rs", r => r.getField("init")), "").as("seqx"))
    seq
      .withColumn("seq_len", length($"seqx").cast("long"))
      .withColumn("n_vcp", regexp_count($"seqx", lit("vcp")).cast("long"))
      .withColumn("n_view_to_purchase",
        regexp_count($"seqx", lit("v[^p]*p")).cast("long"))
      .withColumn("n_double_error",
        regexp_count($"seqx", lit("ee")).cast("long"))
      .select($"user_id", $"n_events", $"seqx".as("seq"), $"seq_len",
              $"n_vcp", $"n_view_to_purchase", $"n_double_error")
  }

  def transitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        $"n".cast("double") /
          sum($"n").over(Window.partitionBy($"from_type")).cast("double"))
  }

  /** Week-over-week movers: per event type, weekly volume vs the prior
    * week (absolute and relative delta), then the top-3 movers per week
    * by |relative change|. Aggregate-first shape: the raw stream
    * collapses to (#types × #weeks) rows in one hash agg; the lag and
    * ranking windows run on that tiny rollup. Deterministic ranking via
    * an event_type tie-break. */
  def weekOverWeek(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val weekly = Tables.events(spark, sfDir)
      .groupBy($"event_type", date_trunc("week", $"ts").as("wk"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy($"event_type").orderBy($"wk")
    val moved = weekly
      .withColumn("prev_n", lag($"n", 1).over(byType))
      .filter($"prev_n".isNotNull)
      .withColumn("delta", $"n" - $"prev_n")
      .withColumn("pct",
        ($"n" - $"prev_n").cast("double") / $"prev_n".cast("double"))
    val byWeek = Window.partitionBy($"wk")
      .orderBy(abs($"pct").desc, $"event_type")
    moved
      .withColumn("rnk", row_number().over(byWeek).cast("long"))
      .filter($"rnk" <= 3)
      .select(date_format($"wk", "yyyy-MM-dd").as("week_start"),
              $"event_type", $"n", $"prev_n", $"delta", $"pct", $"rnk")
  }

  /** Last-touch attribution: each purchase is credited to the latest
    * PRECEDING click by the same user (conversion-attribution shape).
    *
    * One shuffle on user_id: an ignoreNulls `last()` window over the
    * user's full ordered event stream carries the most recent click's
    * (ts, event_id) forward to every row; purchases then just read it.
    * No self-join — the join-formulated equivalent (purchase × click,
    * argmax per purchase) shuffles the click side a second time and
    * builds a per-purchase candidate set; the window form is a single
    * ordered pass per user. All arithmetic in integer epoch-micros so
    * the 7-day attribution-window test is exact. Ties on ts break by
    * event_id — deterministic under at-least-once duplication. */
  def attribution(spark: SparkSession, sfDir: String,
                  windowDays: Int = 7): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", $"event_id",
              unix_micros($"ts").as("ts_us"))
    val before = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val isClick = $"event_type" === "click"
    ev.withColumn("click_ts", last(when(isClick, $"ts_us"), ignoreNulls = true)
        .over(before))
      .withColumn("click_id", last(when(isClick, $"event_id"), ignoreNulls = true)
        .over(before))
      .filter($"event_type" === "purchase")
      .withColumn("latency_us", $"ts_us" - $"click_ts")
      .withColumn("attributed",
        coalesce($"latency_us" <= lit(windowDays.toLong * 86400000000L),
                 lit(false)))
      .select($"event_id", $"user_id", $"ts_us", $"click_id", $"click_ts",
              $"latency_us", $"attributed")
  }

  /** Single change-point detection per series: the hour boundary that
    * maximizes |mean(left) − mean(right)| of hourly event counts — the
    * exact-scan analogue of CUSUM, argmax over all candidate splits.
    *
    * The raw stream collapses to #series × #hours counts in ONE hash
    * agg (the only full-data pass); prefix sums over that tiny rollup
    * give every candidate split's left/right means from one running
    * window, and a second window picks the argmax. Means are
    * int/int double divisions — bit-exact cross-engine, no epsilon.
    * Tie-break: earliest boundary. */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("n"))
    val series = Window.partitionBy($"event_type").orderBy($"h")
    val scored = hourly
      .withColumn("i", row_number().over(series).cast("long"))
      .withColumn("cum", sum($"n").over(
        series.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum($"n").over(Window.partitionBy($"event_type")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"event_type")))
      .filter($"i" < $"cnt") // a split needs a non-empty right side
      .withColumn("left_mean", $"cum".cast("double") / $"i".cast("double"))
      .withColumn("right_mean", ($"total" - $"cum").cast("double") /
        ($"cnt" - $"i").cast("double"))
      .withColumn("score", abs($"left_mean" - $"right_mean"))
    val best = Window.partitionBy($"event_type")
      .orderBy($"score".desc, $"h".asc)
    scored.withColumn("rnk", row_number().over(best))
      .filter($"rnk" === 1)
      .select($"event_type",
              date_format($"h", "yyyy-MM-dd HH:00").as("split_after"),
              $"left_mean", $"right_mean", $"score")
  }

  /** Time-weighted average (TWAP) per series per day — the correct
    * rollup for IRREGULARLY-sampled gauges, where a plain avg
    * over-weights bursts: each sample is held until the next one, so
    * its weight is that holding duration.
    *
    * ALL-INTEGER accumulation: v100 = round(value·100) and Δt in
    * epoch-micros are longs, so Σ(v100·Δt) and ΣΔt are exact and
    * ORDER-INDEPENDENT — no float summation drift, no ordered-fold
    * machinery needed (contrast [[ewma]], whose recurrence forces an
    * ordered fold); the only float op is one final division. One
    * shuffle: the lead() window and the groupBy share the
    * (event_type, day) key, so Catalyst reuses the exchange. */
  def twap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", to_date($"ts").as("day"),
              unix_micros($"ts").as("us"),
              round($"value" * 100, 0).cast("long").as("v100"), $"event_id")
    val w = Window.partitionBy($"event_type", $"day").orderBy($"us", $"event_id")
    ev.withColumn("next_us", lead($"us", 1).over(w))
      .filter($"next_us".isNotNull) // last sample of the day holds nothing
      .groupBy($"event_type", $"day")
      .agg(sum($"v100" * ($"next_us" - $"us")).as("num"),
           sum($"next_us" - $"us").as("den"),
           count(lit(1)).as("n_intervals"))
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
              ($"num".cast("double") / ($"den" * 100L).cast("double"))
                .as("twap"),
              $"den".as("held_us"), $"n_intervals")
  }

  /** M4 downsampling (Jugel et al., VLDB 2014): per series per time
    * bucket keep exactly the first, last, min-value and max-value
    * samples — the four points that make a line chart pixel-identical
    * to the full-resolution series at that bucket width.
    *
    * Unlike LTTB this has NO sequential dependency, so it is pure hash
    * aggregation: four argmin/argmax reductions per (series, bucket),
    * all through [[graft.functions.TopKStructs]] k=1 (map-side
    * combine; a window formulation would sort every bucket). Ties are
    * broken by (ts, event_id) — fully deterministic. Output is one
    * wide row per bucket; at 100 TB the result is #series × #buckets
    * rows regardless of input volume. */
  def m4Downsample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // comparison prefix = ordFields (asc flags per field); trailing
    // p_us/p_v ride as payload (not compared)
    def pick(ordFields: Seq[Column], asc: Seq[Boolean]): Column =
      element_at(topKStructs(
        struct(ordFields ++ Seq($"us".as("p_us"), $"v100".as("p_v")): _*), 1,
        asc), 1)
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", date_trunc("hour", $"ts").as("bucket"),
              unix_micros($"ts").as("us"),
              round($"value" * 100, 0).cast("long").as("v100"), $"event_id")
    ev.groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n_samples"),
           pick(Seq($"us", $"event_id"), Seq(true, true)).as("first_p"),
           pick(Seq($"us", $"event_id"), Seq(false, true)).as("last_p"),
           pick(Seq($"v100", $"us", $"event_id"), Seq(true, true, true)).as("min_p"),
           pick(Seq($"v100", $"us", $"event_id"), Seq(false, true, true))
             .as("max_p"))
      .select($"event_type",
              date_format($"bucket", "yyyy-MM-dd HH:00").as("bucket"),
              $"n_samples",
              $"first_p.p_v".as("first_v"), $"last_p.p_v".as("last_v"),
              $"min_p.p_v".as("min_v"), $"max_p.p_v".as("max_v"),
              $"min_p.p_us".as("min_ts_us"), $"max_p.p_us".as("max_ts_us"))
  }

  /** LTTB downsampling (Largest-Triangle-Three-Buckets, Steinarsson
    * 2013) per (series, day) — the shape-preserving companion to
    * [[m4Downsample]]: endpoints kept, each middle bucket contributes
    * the point forming the largest triangle with the PREVIOUSLY
    * selected point and the next bucket's average.
    *
    * The selection is inherently sequential within a series-day, so it
    * runs as a typed `mapGroups` — the legitimate per-group imperative
    * case (the same per-key-ordered-scan shape the streaming state
    * operators use); the shuffle key is (series, day) and each group
    * is one day of one series, so state is bounded and groups
    * parallelize. ALL-INTEGER areas: x in seconds-within-day, y in
    * v100 centi-units, triangle comparison on |cross product| scaled
    * by the next bucket's size — no float ties, deterministic
    * (earliest point wins equal areas). Emits (series, day, x, v100)
    * for each kept point. */
  def lttb(spark: SparkSession, sfDir: String, nOut: Int = 10): DataFrame = {
    import spark.implicits._
    val pts = Tables.events(spark, sfDir)
      .select($"event_type", date_format(to_date($"ts"), "yyyy-MM-dd").as("day"),
              expr("(unix_micros(ts) div 1000000) % 86400").as("xs"),
              round($"value" * 100, 0).cast("long").as("v100"), $"event_id")
      .as[(String, String, Long, Long, Long)]
    pts.groupByKey { case (et, day, _, _, _) => (et, day) }
      .mapGroups { (key: (String, String),
                    it: Iterator[(String, String, Long, Long, Long)]) =>
        val sorted = it.toArray.sortBy { case (_, _, xs, _, id) => (xs, id) }
          .map { case (_, _, xs, v, _) => (xs, v) }
        (key._1, key._2, lttbSelect(sorted, nOut))
      }
      .toDF("event_type", "day", "pts")
      .select($"event_type", $"day", explode($"pts").as("p"))
      .select($"event_type", $"day", $"p._1".as("x_sec"), $"p._2".as("v100"))
  }

  /** Pure LTTB kernel over (x, y) points sorted by x: returns the kept
    * points. Exact long arithmetic; `2·area·n_next` comparisons. */
  private[telemetry] def lttbSelect(pts: Array[(Long, Long)],
                                    nOut: Int): Array[(Long, Long)] = {
    val n = pts.length
    if (n <= nOut || nOut < 3) return pts
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)](pts(0))
    val nMid = nOut - 2
    // middle points pts(1..n-2) split into nMid equal index buckets
    def bucketRange(b: Int): (Int, Int) = {
      val lo = 1 + ((n - 2).toLong * b / nMid).toInt
      val hi = 1 + ((n - 2).toLong * (b + 1) / nMid).toInt
      (lo, math.min(hi, n - 1))
    }
    var prev = pts(0)
    var b = 0
    while (b < nMid) {
      val (lo, hi) = bucketRange(b)
      if (lo < hi) {
        // next anchor: average of the NEXT bucket (or the last point)
        val (nLo, nHi) = if (b + 1 < nMid) bucketRange(b + 1) else (n - 1, n)
        var sx = 0L; var sy = 0L
        var j = nLo
        while (j < nHi) { sx += pts(j)._1; sy += pts(j)._2; j += 1 }
        val m = (nHi - nLo).toLong
        // maximize |(x_prev·m − sx)(y_c − y_prev) − (x_prev − x_c)(sy − m·y_prev)|
        var best = lo; var bestArea = -1L
        var i = lo
        while (i < hi) {
          val a = (prev._1 * m - sx) * (pts(i)._2 - prev._2) -
            (prev._1 - pts(i)._1) * (sy - m * prev._2)
          val area = math.abs(a)
          if (area > bestArea) { bestArea = area; best = i }
          i += 1
        }
        out += pts(best)
        prev = pts(best)
      }
      b += 1
    }
    out += pts(n - 1)
    out.toArray
  }

  /** Capacity forecasting: fit a per-series linear daily trend and
    * project 30 days out (the SRE "when do we hit the ceiling" query).
    *
    * Slope and intercept are computed from INTEGER co-moment sums
    * (Σx, Σy, Σx², Σxy over day-index × daily-count longs), so the
    * only floating-point steps are the final divisions — bit-exact
    * cross-engine with NO rounding tolerance at all, unlike a direct
    * regr_slope call whose internal accumulation order is
    * implementation-defined. Two chained hash aggs (daily rollup,
    * then per-series moments); everything after the first agg touches
    * #series × #days rows. */
  def capacityForecast(spark: SparkSession, sfDir: String,
                       horizonDays: Int = 30): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type",
               datediff(to_date($"ts"), lit("2024-01-01")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
           sum($"x").as("sx"), sum($"y").as("sy"),
           sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"),
           max($"x").as("xmax"))
      // nullif guard: a single-day series has zero x-variance — slope,
      // intercept and projection degrade to NULL instead of NaN/∞
      .withColumn("slope",
        ($"n_days" * $"sxy" - $"sx" * $"sy").cast("double") /
          nullif(($"n_days" * $"sxx" - $"sx" * $"sx").cast("double"), lit(0.0)))
      .withColumn("intercept",
        ($"sy".cast("double") - $"slope" * $"sx".cast("double")) /
          $"n_days".cast("double"))
      .withColumn("projected",
        $"intercept" + $"slope" * ($"xmax" + horizonDays).cast("double"))
      .select($"event_type", $"n_days", $"slope", $"intercept",
              $"xmax", $"projected")
  }

  /** Downtime accounting: consecutive BAD hours (error share above a
    * threshold) merged into outage episodes — gaps-and-islands over
    * the hourly health rollup, so episode structure emerges without
    * any self-join.
    *
    * The raw stream collapses to #hours rows in one hash agg (the only
    * full-data pass); the episode window runs on that tiny rollup.
    * Badness is an exact integer comparison (errors·denominator vs
    * threshold numerator — no float division in the predicate). */
  def downtime(spark: SparkSession, sfDir: String,
               numBad: Int = 1, denBad: Int = 4): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("h"))
      .agg(count(lit(1)).as("n"),
           sum(when($"event_type" === "error", 1L).otherwise(0L)).as("errs"))
      // bad hour ⇔ errs/n > numBad/denBad, tested in integers
      .filter($"errs" * denBad > $"n" * numBad)
    val seq = Window.orderBy($"h") // post-agg: ≤ #hours rows
    hourly
      .withColumn("anchor", $"h" - row_number().over(seq))
      .groupBy($"anchor")
      .agg(count(lit(1)).as("bad_hours"), min($"h").as("start_h"),
           sum($"errs").as("n_errors"))
      .select(
        date_format(timestamp_seconds($"start_h" * 3600L), "yyyy-MM-dd HH:00")
          .as("episode_start"),
        $"bad_hours", $"n_errors")
  }

  /** Daily new-vs-returning user split: each day's active users divided
    * into first-ever-seen-today vs seen-before (growth-accounting view).
    *
    * Both inputs derive from ONE distinct (user, day) pass: first-seen
    * day is a min-aggregate per user, and the daily split is a
    * conditional count over the activity set joined back to it. The
    * activity distinct, the first-seen agg, and the join all hash on
    * user_id — co-partitioned, one exchange of the reduced set. */
  def newVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val activity = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("day"))
      .distinct()
    val firstSeen = activity.groupBy($"user_id")
      .agg(min($"day").as("first_day"))
    activity.join(firstSeen, Seq("user_id"))
      .groupBy($"day")
      .agg(sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("new_users"),
           sum(when($"day" =!= $"first_day", 1L).otherwise(0L))
             .as("returning_users"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
              $"new_users", $"returning_users",
              ($"new_users" + $"returning_users").as("active_users"))
  }

  /** DDSketch per event_type (Masson et al., "DDSketch: A Fast and
    * Fully-Mergeable Quantile Sketch with Relative-Error Guarantees",
    * VLDB'19): log-γ bucket counts with the paper's two defining
    * properties — a RELATIVE-error quantile guarantee (every estimate
    * within (γ−1)/(γ+1) of the true value, unlike t-digest/GK's rank
    * error) and bounded memory via LOWEST-BUCKET COLLAPSE (at most `m`
    * buckets survive; all lower mass folds into the m-th-highest
    * bucket, preserving the guarantee for upper quantiles — the ones
    * telemetry latency SLOs read).
    *
    * Engine-exactness: γ = √2 so the bucket index is INTEGER math, no
    * libm — `i = ⌈log_γ v⌉ = ⌈log2 v²⌉ = bits(v²−1)` on the centi-unit
    * grid `v100 = round(100·value)` (same grid as [[expHistogram]]);
    * v100 ≤ ~5e4 keeps v100² well inside int64. The quantile estimate
    * `2γ^i/(γ+1)` is evaluated as `2·sqrt(2^i)/(1+sqrt 2)` — integer
    * pow, then sqrt/add/div are all IEEE correctly-rounded, so the
    * doubles reproduce bit-for-bit in DuckDB (no pow(x, 0.5) libm
    * divergence). The √2 grid is coarse (α ≈ 17%) by design: the
    * structure (log buckets, collapse, merge, quantile read-out) is
    * the operator; DdsketchSpec asserts the α bound against exact
    * percentiles and shard-merge associativity.
    *
    * Scale shape: the only full-data pass is the (event_type, idx)
    * hash agg — map-side combined, at most ~64 buckets per key ever
    * reach the exchange (the sketch IS the shuffle payload, the
    * mergeability DDSketch exists for). Collapse, cumulative scan and
    * quantile read-out run on ≤ keys×64 rows; every window is
    * partitioned and post-agg (hygiene rule). */
  def ddsketch(spark: SparkSession, sfDir: String, m: Int = 12): DataFrame = {
    import spark.implicits._
    val b = Tables.events(spark, sfDir)
      .filter($"value" > 0)
      .withColumn("v100", greatest(round($"value" * 100, 0).cast("long"), lit(1L)))
      // squared-bits index wraps int64 past v100 ≈ 3.04e9 — fail loud
      // (clear error, not a silent bucket-64) outside the guarded grid;
      // the native ddsketch_agg computes the index without squaring and
      // covers the full int64 grid
      .withColumn("idx", when($"v100" > lit(3037000499L),
          raise_error(concat(lit("ddsketch: v100 "), $"v100",
            lit(" overflows the squared-bits bucket index; use ddsketch_agg or rescale")))
            .cast("long"))
        .when($"v100" === 1, lit(0L))
        .otherwise(length(bin($"v100" * $"v100" - 1)).cast("long")))
      .groupBy($"event_type", $"idx").agg(count(lit(1)).as("c"))
    val wKey = Window.partitionBy($"event_type")
    val wDesc = Window.partitionBy($"event_type").orderBy($"idx".desc)
    val collapsed = b
      .withColumn("rk", row_number().over(wDesc))
      .withColumn("cutoff", min(when($"rk" <= m, $"idx")).over(wKey))
      .withColumn("n_buckets_raw", count(lit(1)).over(wKey))
      .withColumn("collapsed_n",
        sum(when($"rk" > m, $"c").otherwise(lit(0L))).over(wKey))
      .groupBy($"event_type", greatest($"idx", $"cutoff").as("kidx"))
      .agg(sum($"c").as("c"),
           max($"n_buckets_raw").as("n_buckets_raw"),
           max($"collapsed_n").as("collapsed_n"))
    val cumW = Window.partitionBy($"event_type").orderBy($"kidx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = collapsed
      .withColumn("n", sum($"c").over(wKey))
      .withColumn("cum", sum($"c").over(cumW))
    // bucket-midpoint read-out 2γ^i/(γ+1), γ=√2 — correctly-rounded ops only
    def est(rank: Column): Column =
      min(when($"cum" >= rank && $"cum" - $"c" < rank,
        round(lit(2) * sqrt(pow(lit(2.0), $"kidx".cast("double"))) /
          (lit(1) + sqrt(lit(2.0))) / 100, 4)))
    cum.groupBy($"event_type")
      .agg(max($"n").as("n"),
           max($"n_buckets_raw").as("n_buckets_raw"),
           count(lit(1)).as("n_buckets_kept"),
           max($"collapsed_n").as("collapsed_n"),
           est(ceil(lit(0.50) * $"n")).as("p50_est"),
           est(ceil(lit(0.95) * $"n")).as("p95_est"),
           est(ceil(lit(0.99) * $"n")).as("p99_est"),
           max($"kidx").as("max_idx"))
  }

  /** [[ddsketch]] through the native `ddsketch_agg`
    * [[graft.functions.DdsketchAgg]] aggregate — identical output, ONE
    * aggregation pass: the TypedImperativeAggregate's buffer IS the
    * bucket map (≤ ~64 longs), partial-merged map-side, so the shuffle
    * carries one map per (task, key) and the collapse/read-out happens
    * in `eval` — no post-agg window phase at all. Hash-checks against
    * the SAME DuckDB oracle as the relational twin: the strongest
    * correctness statement available for a custom Catalyst aggregate
    * (both its update AND merge paths must be exact to match). */
  def ddsketchNative(spark: SparkSession, sfDir: String, m: Int = 12): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"value" > 0)
      .groupBy($"event_type")
      .agg(ddsketchAgg($"value", m).as("sk"))
      .select($"event_type", $"sk.n".as("n"),
        $"sk.n_buckets_raw".as("n_buckets_raw"),
        $"sk.n_buckets_kept".as("n_buckets_kept"),
        $"sk.collapsed_n".as("collapsed_n"),
        $"sk.p50_est".as("p50_est"), $"sk.p95_est".as("p95_est"),
        $"sk.p99_est".as("p99_est"), $"sk.max_idx".as("max_idx"))
  }

  /** Population-Stability-Index drift detection per event_type — the
    * standard model/data-monitoring statistic: split the stream at the
    * temporal midpoint into a REFERENCE and a CURRENT half, histogram
    * `value` on the same integer-exact log-√2 grid as [[ddsketch]]
    * (binned-PSI composes with the sketch the pipeline already keeps),
    * and score `PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i)` with Laplace
    * (+1 / +B) smoothing so empty bins are defined. PSI ≥ 0.2 is the
    * conventional "significant shift" alarm.
    *
    * Engine-exactness: the midpoint is integer-micros arithmetic
    * (`lo + (hi−lo) div 2`); bin counts are integers; each bin's term
    * is quantized to integer micro-units — the ln of one
    * exactly-computed integer ratio, ln-rounded to 4 decimals (the
    * bigram-surprisal discipline), times an IEEE-exact probability
    * difference, rounded once — so the per-key PSI is an INTEGER sum,
    * immune to float summation order. (The smoothed cross-products
    * `(c+1)·(n+B)` stay far inside int64 here; a 100 TB deployment
    * feeds per-shard bin counts, not raw rows, into this — the counts
    * that reach the ratio are already sketch-sized.)
    *
    * Scale shape: the min/max time bounds are a 1-row broadcast; the
    * (event_type, bin, half) hash agg is map-side combined — at most
    * keys×64×2 rows ever shuffle; everything after is sketch-sized. */
  def psiDrift(spark: SparkSession, sfDir: String,
               alarm: Double = 0.2): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).filter($"value" > 0)
      .select($"event_type", unix_micros($"ts").as("us"),
        greatest(round($"value" * 100, 0).cast("long"), lit(1L)).as("v100"))
    val bounds = ev.agg(min($"us").as("lo"), max($"us").as("hi"))
    val binned = ev.crossJoin(broadcast(bounds))
      .select($"event_type",
        when($"v100" > lit(3037000499L),
          raise_error(concat(lit("psi_drift: v100 "), $"v100",
            lit(" overflows the squared-bits bucket index; rescale the series")))
            .cast("long"))
          .when($"v100" === 1, lit(0L))
          .otherwise(length(bin($"v100" * $"v100" - 1)).cast("long")).as("idx"),
        when($"us" < $"lo" + expr("(hi - lo) div 2"), lit(0))
          .otherwise(lit(1)).as("half"))
      .groupBy($"event_type", $"idx")
      .agg(sum(when($"half" === 0, 1L).otherwise(0L)).as("c_ref"),
           sum(when($"half" === 1, 1L).otherwise(0L)).as("c_cur"))
    val wKey = Window.partitionBy($"event_type")
    val terms = binned
      .withColumn("n_ref", sum($"c_ref").over(wKey))
      .withColumn("n_cur", sum($"c_cur").over(wKey))
      .withColumn("nb", count(lit(1)).over(wKey))
      .withColumn("lnr", round(log(
        (($"c_ref" + 1) * ($"n_cur" + $"nb")).cast("double") /
        (($"c_cur" + 1) * ($"n_ref" + $"nb")).cast("double")), 4))
      .withColumn("pdiff",
        ($"c_ref" + 1).cast("double") / ($"n_ref" + $"nb").cast("double") -
        ($"c_cur" + 1).cast("double") / ($"n_cur" + $"nb").cast("double"))
      .withColumn("term_micro",
        round(lit(1e6) * $"pdiff" * $"lnr", 0).cast("long"))
    terms.groupBy($"event_type")
      .agg(max($"n_ref").as("n_ref"), max($"n_cur").as("n_cur"),
           count(lit(1)).as("n_bins"),
           // raw exact division — a micro-sum ending in ...50 is a
           // decimal tie where Spark/DuckDB display-rounds diverge
           (sum($"term_micro").cast("double") / 1e6).as("psi"))
      .withColumn("drifted", $"psi" >= alarm)
  }

  /** Out-of-sample BACKTEST of the seasonal-naive forecast — the
    * evaluation loop every production forecaster publishes before
    * anyone trusts [[holtWinters]]-style models: train on the first
    * half of the hourly grid (hour-of-day mean counts — the
    * seasonal-naive baseline), predict the second half, report
    * MAE/RMSE per series against the held-out actuals. A model that
    * can't beat this row isn't worth deploying.
    *
    * Engine-exactness: the grid and split are integer hours; the
    * per-hod prediction is one integer division rounded to micro
    * units; every error is an integer |y·1e6 − pred_micro|; MAE/RMSE
    * are integer sums through one or two final IEEE ops — bit-exact,
    * no display rounding.
    *
    * Scale shape: one map-side-combined hourly count; the grid is
    * retention-bounded; train profile is keys×24 rows joined
    * broadcast. */
  def seasonalBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("y"))
    val grid = hourly.groupBy($"event_type")
      .agg(min($"h").as("h0"), max($"h").as("h1"))
      .select($"event_type", unix_micros($"h0").as("us0"),
        explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("h"))
    val dense = grid.join(hourly, Seq("event_type", "h"), "left")
      .select($"event_type", $"h", $"us0",
        coalesce($"y", lit(0L)).as("y"),
        expr("(unix_micros(h) - us0) div 3600000000").as("hr_idx"))
    val wKey = Window.partitionBy($"event_type")
    val split = dense
      .withColumn("n_hours", count(lit(1)).over(wKey))
      .withColumn("is_train", $"hr_idx" < expr("n_hours div 2"))
      .withColumn("hod", hour($"h"))
    val profile = split.filter($"is_train")
      .groupBy($"event_type", $"hod")
      .agg(round(lit(1e6) * sum($"y") / count(lit(1)), 0)
        .cast("long").as("pred_micro"))
    split.filter(!$"is_train")
      .join(broadcast(profile), Seq("event_type", "hod"))
      .withColumn("err_micro",
        abs($"y" * lit(1000000L) - $"pred_micro"))
      // rmse squares on the milli grid (integer div — deterministic,
      // mirrored in the oracle) to keep Σerr² far inside int64
      .withColumn("err_milli", expr("err_micro div 1000"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_test_hours"),
        (sum($"err_micro").cast("double") / count(lit(1)) / 1e6).as("mae"),
        sqrt(sum($"err_milli" * $"err_milli").cast("double") /
          count(lit(1))).as("rmse_milli"),
        (sum($"y").cast("double") / count(lit(1))).as("mean_actual"))
      .withColumn("rmse", $"rmse_milli" / 1e3)
      .select($"event_type", $"n_test_hours", $"mae", $"rmse",
        $"mean_actual")
  }

  /** Top user-journey paths — the Sankey/flow view product analytics
    * builds from raw events: each user's first `pathLen` events (by
    * time, event_id tie-break) joined into an ordered path string,
    * then the `topK` most common paths with their user counts. The
    * per-user window partitions on user_id (high cardinality), the
    * path agg is map-side combined, and the final ranking is
    * `orderBy().limit()` — TakeOrderedAndProject, never a global
    * window (the triangle lesson). */
  def topPaths(spark: SparkSession, sfDir: String,
               pathLen: Int = 5, topK: Int = 20): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= pathLen)
      .groupBy($"user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"rn", $"event_type"))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_users"))
      .orderBy($"n_users".desc, $"path".asc)
      .limit(topK)
      .withColumn("rnk", row_number().over(
        Window.orderBy($"n_users".desc, $"path".asc)).cast("long"))
  }

  /** k-anonymity risk report over the quasi-identifier tuple
    * (event_type, weekday, value decade-bucket) — the privacy
    * audit run before any release ([[dpCounts]] is the mechanism;
    * this is the exposure measurement): a row whose quasi-identifier
    * combination matches fewer than k rows is re-identifiable by
    * linkage (Sweeney, k-anonymity). Reports, per event_type: group
    * count, small (<k) group count, and rows at risk.
    *
    * One map-side-combined hash agg to the tuple counts, then a
    * keys-sized conditional rollup — all integers. */
  def kAnon(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type", dayofweek($"ts").cast("long").as("weekday"),
        (floor($"value" / 10) * 10).cast("long").as("value_bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_groups"),
        sum(when($"c" < k, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when($"c" < k, $"c").otherwise(0L)).as("rows_at_risk"),
        sum($"c").as("n_rows"))
      .withColumn("k", lit(k.toLong))
      .withColumn("anonymous", $"n_small_groups" === 0L)
  }

  /** Differentially-private count release per (event_type, day) — the
    * Dwork et al. Laplace mechanism with ε=1 (counting queries have
    * L1-sensitivity 1, so b = 1/ε = 1): `released = n + Lap(1)`. The
    * noise is DERANDOMIZED for engine-exactness — the uniform draw is
    * the md5 hash of the release coordinate mapped through the exact
    * Laplace inverse CDF (`u<½ → ln 2u ; u≥½ → −ln 2(1−u)`), which
    * keeps the pipeline (grouped counts → per-cell noise → release)
    * byte-reproducible and oracle-checkable; a production deployment
    * swaps the hash for a CSPRNG draw — the mechanism's shape, scale
    * calibration and release schema are the operator.
    *
    * Exactness: `2u = h/2⁵⁹` and `2(1−u) = (2⁶⁰−h)/2⁵⁹` are each ONE
    * exact division of integers; the ln is round-4 quantized (the
    * bigram discipline); the release is one double add. The true `n`
    * and the noise ride along so the fixture documents calibration —
    * a real release would publish `released` alone.
    *
    * Scale shape: one map-side-combined (type, day) count; noise is a
    * narrow per-row expression. */
  def dpCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val half = 576460752303423488L // 2^59
    val full = 1152921504606846976L // 2^60
    Tables.events(spark, sfDir)
      .groupBy($"event_type",
        date_format(to_date($"ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("h", greatest(
        conv(substring(md5(concat(lit("dp:"), $"event_type", lit(":"),
          $"day")), 1, 15), 16, 10).cast("long"), lit(1L)))
      .withColumn("noise",
        when($"h" < half,
          round(log($"h".cast("double") / half.toDouble), 4))
        .otherwise(
          -round(log((lit(full) - $"h").cast("double") / half.toDouble), 4)))
      .select($"event_type", $"day", $"n", $"noise",
        ($"n" + $"noise").as("released"), lit(1.0).as("epsilon"))
  }

  /** KMV/theta-sketch audience overlap for every event_type pair — the
    * sketch SET-OPERATION family (union/intersection estimates) that
    * HLL cannot provide (HLL unions but never intersects): each type's
    * audience is summarized by its k smallest 60-bit user hashes
    * (k=64 — sized BELOW the fixture's 150-user audiences so the θ<1
    * estimation path genuinely runs; production would use 2¹²⁺),
    * the pair's union sketch is the k smallest of the merged
    * hash sets, θ = (k-th min)/2⁶⁰, and the intersection estimate is
    * `|{h < θ·2⁶⁰ present in BOTH sketches}| / θ` — the Theta-sketch
    * estimator (Dasgupta et al., "Theta-Sketch Framework", 2016).
    * Exact overlap rides along so the row itself documents the error.
    *
    * Engine-exactness: hashes are md5-prefix integers; sketches are
    * rank-≤-k windows; the only float math is `θ = kth/2⁶⁰` (exact
    * power-of-two scaling) and one division — bit-exact, no rounding.
    *
    * Scale shape: per-type sketches are rank-k windows over the
    * DISTINCT (type, user) set (the one full-data pass); everything
    * pairwise runs on ≤ types²·k sketch rows. At 100 TB the sketch
    * build is the map-side-combined distinct; pair analytics are
    * driver-scale. The exact-overlap column is the expensive truth —
    * a production run drops it and keeps only the estimate. */
  def kmvOverlap(spark: SparkSession, sfDir: String,
                 k: Int = 64): DataFrame = {
    import spark.implicits._
    val tu = Tables.events(spark, sfDir)
      .select($"event_type", $"user_id").distinct()
      .withColumn("h",
        conv(substring(md5($"user_id".cast("string")), 1, 15), 16, 10)
          .cast("long"))
    val sk = tu
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"h", $"user_id")))
      .filter($"rk" <= k)
      .select($"event_type", $"h")
    val types = tu.select($"event_type").distinct()
    val pairs = types.select($"event_type".as("ta"))
      .join(types.select($"event_type".as("tb")), $"ta" < $"tb")
    val tagged = pairs.join(sk, $"event_type" === $"ta")
      .select($"ta", $"tb", $"h", lit(1).as("in_a"), lit(0).as("in_b"))
      .unionByName(pairs.join(sk, $"event_type" === $"tb")
        .select($"ta", $"tb", $"h", lit(0).as("in_a"), lit(1).as("in_b")))
      .groupBy($"ta", $"tb", $"h")
      .agg(max($"in_a").as("in_a"), max($"in_b").as("in_b"))
    val wPair = Window.partitionBy($"ta", $"tb").orderBy($"h")
    val union = tagged
      .withColumn("rn", row_number().over(wPair))
      .filter($"rn" <= k)
      .withColumn("n_union", count(lit(1)).over(Window.partitionBy($"ta", $"tb")))
      .withColumn("kth", max($"h").over(Window.partitionBy($"ta", $"tb")))
    val est = union
      .groupBy($"ta", $"tb")
      .agg(max($"n_union").as("n_union"), max($"kth").as("kth"),
        sum(when($"in_a" === 1 && $"in_b" === 1 &&
          ($"n_union" < k || $"h" < $"kth"), 1L).otherwise(0L))
          .as("both_below"))
      .withColumn("kmv_est",
        when($"n_union" < k, $"both_below".cast("double"))
          .otherwise($"both_below".cast("double") /
            ($"kth".cast("double") / lit(1152921504606846976L).cast("double"))))
    val exact = tu.select($"event_type".as("ta"), $"user_id")
      .join(tu.select($"event_type".as("tb"), $"user_id"), Seq("user_id"))
      .filter($"ta" < $"tb")
      .groupBy($"ta", $"tb").agg(count(lit(1)).as("exact_overlap"))
    val sizes = tu.groupBy($"event_type").agg(count(lit(1)).as("n"))
    est.join(exact, Seq("ta", "tb"))
      .join(sizes.select($"event_type".as("ta"), $"n".as("n_a")), Seq("ta"))
      .join(sizes.select($"event_type".as("tb"), $"n".as("n_b")), Seq("tb"))
      .select($"ta".as("type_a"), $"tb".as("type_b"), $"n_a", $"n_b",
        $"exact_overlap", $"kmv_est")
  }

  /** Deterministic A/B experiment read-out per event_type — the
    * product-analytics workhorse: users hash-split into two arms
    * (md5 % 2 — the stable bucketing every experimentation platform
    * uses so a user keeps their arm across sessions), then Welch's
    * unequal-variance t-test on the mean `value`: t statistic,
    * Welch–Satterthwaite degrees of freedom, |t| > 1.96 significance
    * gate.
    *
    * Engine-exactness: per-arm (n, Σv100, Σv100²) are INTEGER
    * conditional aggregates on the centi-unit grid; every derived
    * statistic is a fixed sequence of correctly-rounded IEEE ops
    * (cast, multiply, subtract, divide, sqrt) written identically in
    * the DuckDB oracle — bit-for-bit, no display rounding needed.
    * Σv100² is accumulated IN DOUBLE per row (cast before the multiply,
    * so nothing ever wraps): each term is an integer-valued double,
    * exact while v100 < 2²⁶, and the running sum stays exact (hence
    * merge-order-independent) until it crosses 2⁵³ — past that it
    * degrades to correctly-rounded, never to int64 wraparound, which is
    * the failure mode a long accumulator would hit silently around 10⁹
    * rows per key.
    *
    * Scale shape: ONE map-side-combined hash agg of 6 integer columns
    * per event_type — the t-test itself touches keys×1 rows. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.events(spark, sfDir)
      .select($"event_type",
        (conv(substring(md5($"user_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 2).as("arm"),
        greatest(round($"value" * 100, 0).cast("long"), lit(1L)).as("v100"))
      .groupBy($"event_type")
      .agg(sum(when($"arm" === 0, 1L).otherwise(0L)).as("n_a"),
           sum(when($"arm" === 1, 1L).otherwise(0L)).as("n_b"),
           sum(when($"arm" === 0, $"v100").otherwise(0L)).as("s_a"),
           sum(when($"arm" === 1, $"v100").otherwise(0L)).as("s_b"),
           sum(when($"arm" === 0,
             $"v100".cast("double") * $"v100".cast("double"))
             .otherwise(lit(0.0))).as("q_a"),
           sum(when($"arm" === 1,
             $"v100".cast("double") * $"v100".cast("double"))
             .otherwise(lit(0.0))).as("q_b"))
    val va = ($"q_a" - $"s_a".cast("double") * $"s_a".cast("double") / $"n_a") /
      ($"n_a" - 1)
    val vb = ($"q_b" - $"s_b".cast("double") * $"s_b".cast("double") / $"n_b") /
      ($"n_b" - 1)
    g.withColumn("mean_a", $"s_a".cast("double") / $"n_a" / 100)
      .withColumn("mean_b", $"s_b".cast("double") / $"n_b" / 100)
      .withColumn("var_term", va / $"n_a" + vb / $"n_b")
      .withColumn("t_stat",
        (($"s_a".cast("double") / $"n_a" - $"s_b".cast("double") / $"n_b")) /
          sqrt($"var_term"))
      .withColumn("df_welch",
        $"var_term" * $"var_term" /
          ((va / $"n_a") * (va / $"n_a") / ($"n_a" - 1) +
           (vb / $"n_b") * (vb / $"n_b") / ($"n_b" - 1)))
      .withColumn("significant", abs($"t_stat") > 1.96)
      .select($"event_type", $"n_a", $"n_b", $"mean_a", $"mean_b",
        ($"mean_a" - $"mean_b").as("mean_diff"), $"t_stat", $"df_welch",
        $"significant")
  }

  /** Classical additive seasonal decomposition of the hourly event-count
    * series per event_type — `y = trend + seasonal + residual`, the
    * statsmodels `seasonal_decompose(model='additive', period=24)`
    * shape every capacity/anomaly stack builds on: trend is a centered
    * 25-hour moving average on the GAP-FILLED grid (missing hours count
    * 0 — a rows frame is only time-correct on a dense grid), seasonal
    * is the hour-of-day mean of the detrended series, residual is the
    * leftover. Interior hours only (full ±12h trend window).
    *
    * Engine-exactness: counts are integers, so the whole decomposition
    * runs in 25ths — `detr25 = 25·y − Σ₂₅y` is an INTEGER, micro-scaled
    * by the exact factor 40000 (= 1e6/25); the seasonal mean is one
    * integer division rounded once; the residual is an integer
    * subtraction. Only the three display columns divide back to unit
    * scale (one exact IEEE division + 4-decimal round each) — the same
    * no-float-accumulation discipline as [[holtWinters]].
    *
    * Scale shape: the full-data pass is the (event_type, hour) count —
    * map-side combined; the grid is bounded by retention hours × keys,
    * not event volume, and every window partitions by event_type over
    * that bounded grid (hygiene rule: post-agg input). */
  def seasonal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, sfDir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("y"))
    val grid = hourly.groupBy($"event_type")
      .agg(min($"h").as("h0"), max($"h").as("h1"))
      .select($"event_type",
        explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("h"))
    val dense = grid.join(hourly, Seq("event_type", "h"), "left")
      .select($"event_type", $"h", coalesce($"y", lit(0L)).as("y"))
    val w25 = Window.partitionBy($"event_type").orderBy($"h")
      .rowsBetween(-12, 12)
    val trended = dense
      .withColumn("sum25", sum($"y").over(w25))
      .withColumn("cnt25", count(lit(1)).over(w25))
      .filter($"cnt25" === 25)
      .withColumn("detr_micro", lit(40000L) * (lit(25L) * $"y" - $"sum25"))
      .withColumn("hod", hour($"h"))
    val seasonalMean = trended
      .groupBy($"event_type", $"hod")
      .agg(round(sum($"detr_micro").cast("double") / count(lit(1)), 0)
        .cast("long").as("s_micro"))
    trended
      .join(broadcast(seasonalMean), Seq("event_type", "hod"))
      // raw exact divisions, NOT display-rounded: s_micro can land on a
      // ...50 micro tie where Spark's string-based round and DuckDB's
      // binary round diverge; each division is one correctly-rounded
      // IEEE op, bit-identical across engines
      .select($"event_type",
        date_format($"h", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"y",
        ($"sum25".cast("double") / 25).as("trend"),
        ($"s_micro".cast("double") / 1e6).as("seasonal"),
        (($"detr_micro" - $"s_micro").cast("double") / 1e6).as("residual"))
  }
}
